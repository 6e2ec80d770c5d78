package graft


/** One-off scaling measurement for the batched BPE trainer (SCALE.md's t16
  * row): times `bpeTrain` at a production-ish merge budget for a given batch
  * size. Usage: runMain graft.BenchBpe <sfDir> <nMerges> <batch>. */
object BenchBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val nMerges = args(1).toInt; val batch = args(2).toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val t0 = System.nanoTime()
    val m = graft.text.TextOps.bpeTrain(docs, "text", nMerges, batch = batch)
    val n = m.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"op":"bpeTrain","nMerges":$nMerges,"batch":$batch,"learned":$n,"sec":$sec%.2f}""")
  }
}
