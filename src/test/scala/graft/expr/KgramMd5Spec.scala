package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.DedupOps
import graft.text.TextOps

/** Pins [[KgramMd5]] to the slice/concat_ws/md5 HOF chain it replaced, codegen to
  * interpreted, and the dedup shingle hashes built on it to the per-shingle md5
  * chain they replaced. */
class KgramMd5Spec extends SparkSpec {
  import spark.implicits._

  private def hofGrams(toks: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column = {
    // the pre-r8 kgramHashes formulation (over an already-tokenized column)
    val grams = when(size(toks) < k, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - k + 1),
        i => concat_ws(" ", slice(toks, i, lit(k)))))
    transform(grams, g => Md5Hash60.expr(g))
  }

  test("bit-identical to the HOF formulation across sizes and null tokens") {
    val rng = new scala.util.Random(29)
    val words = "alpha beta gamma delta epsilon zeta".split(" ")
    val rows: Seq[(Long, Seq[String])] =
      (1 to 60).map { i =>
        (i.toLong, Seq.fill(rng.nextInt(30))(words(rng.nextInt(words.length))))
      } ++ Seq(
        (101L, Seq.empty[String]),                 // empty -> md5("") single gram
        (102L, Seq("solo")),                       // n < k
        (103L, Seq("a", null, "b", "c", null, "d", "e"))) // concat_ws null-skip
    for (k <- Seq(1, 3, 5, 20)) {
      val df = rows.toDF("id", "toks")
        .withColumn("native", KgramMd5.expr(col("toks"), k))
        .withColumn("hof", hofGrams(col("toks"), k))
      val diff = df.filter(not(col("native") <=> col("hof")))
      assert(diff.count() == 0,
        s"k=$k mismatch: ${diff.select("id").collect().mkString(", ")}")
    }
  }

  test("codegen and interpreted paths agree") {
    val df = Seq((1L, Seq("x", "y", "z", "w"))).toDF("id", "toks")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val i = df.select(KgramMd5.expr(col("toks"), 2)).collect().head.getSeq[Long](0)
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    val g = df.select(KgramMd5.expr(col("toks"), 2)).collect().head.getSeq[Long](0)
    assert(i == g)
  }

  // the per-shingle chain DedupOps.hashedShingles (h32) and contaminationScore
  // (60-bit) used before they hashed through the kernel
  private def chain60(text: org.apache.spark.sql.Column, n: Int) =
    transform(DedupOps.shingles(text, n), s => DedupOps.shingleHash(s))
  private def chain32(text: org.apache.spark.sql.Column, n: Int) =
    array_distinct(transform(chain60(text, n), h => pmod(h, lit(1L << 32))))

  test("shingle hashes through the kernel equal the per-shingle md5 chain, as sets") {
    val df = Seq(
      1L -> "two words",                           // fewer tokens than n
      2L -> "",                                    // empty
      3L -> "   \t \n  ",                          // whitespace only
      4L -> "a b c a b c a b c a b",               // repeated shingles
      5L -> "The Quick brown FOX the quick BROWN fox jumps",  // mixed case
      6L -> "Ça et là Über straße naïve 東京 東京 東京 😀 café",  // non-ASCII
      7L -> "alpha beta gamma delta epsilon zeta eta theta iota").toDF("id", "text")
    for (n <- Seq(1, 3, 5)) {
      val rows = df.select(col("id"),
        DedupOps.hashedShingles(col("text"), n), chain32(col("text"), n),
        array_distinct(TextOps.kgramHashes(col("text"), n)), chain60(col("text"), n))
        .collect()
      for (r <- rows) {
        val Seq(h32, c32, h60, c60) = (1 to 4).map(r.getSeq[Long](_))
        assert(h32.toSet == c32.toSet && h32.size == h32.toSet.size, s"n=$n id=${r.get(0)}")
        assert(h60.toSet == c60.toSet && h60.size == c60.size, s"n=$n id=${r.get(0)}")
      }
    }
  }

  test("null text hashes to null; legacy sizeOfNull no longer makes it one \"\" shingle") {
    val df = Seq((1L, null: String)).toDF("id", "text")
    def hashes() = df.select(DedupOps.hashedShingles(col("text"), 3), chain32(col("text"), 3))
      .head()
    val r = hashes()
    assert(r.isNullAt(0) && r.isNullAt(1))
    // under the legacy size(null) = -1 the old chain took the short-text branch
    // and hashed "" — every null document was a near-duplicate of every other
    spark.conf.set("spark.sql.legacy.sizeOfNull", "true")
    try {
      val l = hashes()
      assert(l.isNullAt(0))
      val empty = Seq("").toDF("s").select(pmod(DedupOps.shingleHash(col("s")), lit(1L << 32)))
        .head().getLong(0)
      assert(l.getSeq[Long](1) == Seq(empty))
    } finally spark.conf.set("spark.sql.legacy.sizeOfNull", "false")
  }
}
