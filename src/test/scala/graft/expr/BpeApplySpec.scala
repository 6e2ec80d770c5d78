package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.text.TextOps

/** Pins [[BpeSegmentNative]] to the chained-HOF fold form it replaced
  * ([[bpeSegmentFolds]]) on trained and crafted rank-consistent merge
  * tables, and codegen to interpreted. */
class BpeApplySpec extends SparkSpec {
  import spark.implicits._

  /** The fold form: one chained HOF pass per merge, in table order. Equal to the
    * native segmenter on every rank-consistent table; the reference for arbitrary
    * hand-built ones. */
  private def bpeSegmentFolds(text: Column, merges: Seq[(String, String)],
                              endOfWord: String = "</w>"): Column = {
    val initial = transform(TextOps.tokens(lower(text)),
      w => concat(split(w, ""), array(lit(endOfWord))))
    val perWord = merges.foldLeft(initial) { case (arr, (a, b)) =>
      transform(arr, syms => aggregate(syms,
        array().cast("array<string>"),
        (acc, s) => when(
          size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s)))))
    }
    flatten(perWord)
  }

  test("native segmenter == chained HOF folds on a trained merge table") {
    val corpus = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++ Seq.fill(4)("banana"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val merges = TextOps.bpeTrain(corpus, "text", nMerges = 12)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    val docs = Seq(
      (1L, "newest low lowering bananas"),
      (2L, "LOWEST Newest"), // case folding
      (3L, "   spaced   out  "), // tokens() trim/split parity
      (4L, "ban ana nan")).toDF("id", "text")
    val cmp = docs
      .withColumn("n", TextOps.bpeSegment(col("text"), merges))
      .withColumn("h", bpeSegmentFolds(col("text"), merges))
    assert(cmp.filter(not(col("n") <=> col("h"))).count() == 0)
    // spot-pin the classic segmentation
    val seg = docs.filter(col("id") === 1L)
      .select(TextOps.bpeSegment(col("text"), merges).as("s"))
      .as[Seq[String]].head()
    // 12 trained merges fully fuse the frequent words
    assert(seg.take(2) == Seq("newest</w>", "low</w>"), seg.toString)
  }

  test("rank priority matches rank order when later merges build on earlier ones") {
    // crafted rank-consistent chain: (a,b)->ab, (ab,c)->abc, (abc,</w>)
    val merges = Seq(("a", "b"), ("ab", "c"), ("abc", "</w>"), ("d", "d"))
    val docs = Seq((1L, "abc abcd dddd cab")).toDF("id", "text")
    val n = docs.select(TextOps.bpeSegment(col("text"), merges).as("s"))
      .as[Seq[String]].head()
    val h = docs.select(bpeSegmentFolds(col("text"), merges).as("s"))
      .as[Seq[String]].head()
    assert(n == h)
    assert(n == Seq("abc</w>", "abc", "d", "</w>", "dd", "dd", "</w>",
      "c", "ab", "</w>"), n.toString)
  }

  test("empty merge table and empty text degenerate cleanly") {
    val docs = Seq((1L, "hi"), (2L, ""), (3L, "   ")).toDF("id", "text")
    val out = docs.select(col("id"),
      TextOps.bpeSegment(col("text"), Seq.empty).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("h", "i", "</w>"))
    assert(out(2L) == Seq.empty && out(3L) == Seq.empty)
  }

  test("codegen and interpreted paths agree") {
    val merges = Seq(("e", "s"), ("es", "t"))
    val df = Seq((1L, "nests test")).toDF("id", "text")
    def vals() = df.select(TextOps.bpeSegment(col("text"), merges))
      .as[Seq[String]].head()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val i = vals()
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    val g = vals()
    assert(i == g)
  }
}
