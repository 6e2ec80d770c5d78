package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The HOF-fold forms of [[AnnOps.ivfAssign]] and [[AnnOps.pqEncode]] that the
  * native expressions replaced, kept as their parity references (PqNativeSpec), and
  * the PQ decode that checks [[AnnOps.pqEncode]]'s codes (DedupAnnSpec). */
object AnnHofReference {

  def ivfAssignHof(vec: Column, centroids: Seq[Seq[Double]]): Column = {
    // Centroids ride as ONE nested-array literal and the argmax is an HOF fold:
    // the expression tree is O(1) in k, not O(k*dim) unrolled terms — k*dim unrolled
    // blows past the 64 KB codegen method limit for realistic (k, dim) and drops the
    // whole stage to interpreted mode. Ties go to the HIGHER cid (>=, matching the
    // lexicographic `greatest` this replaces and the e6/e8 oracles' `cid DESC`).
    // Seed with centroid 0's ACTUAL score, not a (-Inf, -1) sentinel: with a sentinel
    // seed, a vector whose every cosine is NULL (null element / length mismatch)
    // keeps cid = -1, which downstream index lookups (ivfPqTopK's
    // element_at(lut, code+1)) turn into an index-0 error; seeding with index 0
    // makes null-cosine inputs land deterministically in cell 0. A NaN-component
    // vector is different: Spark comparisons rank NaN LARGEST (`NaN >= x` is
    // true), so every candidate replaces the seed and all-NaN vectors land in
    // cell k-1 — still a valid cell (PqNativeSpec pins both contracts).
    // The seed score is nanvl-guarded: a NaN centroid 0 (degenerate training input)
    // would otherwise win every `cos >= best.cos` comparison under NaN-largest
    // ordering against finite candidates on the STRUCT field path; -Inf lets any
    // finite centroid win.
    val cb = typedlit(centroids)
    if (centroids.size == 1) lit(0).cast("int")
    else {
      val seed0 = struct(
        nanvl(AnnOps.cosine(vec, element_at(cb, 1)), lit(Double.NegativeInfinity)).as("cos"),
        lit(0).cast("int").as("cid"))
      // sequence(1, k-1) needs k >= 2: Spark's sequence(1, 0) is DESCENDING [1, 0]
      aggregate(sequence(lit(1), lit(centroids.size - 1)), seed0,
        (best, i) => {
          val cos = AnnOps.cosine(vec, element_at(cb, i + 1))
          when(cos >= best.getField("cos"),
            struct(cos.as("cos"), i.cast("int").as("cid"))).otherwise(best)
        }).getField("cid")
    }
  }

  def pqEncodeHof(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val m = codebooks.size
    val k = codebooks.head.size
    val subDim = codebooks.head.head.size
    // Codebooks as ONE nested-array literal + HOF folds (see [[AnnOps.ivfAssign]]): the
    // unrolled m*k*subDim squared-diff tree exceeded the 64 KB codegen method limit.
    // Fold order is preserved exactly (left-to-right over j, seed 0.0 — `0.0 + x²`
    // is bit-identical to `x²`), so DuckDB `list_sum(list_transform(...))` oracles
    // still match bit-for-bit. Ties go to the LOWEST code (strict <, matching the
    // lexicographic `least` this replaces and the e7/e8 oracles' `ci ASC`).
    val cb = typedlit(codebooks)
    val perSub = transform(sequence(lit(0), lit(m - 1)), s => {
      val sub = element_at(cb, s + 1)
      aggregate(sequence(lit(0), lit(k - 1)),
        struct(lit(Double.MaxValue).as("dist"), lit(-1).as("code")),
        (best, ci) => {
          val c = element_at(sub, ci + 1)
          val d = aggregate(sequence(lit(1), lit(subDim)), lit(0.0), (acc, j) => {
            val x = element_at(vec, s * lit(subDim) + j) - element_at(c, j)
            acc + x * x
          })
          when(d < best.getField("dist"),
            struct(d.as("dist"), ci.cast("int").as("code"))).otherwise(best)
        })
    })
    struct(
      transform(perSub, p => p.getField("code")).as("codes"),
      aggregate(transform(perSub, p => p.getField("dist")), lit(0.0),
        (acc, d) => acc + d).as("sse"))
  }

  /** Inverse of [[AnnOps.pqEncode]]: concatenate each code's centroid. */
  def pqDecode(codes: Column, codebooks: Seq[Seq[Seq[Double]]]): Column = {
    val cb = typedlit(codebooks)
    flatten(transform(sequence(lit(0), lit(codebooks.size - 1)),
      s => element_at(element_at(cb, s + 1), element_at(codes, s + 1) + 1)))
  }
}
