package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+banded LSH,
  * SimHash, and n-gram Jaccard. Designed for 100 TB:
  *
  *  - candidate generation is ALWAYS bucketed (LSH band -> bucket key -> equi-join);
  *    nothing here compares all pairs;
  *  - the only shuffles are groupBy(fingerprint) for exact dedup and
  *    groupBy(band bucket) for LSH -- both key-balanced (md5 output is uniform);
  *  - a pathological bucket (thousands of near-identical docs) degrades to a local
  *    quadratic INSIDE one bucket only; cap it with `maxBucketSize`, which drops
  *    oversized buckets (those documents are caught by other bands or exact dedup).
  *
  * Hash determinism: shingle/band hashes route through md5 so every step has an exact
  * DuckDB oracle (Spark `hash`/`xxhash64` seeds don't exist in other engines).
  */
object DedupOps {

  /** Exact dedup: keep the smallest `idCol` per normalized-text fingerprint.
    * One hash-shuffle on the 128-bit fingerprint. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = graft.text.TextOps.fingerprint(col(textCol))
    val w = Window.partitionBy(fp).orderBy(col(idCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Snapshot diff — dataset versioning between two corpus versions: classify
    * every document id as `added` (new id), `removed` (gone id), `changed`
    * (same id, different normalized-text fingerprint), or `unchanged`. The
    * audit step an incremental curation pipeline runs before reprocessing a new
    * crawl drop: only `added`+`changed` flow into the (expensive) dedup/quality
    * stages, the [[graft.dedup.DedupOps]] incremental ops' contract.
    *
    * Scale shape: fingerprints are computed scan-side (the codegen'd
    * NormFingerprint, no token arrays), then ONE full-outer shuffle join on the
    * id — no text comparison ever crosses the network, only (id, 128-bit fp). */
  def snapshotDiff(old: DataFrame, cur: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = old.select(col(idCol).as("_oid"),
      graft.text.TextOps.fingerprint(col(textCol)).as("_ofp"))
    val c = cur.select(col(idCol).as("_cid"),
      graft.text.TextOps.fingerprint(col(textCol)).as("_cfp"))
    o.join(c, o("_oid") === c("_cid"), "full_outer")
      .select(coalesce(col("_cid"), col("_oid")).as(idCol),
        when(col("_oid").isNull, "added")
          .when(col("_cid").isNull, "removed")
          .when(col("_ofp") =!= col("_cfp"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Collection-level MinHash similarity: estimated shingle-set Jaccard between
    * whole GROUPS of documents (sources, domains, crawl snapshots) — the
    * mirrored-corpus / re-crawl detector. MinHash signatures are min-aggregates,
    * so a group's signature over the UNION of its documents' shingle sets is one
    * grouped min per hash function — no document pair, no shingle-set
    * materialization, ever. Similarity = fraction of agreeing signature
    * components between group pairs (the unbiased Jaccard estimator).
    *
    * Scale shape: one corpus explode → ONE groupBy(group) with k min aggregates
    * (partial map-side — the shuffle carries k longs per group per task); the
    * pairwise compare runs on the |groups|-row signature table (self-join above
    * the diagonal — groups are collection-cardinality, trivially small next to
    * the corpus). Integer arithmetic end-to-end → exact SQL oracle. */
  def sourceSimilarity(df: DataFrame, groupCol: String, textCol: String,
                       k: Int = 16, shingleN: Int = 3): DataFrame = {
    val (as, bs) = minhashCoeffs(k)
    val sigs = df
      .select(col(groupCol).as("g"),
        explode(hashedShingles(col(textCol), shingleN)).as("h"))
      .groupBy(col("g"))
      .agg(
        min(pmod(lit(as(0)) * col("h") + lit(bs(0)), lit(MinhashPrime))).as("s0"),
        (1 until k).map(i =>
          min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(MinhashPrime)))
            .as(s"s$i")): _*)
    val l = sigs.columns.tail.map(c => sigs(c).as(c + "_l"))
    val r = sigs.columns.tail.map(c => sigs(c).as(c + "_r"))
    val left = sigs.select(col("g").as("g1") +: l.toSeq: _*)
    val right = sigs.select(col("g").as("g2") +: r.toSeq: _*)
    val agree = (0 until k).map(i =>
      when(col(s"s${i}_l") === col(s"s${i}_r"), 1).otherwise(0))
      .reduce(_ + _)
    left.join(right, col("g1") < col("g2"))
      .select(col("g1"), col("g2"),
        round(agree.cast("double") / k, 4).as("est_jaccard"))
  }

  /** Paragraph-level exact dedup — boilerplate removal: split each document on
    * `sep`, keep only the FIRST corpus-wide occurrence (ordered by (id, position))
    * of each normalized-paragraph fingerprint, and reassemble the survivors in
    * their original order. The Common-Crawl-style strip for cookie banners /
    * navigation chrome / license blocks that repeat across millions of pages but
    * never make whole documents near-identical (so document-level dedup misses
    * them). A document whose every paragraph was seen before disappears entirely.
    *
    * Scale shape: one posexplode (row per paragraph), ONE window shuffle on the
    * paragraph fingerprint (md5 — uniform, key-balanced; a viral paragraph makes a
    * big partition but the window state is a row_number counter, O(1) memory,
    * sort spills), one groupBy(id) to reassemble. No joins, nothing all-pairs. */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String,
                      sep: String = "\n\n"): DataFrame = {
    val parts = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "_pos", "_para")
    val w = Window.partitionBy(graft.text.TextOps.fingerprint(col("_para")))
      .orderBy(col(idCol), col("_pos"))
    parts.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col(idCol))
      .agg(concat_ws(sep,
        transform(array_sort(collect_list(struct(col("_pos"), col("_para")))),
          s => s.getField("_para"))).as(textCol))
  }

  /** Distinct word `n`-gram shingles of the text. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = graft.text.TextOps.tokens(lower(text))
    array_distinct(
      when(size(toks) < n, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(1), size(toks) - n + 1),
          i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Shingle-hash strategy. [[Md5Portable]] routes through md5 so every step has an
    * exact cross-engine oracle; it is the default and, with its shingles hashed in
    * the native KgramMd5 kernel, also the cheaper one (d2 vs d2x, SCALE.md).
    * [[XxHash64Fast]] hashes each shingle string with Spark's xxhash64 — same 60-bit
    * positive range, same downstream pipeline, not replicable in other engines.
    * DedupAnnSpec pins that both find the same near-dup pairs. */
  sealed trait HashStrategy
  case object Md5Portable extends HashStrategy
  case object XxHash64Fast extends HashStrategy

  /** 60-bit shingle hash under `strategy` -- uniform, positive. The Md5Portable
    * value is `conv(substring(md5(s), 1, 15), 16, 10)` -- what every oracle inlines
    * -- computed by the native [[graft.expr.Md5Hash60]] expression (bit-identical,
    * no hex round-trip; equivalence + codegen parity pinned in Md5Hash60Spec). */
  def shingleHash(shingle: Column, strategy: HashStrategy = Md5Portable): Column =
    strategy match {
      case Md5Portable => graft.expr.Md5Hash60.expr(shingle)
      case XxHash64Fast => pmod(xxhash64(shingle), lit(1L << 60))
    }

  /** Mersenne prime 2^61-1 for the universal-hash family (a_i*h + b_i) mod p. */
  val MinhashPrime: Long = (1L << 61) - 1

  /** Deterministic universal-hash coefficients, 31-bit so a_i*h32 + b_i < 2^63 never
    * overflows 64-bit arithmetic (h is truncated to 32 bits in the signature). Seeded --
    * no runtime randomness, signatures reproducible across engines and resumes. */
  def minhashCoeffs(k: Int, seed: Long = 42L): (Seq[Long], Seq[Long]) = {
    val rng = new scala.util.Random(seed)
    val as = Seq.fill(k)(math.abs(rng.nextInt()).toLong max 1L)
    val bs = Seq.fill(k)(math.abs(rng.nextInt()).toLong)
    (as, bs)
  }

  /** MinHash signature (length `k`) from PRE-hashed 32-bit shingle values
    * ([[hashedShingles]]): sig_i = min over shingles of (a_i*h32 + b_i) mod p, via the native
    * [[graft.expr.MinHashSig]] expression — one pass over the hash array computes
    * all k minima with no intermediate arrays (the former k-nested-transform HOF
    * materialized k×|shingles| boxed longs per row on the sig-table build, the
    * dedup family's measured growth term). Values are bit-identical (MinHashSigSpec;
    * the d2/d7 oracles inline the same formula). Callers that also need the hashes
    * (LSH pipelines) should still materialize them in their own column first. */
  def minhashSignatureFromHashes(h32: Column, k: Int = 32, seed: Long = 42L): Column = {
    val (as, bs) = minhashCoeffs(k, seed)
    graft.expr.MinHashSig.expr(h32, as, bs)
  }

  /** The set of [[shingleHash]] mod 2^32 over a text's [[shingles]] (the minhash
    * input): the ONE text→h32 definition, shared by the pair ops ([[sigTable]]), the
    * cap ledger, [[sourceSimilarity]] and the streaming twins, so audited band keys
    * cannot drift from join keys. Md5Portable hashes every gram in the native
    * [[graft.text.TextOps.kgramHashes]] kernel (same set, KgramMd5Spec; the order
    * may differ, and MinHashSig and [[jaccard]] do not read it). Null text gives
    * null; the string chain it replaced hashed it as one `""` shingle under
    * `spark.sql.legacy.sizeOfNull=true`, so all null documents were near-dups. */
  private[graft] def hashedShingles(text: Column, shingleN: Int,
                                    strategy: HashStrategy = Md5Portable): Column =
    array_distinct(strategy match {
      case Md5Portable =>
        transform(graft.text.TextOps.kgramHashes(text, shingleN), h => pmod(h, lit(1L << 32)))
      case XxHash64Fast => transform(shingles(text, shingleN),
        s => pmod(shingleHash(s, strategy), lit(1L << 32)))
    })

  /** (id, [[hashedShingles]] array, minhash signature), CACHED. The cache is load-bearing,
    * not a convenience: projection collapse inlines the signature expression (and its
    * md5 hash-array child) into every band lambda — `bands` full signature
    * re-evaluations per row (in the pre-r7 k-lambda HOF form this was k × bands md5
    * re-evaluations per shingle, measured 131s vs ~2s for 5k docs at sf0.1) — and a
    * repartition does not stop it (projections push through exchanges). Persisting the
    * signature table pins one evaluation — the same design as Spark ML's MinHashLSH,
    * and the table is reused by the band explode and both verify joins anyway.
    * Size: id + ~|shingles| longs + k longs per row. */
  private def sigTable(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int, k: Int, strategy: HashStrategy): DataFrame =
    df.withColumn("_h32", hashedShingles(col(textCol), shingleN, strategy))
      .withColumn("_sig", minhashSignatureFromHashes(col("_h32"), k))
      .select(col(idCol), col("_h32"), col("_sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** LSH band keys: the signature split into `bands` contiguous rows-per-band groups,
    * each rendered as "bandIdx:v1,v2,..." -- the bucket join key. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => concat(b.cast("string"), lit(":"),
        concat_ws(",", slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)))))

  /** The band keys of a [[simhash32]] value: four 8-bit bands, each rendered
    * "band:value" — the multi-index [[simhashNearDups]] joins on and
    * [[simhashCapStats]] audits. */
  def simhashBandKeys(sh: Column): Column =
    array((0 until 4).map(b =>
      concat(lit(s"$b:"), shiftright(sh, 8 * b).bitwiseAND(lit(255L)).cast("string"))): _*)

  /** The band keys of a random-hyperplane bit-string signature
    * ([[graft.ann.AnnOps.rhSignature]]): `bands` contiguous runs of
    * `nPlanes / bands` bits, each rendered "band:bits" — the keys
    * [[embeddingNearDups]] joins on and [[embeddingCapStats]] audits. */
  def rhBandKeys(sig: Column, nPlanes: Int, bands: Int): Column = {
    require(nPlanes % bands == 0, "nPlanes must be divisible by bands")
    val rpb = nPlanes / bands
    array((0 until bands).map(b => concat(lit(s"$b:"), substring(sig, b * rpb + 1, rpb))): _*)
  }

  /** The band keys of a 64-bit (hi, lo) code — ONE definition shared by every
    * Hamming pair op, its cap ledger and the streaming catalog, so audited keys
    * cannot drift from join keys (the minhashCapStats rule). The radius picks
    * the layout: up to 3, four 16-bit bands; 4 to 7, eight 8-bit bands. Bands
    * run low bits first (lo before hi), each rendered "band:value". */
  def hamming64BandKeys(hi: Column, lo: Column, maxHamming: Int = 3): Column = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"banding guarantees recall only for 0 <= maxHamming <= 7, got $maxHamming")
    val bits = if (maxHamming <= 3) 16 else 8
    val mask = lit((1L << bits) - 1)
    val parts = Seq(lo, hi).flatMap(h => (0 until 32 by bits).map(shift =>
      (if (shift == 0) h else shiftright(h, shift)).bitwiseAND(mask)))
    array(parts.zipWithIndex.map { case (c, b) =>
      concat(lit(s"$b:"), c.cast("string")) }: _*)
  }

  // ───────────────────────── banded pair chassis ─────────────────────────

  private def requireBucketCap(maxBucketSize: Int): Unit =
    require(maxBucketSize >= 2,
      s"maxBucketSize must be >= 2 (a smaller bucket holds no pair), got $maxBucketSize")

  /** The one candidate-pair chassis every banded near-dup op pairs through.
    * `banded` has one row per (member, band key): a `_rec` struct with an `id`
    * field, and the `_band` key. ONE groupBy(band) shuffle collects each
    * bucket; buckets of 2 to `maxBucketSize` members (the cap [[bandCapLedger]]
    * audits) pair up by a double explode into `a` and `b`, keeping the pairs
    * `pair` accepts. `left` prunes the `a` side before the second explode (the
    * incremental ops' new-items rule), so a bucket costs |left ∩ bucket| ×
    * |bucket| candidates, not |bucket|². The in-bucket product never exceeds
    * cap². A pair sharing several bands appears once per band; callers verify,
    * project and dedupe. */
  private[graft] def bandPairs(banded: DataFrame, maxBucketSize: Int, pair: Column,
                               left: Option[Column] = None): DataFrame = {
    requireBucketCap(maxBucketSize)
    val lefts = banded.groupBy(col("_band")).agg(collect_list(col("_rec")).as("_recs"))
      .filter(size(col("_recs")).between(2, maxBucketSize))
      .select(explode(col("_recs")).as("a"), col("_recs"))
    left.fold(lefts)(lefts.filter)
      .select(col("a"), explode(col("_recs")).as("b"))
      .filter(pair)
  }

  /** Exact Hamming distance between two 64-bit codes given as (hi, lo) halves:
    * the verify of every Hamming pair op and of the streaming code catalog. */
  private[graft] def hamming64(hi1: Column, lo1: Column, hi2: Column, lo2: Column): Column =
    (bit_count(hi1.bitwiseXOR(hi2)) + bit_count(lo1.bitwiseXOR(lo2))).cast("long")

  /** Each new item's single best match, the incremental ops' output rule: the
    * first row per `idCol` in `order`. */
  private def bestMatch(pairs: DataFrame, idCol: String, order: Column*): DataFrame =
    pairs.withColumn("_rn", row_number().over(Window.partitionBy(col(idCol)).orderBy(order: _*)))
      .filter(col("_rn") === 1)

  // ───────────────────────── bucket-cap ledgers ─────────────────────────

  /** The "no silent caps" contract for the banded-LSH family (the
    * [[semanticDedupAuto]] stats rule applied to its older siblings, VERDICT
    * r11 #3): a one-row over-cap ledger for any exploded (band-key, member)
    * table. `n_buckets_capped` > 0 means the corresponding pair op dropped
    * whole buckets (a viral boilerplate string, a constant-color image) and
    * under-reported duplicates — the caller decides whether to raise the cap,
    * pre-dedup exactly, or accept the recall loss. Aggregation-only (two
    * partial-agg stages, model-sized output), never generates pairs. A cap
    * below 2 is refused, as by the pair ops. */
  def bandCapLedger(banded: DataFrame, bandCol: String, maxBucketSize: Int): DataFrame = {
    requireBucketCap(maxBucketSize)
    banded.groupBy(col(bandCol)).agg(count(lit(1)).as("_n"))
      .agg(count(lit(1)).as("n_buckets"),
        count(when(col("_n") > maxBucketSize, lit(1))).as("n_buckets_capped"),
        coalesce(sum(when(col("_n") > maxBucketSize, col("_n"))), lit(0L))
          .as("n_members_excluded"),
        coalesce(max(col("_n")), lit(0L)).as("max_bucket"))
  }

  /** Over-cap ledger for [[minhashNearDups]] given a CALLER-SUPPLIED
    * signature table (any frame with `idCol` and a `_sig` array column — i.e.
    * the persisted [[sigTable]] a pair op in the same job already built). This
    * is the genuine-sharing path (ADVICE r13): running the audit alongside the
    * pair op adds zero cached footprint, and the audited band keys are BY
    * CONSTRUCTION the join keys (same `_sig`, same [[lshBandKeys]] rendering).
    * Lazy; no pairs. */
  def minhashCapStatsFromSig(sig: DataFrame, idCol: String,
                             k: Int = 32, bands: Int = 8,
                             maxBucketSize: Int = 500): DataFrame =
    bandCapLedger(
      sig.select(col(idCol),
        explode(lshBandKeys(col("_sig"), bands, k / bands)).as("_band")),
      "_band", maxBucketSize)

  /** Self-contained over-cap ledger for [[minhashNearDups]] (and the corpus∪shard union of
    * [[incrementalNearDups]] when passed pre-unioned). The signature must
    * still evaluate exactly once per row — an earlier inline form put the
    * signature expression inside the band lambda, where projection collapse
    * re-evaluated the full md5-shingle chain `bands` times per row (d22 at
    * 100×: 104 s solo → 13.5 s, SCALE.md r13) — but a ledger-private persist
    * of the full sigTable pinned a corpus-sized (id, _h32, _sig) cache entry
    * per call forever, with the `_h32` shingle arrays never read (ADVICE
    * r13). Now: persist ONLY the (id, _sig) projection the ledger needs,
    * aggregate EAGERLY (the output is one audit row — this is the
    * training-query class of BASELINE.md's cache-release contract), unpersist
    * before returning, and hand back the materialized row. Leak-free for
    * library callers; audits sharing a pair op's own sigTable should use
    * [[minhashCapStatsFromSig]] instead. */
  def minhashCapStats(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8,
                      maxBucketSize: Int = 500): DataFrame = {
    val spark = df.sparkSession
    val sig = df
      .withColumn("_sig",
        minhashSignatureFromHashes(hashedShingles(col(textCol), shingleN), k))
      .select(col(idCol), col("_sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ledger = minhashCapStatsFromSig(sig, idCol, k, bands, maxBucketSize)
      spark.createDataFrame(
        spark.sparkContext.parallelize(ledger.collect().toSeq, 1), ledger.schema)
    } finally sig.unpersist(blocking = false)
  }

  /** Banded-Hamming pairs over PRECOMPUTED 64-bit codes, split as two
    * signed 32-bit-halves-in-long columns (hi = bits 32..63, lo = 0..31): the
    * shared pair op behind image dHash/pHash near-dup
    * ([[graft.multimodal.MultimodalOps.dHashNearDups]]), audio energy-hash
    * near-dup (mm7), pooled video hashes, and any future 64-bit perceptual
    * code. Multi-index bands whose layout follows the radius
    * ([[hamming64BandKeys]]): 4×16-bit bands up to hamming 3, 8×8-bit bands
    * up to 7 — either way the pigeonhole guarantee makes recall EXACT (a
    * difference of at most `bands - 1` bits leaves one band untouched) — then
    * exact `bit_count(xor)` verify inside buckets. One shuffle on band keys;
    * `maxBucketSize` caps the in-bucket quadratic (audit with
    * [[hamming64CapStats]] at the same radius — same band keys by
    * construction, no silent caps).
    *
    * Cost of the 8×8 layout, measured not guessed (SCALE.md r15): band
    * fan-out doubles (8 keys/item), and 8-bit bands have only 256 values, so
    * on an n-item corpus of near-uniform codes (worst case) buckets average
    * n/256 and the in-bucket quadratic dominates past n ≈ 256·cap. Perceptual
    * corpora cluster far from uniform, but for a corpus that large either
    * raise `maxBucketSize` knowingly (the ledger reports what was dropped) or
    * shard the corpus before pairing.
    * Output: (id1, id2, hamming), id1 < id2, distinct. */
  def hamming64Pairs(df: DataFrame, idCol: String, hiCol: String, loCol: String,
                     maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    bandPairs(
      df.select(struct(col(idCol).as("id"), col(hiCol).as("hi"), col(loCol).as("lo"))
          .as("_rec"),
        explode(hamming64BandKeys(col(hiCol), col(loCol), maxHamming)).as("_band")),
      maxBucketSize, col("a.id") < col("b.id"))
      .withColumn("hamming", hamming64(col("a.hi"), col("a.lo"), col("b.hi"), col("b.lo")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("hamming"))
      .distinct()

  /** Incremental (shard-vs-corpus) form of [[hamming64Pairs]] — the
    * [[incrementalNearDups]] contract for 64-bit perceptual codes (image
    * dHash, pooled video hash, audio energy hash): only NEW items generate
    * match rows, against the corpus and against smaller-id shard peers (each
    * new-new pair reported once, by its larger id — d19's rule), and each
    * new item keeps its single BEST match (min hamming, then smallest
    * matched id). The corpus side arrives as precomputed codes — on a real
    * deployment that is the stored hash catalog, so per-drop cost is
    * O(shard + catalog scan), never a corpus re-decode. Same radius-selected
    * bands and cost model as the batch op. Output:
    * (idCol, matched_id, hamming, vs_corpus).
    *
    * Audit contract (the no-silent-caps rule, sharper here than for the
    * batch op): bands over `maxBucketSize` are dropped, and for the
    * incremental contract that means a NEW item landing only in mega-buckets
    * gets NO match row at all — it silently enters the corpus as "novel".
    * Incremental callers therefore run [[hamming64CapStats]] at the same
    * radius over shard ∪ catalog alongside every drop and alert on
    * `n_buckets_capped > 0` (the mm9/mm9w queries are the reference call
    * shapes: the ledger rides the same output row). */
  def hamming64IncrementalNearDups(corpus: DataFrame, shard: DataFrame,
      idCol: String, hiCol: String, loCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame = {
    def side(df: DataFrame, isNew: Boolean): DataFrame =
      df.select(col(idCol).as("_id"), col(hiCol).as("_hi"),
        col(loCol).as("_lo"), lit(isNew).as("_new"))
    val prep = side(corpus, isNew = false).unionByName(side(shard, isNew = true))
    val pairs = bandPairs(
      prep.select(struct(col("_id").as("id"), col("_hi").as("hi"),
          col("_lo").as("lo"), col("_new").as("isNew")).as("_rec"),
        explode(hamming64BandKeys(col("_hi"), col("_lo"), maxHamming)).as("_band")),
      maxBucketSize, !col("b.isNew") || col("b.id") < col("a.id"), Some(col("a.isNew")))
      .withColumn("hamming", hamming64(col("a.hi"), col("a.lo"), col("b.hi"), col("b.lo")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("_aid"), col("b.id").as("matched_id"),
        col("hamming"), (!col("b.isNew")).as("vs_corpus"))
      .distinct()
    bestMatch(pairs, "_aid", col("hamming"), col("matched_id"))
      .select(col("_aid").as(idCol), col("matched_id"), col("hamming"),
        col("vs_corpus"))
  }

  /** Over-cap ledger for [[hamming64Pairs]] / [[hamming64IncrementalNearDups]]
    * at the same `maxHamming` (precomputed-code form of
    * [[graft.multimodal.MultimodalOps.dHashCapStats]]): the radius picks the
    * same band layout the pair op joins on, so audited keys cannot drift from
    * join keys. */
  def hamming64CapStats(df: DataFrame, idCol: String, hiCol: String, loCol: String,
                        maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    bandCapLedger(
      df.select(col(idCol),
        explode(hamming64BandKeys(col(hiCol), col(loCol), maxHamming)).as("_band")),
      "_band", maxBucketSize)

  /** Over-cap ledger for [[simhashNearDups]]'s 4×8-bit multi-index. */
  def simhashCapStats(df: DataFrame, idCol: String, textCol: String,
                      maxBucketSize: Int = 2000): DataFrame =
    bandCapLedger(
      df.select(col(idCol), explode(simhashBandKeys(simhash32(col(textCol)))).as("_band")),
      "_band", maxBucketSize)

  /** Over-cap ledger for [[embeddingNearDups]]'s hyperplane bands. */
  def embeddingCapStats(df: DataFrame, idCol: String, vecCol: String,
                        nPlanes: Int = 48, bands: Int = 3, dim: Int = 64,
                        seed: Long = 42L, maxBucketSize: Int = 2000): DataFrame = {
    val sig = graft.ann.AnnOps.rhSignature(col(vecCol),
      graft.ann.AnnOps.hyperplanes(nPlanes, dim, seed))
    bandCapLedger(
      df.select(col(idCol), explode(rhBandKeys(sig, nPlanes, bands)).as("_band")),
      "_band", maxBucketSize)
  }

  /** Exact n-gram Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)))

  /** The verify both minhash pair ops share. On the chassis' (a, b) pairs, the
    * signature-agreement estimate (matching `sig` positions / k) must reach
    * `estCutoff`; the survivors are deduped as (id1, id2, `keep`…), and only
    * then do the wide `_h32` shingle arrays join back from the signature table
    * `sigs` for the exact [[jaccard]], kept at >= `threshold`. */
  private def minhashVerify(pairs: DataFrame, sigs: DataFrame, idCol: String, k: Int,
                            estCutoff: Double, threshold: Double,
                            keep: Column*): DataFrame = {
    val est = size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
      x => x)).cast("double") / k
    val h32 = sigs.select(col(idCol), col("_h32"))
    pairs
      .filter(est >= estCutoff)
      .select(Seq(col("a.id").as("id1"), col("b.id").as("id2")) ++ keep: _*)
      .distinct()
      .join(h32.select(col(idCol).as("id1"), col("_h32").as("_a1")), "id1")
      .join(h32.select(col(idCol).as("id2"), col("_h32").as("_a2")), "id2")
      .withColumn("jaccard", jaccard(col("_a1"), col("_a2")))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash near-dup pairs: banded-LSH candidates verified by exact shingle Jaccard >=
    * `threshold`.
    *
    * Verification cost controls (the dominant cost at scale — candidate counts grow
    * with corpus self-similarity):
    *  - Jaccard is computed on the HASHED shingle arrays (long set ops, ~5x cheaper
    *    than string sets; md5-collision error is ~2^-32 per pair);
    *  - a deterministic signature-agreement prefilter (matching sig positions / k)
    *    discards candidates whose estimated similarity is far below `threshold`
    *    before any set op runs. Both are replicated exactly in the SQL oracle.
    *
    * Stage placement: the signature (k longs) rides inside the bucket structs so the
    * est-prefilter runs AT PAIR GENERATION — the distinct then dedupes only
    * est-qualified pairs, not the candidate firehose. The h32 shingle arrays (the
    * wide payload, ~|tokens| longs/doc) do NOT ride the buckets: they join in from
    * the persisted signature table after the distinct, so each surviving pair pays
    * exactly one set-op verify and the shuffled bucket rows stay k-long-sized. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double = 0.7, shingleN: Int = 3,
                      k: Int = 32, bands: Int = 8, maxBucketSize: Int = 500,
                      estCutoff: Double = 0.2,
                      strategy: HashStrategy = Md5Portable): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    requireBucketCap(maxBucketSize) // before the persist: a refused call pins nothing
    val prep = sigTable(df, idCol, textCol, shingleN, k, strategy)
    val pairs = bandPairs(
      prep.select(struct(col(idCol).as("id"), col("_sig").as("sig")).as("_rec"),
        explode(lshBandKeys(col("_sig"), bands, k / bands)).as("_band")),
      maxBucketSize, col("a.id") < col("b.id"))
    minhashVerify(pairs, prep, idCol, k, estCutoff, threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Embedding-cosine near-duplicate pairs: banded random-hyperplane LSH candidates
    * verified by exact cosine >= `threshold`.
    *
    * Same 100 TB shape as [[minhashNearDups]]: ONE shuffle on the band bucket key,
    * pairs generated inside buckets only (capped by `maxBucketSize`), with the exact
    * cosine verify applied at pair generation (see body note).
    *
    * SIZE THE BAND KEY TO THE CORPUS: a band of `r` bits has
    * only 2^r distinct keys, so expected bucket size is n/2^r and candidate pairs per
    * band grow ~n²/2^r — a fixed `r` turns the op quadratic once n approaches 2^r.
    * Take r = max(8, ceil(log2(n / targetBucket))) bits per band and
    * `nPlanes = r * bands`: expected bucket size stays ~targetBucket (100 is a
    * sound default) and candidate generation stays linear in n.
    * Measured (SCALE.md r6): 8-bit bands went 711× slower on 50× data; 16-bit bands
    * restored linear scaling at identical recall for the planted near-dups. Recall
    * per band is (1 - theta/pi)^r (theta = angle at the cosine threshold), so wider
    * bands want more bands: 48 planes in 3 bands of 16 gives ~86% recall at
    * cos >= 0.99 (1-(1-(1-theta/pi)^16)^3 at theta=acos(0.99); ~92% holds at
    * cos ~= 0.995, where the planted-copy spec measures >= 0.9) and one-in-65k
    * random-pair collisions. The hyperplanes are seeded
    * Scala constants, so an external oracle can replicate the full pipeline by
    * inlining them as literals (cf. reference near-dup semantics,
    * `qaqc_concatenate_stations.py:87-152` groups identical coords; this extends the
    * idea to approximate vector identity for training-data curation). */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.8, nPlanes: Int = 48, bands: Int = 3,
                        dim: Int = 64, seed: Long = 42L,
                        maxBucketSize: Int = 2000): DataFrame = {
    // both checks run before the persist: a refused call pins nothing
    val bandKeys = rhBandKeys(col("_sig"), nPlanes, bands)
    requireBucketCap(maxBucketSize)
    val planes = graft.ann.AnnOps.hyperplanes(nPlanes, dim, seed)
    // persist pins the signature: without the cache, projection collapse would
    // re-evaluate all nPlanes dot products once per band key (see sigTable note
    // above); the verify reads vectors from the same pinned table via the buckets
    val vecs = df.select(col(idCol), col(vecCol))
      .withColumn("_sig", graft.ann.AnnOps.rhSignature(col(vecCol), planes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the vector rides inside the bucket structs and the cosine verify runs at pair
    // generation (same rationale as simhashNearDups: the distinct then dedupes the
    // small true-near-dup set, not the candidate firehose, and both verify join-backs
    // disappear); a pair surviving in multiple bands costs one redundant 64-dim
    // cosine per extra band
    bandPairs(
      vecs.select(struct(col(idCol).as("id"), col(vecCol).as("v")).as("_rec"),
        explode(bandKeys).as("_band")),
      maxBucketSize, col("a.id") < col("b.id"))
      .withColumn("cos", round(graft.ann.AnnOps.cosine(col("a.v"), col("b.v")), 6))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("cos"))
      .distinct()
  }

  /** Benchmark decontamination: drop every corpus document whose normalized-text
    * fingerprint appears in `reference` (held-out eval sets, test splits). The
    * reference side is tiny next to the corpus, so the anti-join broadcasts (AQE; no
    * forced hint — a genuinely large reference degrades gracefully to a shuffled
    * anti-join). Fingerprints route through md5, so the decision is engine-portable
    * and a removed doc can be re-derived by any auditor. */
  def decontaminate(corpus: DataFrame, reference: DataFrame, textCol: String): DataFrame = {
    val fp = graft.text.TextOps.fingerprint _
    corpus.join(
      reference.select(fp(col(textCol)).as("_ref_fp")).distinct(),
      fp(corpus(textCol)) === col("_ref_fp"), "left_anti")
  }

  /** Two-stage Bloom decontamination — [[decontaminate]]'s scale path for
    * reference sets too large to broadcast raw (the 100 TB eval-suite union: at
    * 1e9 fingerprints the raw 32-hex strings are ~40 GB; the Bloom filter at 1%
    * fpp is ~1.2 GB of bits). Stage 1 aggregates the reference fingerprints into
    * a Bloom filter (distributed partial aggregation — executors merge bit
    * arrays; the driver holds ONE final bit array, `numBits/8` bytes) and tests
    * every corpus row with the codegen'd `BloomFilterMightContain` over the
    * literal bits — the exact expression Spark's runtime row-level join
    * filtering injects, no UDF. Rows the filter rejects are DEFINITELY clean
    * (no false negatives — both sides hash with the same `xxhash64`); the
    * ~fpp·N accepted rows exact-verify through the stage-2 anti-join.
    *
    * Result is bit-identical to [[decontaminate]] (which IS the oracle): the
    * Bloom stage only decides which rows must pay the anti-join's shuffle. The
    * corpus is scanned twice (the clean branch and the verify branch cannot
    * fork one scan without caching) — the trade is 2× scan for a shuffle that
    * carries fpp·N rows instead of N, which wins whenever the anti-join would
    * not broadcast. An empty reference passes the corpus through unchanged. */
  def decontaminateBloom(corpus: DataFrame, reference: DataFrame, textCol: String,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val fp = graft.text.TextOps.fingerprint _
    val refFps = reference.select(fp(col(textCol)).as("_ref_fp")).distinct()
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      GraftSqlBridge.expression(xxhash64(col("_ref_fp"))),
      CLit(expectedItems), CLit(numBits), 0, 0).toAggregateExpression()
    val bitsRow = refFps.select(GraftSqlBridge.column(agg)).head()
    if (bitsRow.isNullAt(0)) return corpus // empty reference: nothing to remove
    val bits = bitsRow.getAs[Array[Byte]](0)
    val might = GraftSqlBridge.column(BloomFilterMightContain(
      CLit(bits, org.apache.spark.sql.types.BinaryType),
      GraftSqlBridge.expression(xxhash64(fp(col(textCol))))))
    val marked = corpus.withColumn("_might", might)
    val clean = marked.filter(!col("_might"))
    val verified = marked.filter(col("_might"))
      .join(refFps, fp(col(textCol)) === col("_ref_fp"), "left_anti")
    clean.unionByName(verified).drop("_might")
  }

  /** Fuzzy decontamination score — the GPT-3/PaLM-style n-gram overlap check that
    * [[decontaminate]]'s exact-fingerprint match cannot express: for each corpus
    * document, the fraction of its distinct word `n`-grams that appear ANYWHERE in
    * `reference` (held-out eval sets). Callers drop documents above a threshold
    * (~0.5 is typical for 13-gram checks) or route them to review.
    *
    * Scale shape: the reference side collapses to DISTINCT n-gram hashes (eval sets
    * are tiny next to the corpus, so the inner join broadcasts under AQE; a genuinely
    * large reference degrades to a shuffled join on the uniform 60-bit hash — never
    * a cross product). The corpus explodes to one row per distinct n-gram, which is
    * the unavoidable payload and is scanned exactly ONCE: a left join marks the
    * matched grams and a single groupBy carries (total, hits) partial sums back to
    * (id). Each n-gram hashes to its 60-bit md5 [[shingleHash]] in the native
    * [[graft.text.TextOps.kgramHashes]] kernel, so the score is engine-portable
    * and oracle-checked bit-exactly. */
  def contaminationScore(corpus: DataFrame, reference: DataFrame, idCol: String,
                         textCol: String, n: Int = 13): DataFrame = {
    val refGrams = reference
      .select(explode(graft.text.TextOps.kgramHashes(col(textCol), n)).as("_g"))
      .distinct()
      .withColumn("_m", lit(1L))
    corpus
      .select(col(idCol),
        explode(array_distinct(graft.text.TextOps.kgramHashes(col(textCol), n))).as("_g"))
      .join(refGrams, Seq("_g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_tot"), sum(coalesce(col("_m"), lit(0L))).as("_hit"))
      .select(col(idCol),
        round(col("_hit").cast("double") / col("_tot"), 6).as("contamination"))
  }

  /** Connected components over an undirected near-dup edge list — the clustering
    * step after candidate-pair generation: each document gets its component's
    * MINIMUM id as `cluster`, so `id == cluster` selects one canonical document
    * per duplicate cluster (the step that turns pairwise near-dups into an actual
    * dedup decision). Singleton documents (no near-dup pair) are their own
    * cluster by definition and need no row.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14). Label propagation
    * needs diameter-many rounds (a 10M-node chain is 10M rounds); star
    * contraction converges in O(log² n) — in practice a handful — regardless of
    * diameter, with every round the same two key-balanced groupBy shuffles.
    *
    *  - large-star: every node u links each STRICTLY LARGER neighbor to the minimum
    *    of its closed neighborhood m(u) = min(N(u) ∪ u) — operates on both edge
    *    orientations;
    *  - small-star: every node u links each smaller-or-equal neighbor (and itself)
    *    to m(u) — operates on (larger → smaller) orientation only.
    *
    * Both preserve connectivity and strictly shrink non-star components. The loop
    * stops after the first round whose output (oriented larger → smaller) is a
    * star forest — no node has two out-edges or is both a source and a target.
    * That forest is the fixpoint, each star one component centered on its
    * minimum, read out as (id, cluster) directly. The test is one grouped
    * aggregate in the SAME job that materializes the round's lazy checkpoint: one
    * action per round and none before the first. The per-round `localCheckpoint`
    * is load-bearing: persist alone caches the DATA but not the PLAN, so an
    * uncheckpointed iterate's plan grows every round.
    *
    * Output: (id, cluster = component minimum) for every node appearing in
    * `edges`. StarCcSpec pins equality with a label-propagation reference on
    * chain / star / random graphs; d7 and d7s run it against a recursive-CTE
    * DuckDB oracle. Star contraction won the r11 head-to-head against label
    * propagation (SCALE.md): 5.8 s vs 7.9 s at 10x, 84.8 s vs 321.9 s at 100x. */
  def connectedComponentsStar(edges: DataFrame, id1: String = "id1", id2: String = "id2",
                              maxIter: Int = 30): DataFrame = {
    // neighborhood-min links for one star round. `bidir`: large-star sees both
    // orientations (it rewires only larger neighbors), small-star only
    // larger→smaller. `keep`: which neighbors get linked to the neighborhood min.
    // m(u) = min(N(u) ∪ {u}) rides every edge row as a WINDOW min over the src
    // partition — never a materialized neighborhood array: a high-degree hub
    // (exactly the graphs this path is advertised for) costs a disk-spillable
    // window sort, not an executor-sized collect_set buffer (ADVICE r6), and the
    // round stays at two shuffles (window exchange + distinct), with no join and
    // no second aggregate. The self link (u → m(u), small-star only) is emitted
    // from the same rows via a 2-way explode (duplicates per degree collapse in
    // the round's distinct).
    def starRound(e: DataFrame, bidir: Boolean,
                  keep: (Column, Column) => Column): DataFrame = {
      // both orientations from ONE read of `e`: a union of two reads would plan
      // the first round's input (e.g. the whole LSH pair pipeline) twice
      val oriented =
        if (bidir) e.select(explode(array(struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("_o")).select("_o.*")
        else e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
      val w = Window.partitionBy(col("src"))
      oriented
        .withColumn("_m", least(col("src"), min(col("dst")).over(w)))
        .select(col("src"), col("_m"),
          explode(array(col("dst"), col("src"))).as("_v"))
        .where(keep(col("_v"), col("src")) && col("_v") =!= col("_m"))
        .select(col("_v").as("src"), col("_m").as("dst"))
        .distinct()
    }
    def isStarForest(df: DataFrame): Boolean =
      df.select(explode(array(struct(col("src").as("v"), lit(1).as("out")),
          struct(col("dst").as("v"), lit(0).as("out")))).as("_e"))
        .groupBy(col("_e.v"))
        .agg(sum(col("_e.out")).as("_out"), count(lit(1)).as("_deg"))
        .where(col("_out") > 1 || (col("_out") === 1 && col("_deg") > 1))
        .count() == 0
    // orientation larger → smaller before distinct: mirrored inputs collapse to one row
    var e = edges.select(greatest(col(id1), col(id2)).as("src"),
        least(col(id1), col(id2)).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val ls = starRound(e, bidir = true, keep = (v, u) => v > u)
      e = starRound(ls, bidir = false, keep = (v, u) => v <= u)
        .localCheckpoint(false)
      converged = isStarForest(e) // same job materializes the checkpoint
      iter += 1
    }
    if (!converged)
      System.err.println(s"[graft] connectedComponentsStar: no fixpoint after " +
        s"$maxIter rounds (O(log² n) expected — pathological input?); labels are " +
        "consistent but may not be component-minimal.")
    // fixpoint is a star forest: every non-center points at its center; centers
    // (cluster minima) label themselves
    val members = e.select(col("src").as("id"), col("dst").as("cluster"))
    val centers = e.select(col("dst").as("id")).distinct()
      .select(col("id"), col("id").as("cluster"))
    members.unionByName(centers).distinct()
  }

  /** 32-bit SimHash of the token multiset: per token, md5-derived 32-bit hash votes
    * +/-1 on each bit position; positive vote-sums set bits. Computed by the native
    * [[graft.expr.SimHash32]] expression over the hashed-token array — bit-identical
    * to (and replacing) the former HOF chain that spelled each bit test as
    * `floor(h / 2^i) mod 2` (32 double round-trips per token; equivalence pinned in
    * SimHash32Spec, d3/d6 oracles unchanged). */
  def simhash32(text: Column): Column = {
    val toks = graft.text.TextOps.tokens(lower(text))
    graft.expr.SimHash32.expr(transform(toks, t => pmod(shingleHash(t), lit(1L << 32))))
  }

  /** Hamming distance between two SimHash values (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: multi-index banding (4 bands of 8 bits) + exact Hamming
    * verify. Pigeonhole guarantees RECALL = 1 for `maxHamming` <= 3: four bands can
    * absorb at most 3 differing bits while leaving one band identical, so every
    * qualifying pair shares at least one bucket. Same bounded-bucket shape as
    * [[minhashNearDups]] — one groupBy shuffle, never all-pairs.
    *
    * Unlike the minhash path, the verify payload is a single long, so the signature
    * rides INSIDE the bucket structs and the Hamming filter runs before any dedup:
    * candidate volume with 8-bit keys is ~n²/256 per band (millions of pairs at
    * scale), and a `distinct` + two join-backs on that firehose were the dominant
    * cost of the whole op. Filtering at generation reduces the distinct to the true
    * near-dup set (tiny) and removes both joins; duplicate survivors across bands
    * cost one redundant xor+popcount each. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame = {
    require(maxHamming <= 3, "4x8-bit banding guarantees recall only for maxHamming <= 3")
    val sh = df.select(col(idCol), simhash32(col(textCol)).as("_sh"))
    bandPairs(
      sh.select(struct(col(idCol).as("id"), col("_sh").as("sh")).as("_rec"),
        explode(simhashBandKeys(col("_sh"))).as("_band")),
      maxBucketSize, col("a.id") < col("b.id"))
      .withColumn("hamming", hammingDistance(col("a.sh"), col("b.sh")))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("hamming").cast("long").as("hamming"))
      .distinct()
  }

  /** Cross-document duplicated-span detection — the distributed stand-in for
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better": remove/flag exact runs of >= 50 tokens shared
    * across documents). Exact suffix arrays don't distribute; winnowing
    * fingerprints are the scale substitute because they are CONTENT-DEFINED:
    * window-min selection over rolling k-gram hashes picks the same positions
    * inside a shared run regardless of the run's byte offset in either document,
    * so any two documents sharing a token run of length >= k + w - 1 are
    * GUARANTEED to share at least one selected fingerprint (the winnowing
    * guarantee, property-tested in TextOpsSpec). Defaults k=20, w=31 detect
    * shared runs of >= 50 tokens — the Lee et al. threshold.
    *
    * Scale shape (the d1/d11 pattern): one explode (a few fingerprints per
    * document — winnowing density is ~2/(w+1)), ONE whole-partition min/max
    * window on the md5-uniform fingerprint (a boilerplate span shared by millions
    * of documents makes a big partition, but the window state is two ids — O(1),
    * sort spills), one groupBy(id) to re-aggregate. No joins, never all-pairs.
    *
    * Returns (id, n_spans, n_shared_spans): n_shared_spans > 0 means the document
    * shares at least one qualifying run with some other document (the caller
    * drops, trims, or routes to exact verification). */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 20, w: Int = 31): DataFrame = {
    val fps = df.select(col(idCol),
      explode(graft.text.TextOps.winnowingFingerprints(col(textCol), k, w)).as("_fp"))
    val byFp = Window.partitionBy(col("_fp"))
    fps
      .withColumn("_shared",
        min(col(idCol)).over(byFp) =!= col(idCol) ||
          max(col(idCol)).over(byFp) =!= col(idCol))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("_shared").cast("long")).as("n_shared_spans"))
  }

  /** Cross-document duplicated-span REMOVAL — the second half of Lee et al. 2022
    * (detection is [[duplicatedSpans]]/d13): for every winnowing fingerprint
    * shared across documents, keep the occurrence in the LOWEST-id document and
    * cut the covered k-token grams out of every other document's token stream,
    * rebuilding the text from the surviving tokens.
    *
    * Scale shape mirrors d13: one positional-fingerprint explode, ONE
    * whole-partition min/max window on the md5-uniform fingerprint (no join, no
    * all-pairs), then the dropped token indices aggregate per document
    * (winnowing density ~2/(w+1) × shared fraction — a bounded set) and a
    * broadcast-size-irrelevant LEFT join back on the document id carries them to
    * the rebuild, which is a codegen'd indexed `filter` over the token array.
    *
    * The operation is on TOKEN STREAMS (exactly Lee et al.'s formulation):
    * rebuilt text is the surviving tokens joined with single spaces — original
    * inter-token whitespace is not preserved. Detection marks the k-gram at each
    * SELECTED position, so removal is conservative: it cuts confirmed-shared
    * grams (≥ k tokens per hit, merged when selections overlap), not the full
    * ≥ k+w−1 guaranteed run; tighten by lowering w.
    *
    * Returns (id, text — rebuilt, n_tokens_dropped). Keeper documents and
    * documents with no shared fingerprint pass through unchanged. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 20, w: Int = 31): DataFrame = {
    val fps = df.select(col(idCol),
      explode(graft.text.TextOps.winnowingFingerprintsPos(col(textCol), k, w))
        .as("_f"))
      .select(col(idCol), col("_f.fp").as("_fp"), col("_f.pos").as("_pos"))
    val byFp = Window.partitionBy(col("_fp"))
    val drops = fps
      .withColumn("_minId", min(col(idCol)).over(byFp))
      .withColumn("_maxId", max(col(idCol)).over(byFp))
      .filter(col("_minId") =!= col("_maxId") && col(idCol) =!= col("_minId"))
      .select(col(idCol),
        explode(sequence(col("_pos"), col("_pos") + lit(k - 1))).as("_ti"))
      .groupBy(col(idCol))
      .agg(collect_set(col("_ti")).as("_drop"))
    df.join(drops, Seq(idCol), "left")
      .withColumn("_toks", graft.text.TextOps.tokens(col(textCol)))
      .select(col(idCol),
        when(col("_drop").isNull, col(textCol))
          .otherwise(array_join(
            filter(col("_toks"), (t, i) => !array_contains(col("_drop"), i)), " "))
          .as(textCol),
        when(col("_drop").isNull, lit(0L)).otherwise(size(col("_drop")).cast("long"))
          .as("n_tokens_dropped"))
  }

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster embeddings into cells
    * (IVF argmax-cosine assignment against literal centroids — trained via
    * [[graft.ann.AnnOps.kmeansTrain]] in production, any fixed set here), then
    * inside each cell mark every vector that has a LOWER-id cell-mate with
    * cosine >= `threshold` as a semantic duplicate of that mate. Near-identical
    * paraphrases land in the same cell with cosine ~1 even when their token
    * streams share nothing, which is exactly what MinHash/SimHash cannot see.
    *
    * Scale shape: pair generation is bucketed by cell — the corpus is never
    * all-pairs; the quadratic is confined to one cell, and `maxCellSize` drops
    * pathological cells (mirror of [[minhashNearDups]]'s maxBucketSize; in
    * practice an oversized cell means k is too small for the corpus — SemDeDup
    * sizes k ~ sqrt(n)). One shuffle to the cell key for the window cap + one
    * self-equi-join on the cell id (AQE-planned), one groupBy on the dropped id.
    * Cosine is IEEE-exact arithmetic (mul/add/div/sqrt — no libm), so the
    * threshold compare is bit-portable and the op carries an exact SQL oracle.
    *
    * Returns one row per DROPPED vector: (id, kept_as = its lowest-id match,
    * n_matches, max_cos). Survivors are `df` anti-joined on the result. */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[Seq[Double]], threshold: Double,
                    maxCellSize: Int = 10000): DataFrame =
    semanticDedupCore(
      df.select(col(idCol), col(vecCol))
        .withColumn("_cell", graft.ann.AnnOps.ivfAssign(col(vecCol), centroids)),
      idCol, vecCol, threshold, maxCellSize)

  private def semanticDedupCore(assigned: DataFrame, idCol: String,
                                vecCol: String, threshold: Double,
                                maxCellSize: Int): DataFrame = {
    // persist: both join sides read the assignment table; without the pin the
    // self-join re-runs the k x dim argmax per side (same rationale + release
    // contract as embeddingNearDups' signature table, BASELINE.md r8)
    val cells = assigned
      .withColumn("_csz", count(lit(1)).over(Window.partitionBy(col("_cell"))))
      .filter(col("_csz") <= maxCellSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = cells.select(col("_cell"), col(idCol).as("_id1"), col(vecCol).as("_v1"))
    val b = cells.select(col("_cell"), col(idCol).as("_id2"), col(vecCol).as("_v2"))
    a.join(b, Seq("_cell"))
      .filter(col("_id1") < col("_id2"))
      .withColumn("_cos", graft.ann.AnnOps.cosine(col("_v1"), col("_v2")))
      .filter(col("_cos") >= threshold)
      .groupBy(col("_id2").as(idCol))
      .agg(min(col("_id1")).as("kept_as"), count(lit(1)).as("n_matches"),
        round(max(col("_cos")), 6).as("max_cos"))
  }

  /** Production SemDeDup entry — closes the fixed-k scale caveat: k is sized from
    * the corpus (`k = ceil(sqrt(n))`, SemDeDup's own rule: E[cell] = sqrt(n), so
    * total pair work is ~n^1.5 / k = n — linear — and GROWS WITH THE CORPUS instead
    * of letting cells fatten toward the cap), centroids are kmeansTrain'd from a
    * deterministic lowest-id init (collect is k x dim doubles — centroid-sized,
    * never data), and cap violations are REPORTED, not silently dropped.
    *
    * Returns (dropped, stats): `dropped` as [[semanticDedup]]; `stats` is one row
    * (n, k, n_cells_capped, n_vecs_excluded) — a nonzero n_vecs_excluded means the
    * embedding distribution is collapsing into few directions and those vectors
    * were NOT deduplicated (route them to a re-trained sub-index or raise the cap;
    * at 100 TB this is the signal that k must grow faster than sqrt(n)).
    *
    * Above `tableAssignK` centroids, BOTH training and cell assignment switch
    * from plan-embedded centroids to the table form
    * ([[graft.ann.AnnOps.kmeansTrainTable]] +
    * [[graft.ann.AnnOps.ivfAssignByJoin]]'s broadcast join): at
    * k = ceil(sqrt(1e10)) = 1e5, centroids-in-the-plan means ~1e5 x dim
    * doubles serialized into every stage's task binary — and for TRAINING,
    * re-ANALYZED as plan literals every iteration, which dies long before the
    * data does — while the table form ships them once as a broadcast per
    * round. The two trainers and the two assignment paths are output-pinned
    * bit-identical in DedupAnnSpec, so the switch moves cost shape only,
    * never results. Either way the ONE assignment table feeds both the stats
    * row and the pair stage. */
  def semanticDedupAuto(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, trainIters: Int = 3,
                        cellOverflowFactor: Double = 20.0,
                        tableAssignK: Int = 4096): (DataFrame, DataFrame) = {
    val vecs = df.select(col(idCol), col(vecCol))
    val n = vecs.count()
    val k = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    // cap = overflow x the expected sqrt(n) cell size: generous enough that a
    // healthy distribution never trips it, tight enough to confine the quadratic
    val cap = math.max(64, (cellOverflowFactor * math.sqrt(n.toDouble)).toInt)
    val assigned =
      if (k > tableAssignK) {
        val initW = Window.orderBy(col(idCol))
        val initDf = vecs.orderBy(col(idCol)).limit(k)
          .select((row_number().over(initW) - 1).cast("int").as("cid"),
            col(vecCol).cast("array<double>").as("centroid"))
        val dim = vecs.select(size(col(vecCol)).as("_d")).head.getInt(0)
        val centroidsDf = graft.ann.AnnOps.kmeansTrainTable(
          vecs, idCol, vecCol, initDf, dim, trainIters)
        graft.ann.AnnOps.ivfAssignByJoin(vecs, idCol, vecCol, centroidsDf)
      } else {
        val init = vecs.orderBy(col(idCol)).limit(k)
          .select(col(vecCol).cast("array<double>")).collect()
          .map(_.getSeq[Double](0).toSeq).toSeq
        val centroids = graft.ann.AnnOps.kmeansTrain(
          vecs.select(col(vecCol).cast("array<double>").as(vecCol)),
          vecCol, init, trainIters)
        vecs.withColumn("_cell", graft.ann.AnnOps.ivfAssign(col(vecCol), centroids))
      }
    val stats = assigned
      .withColumn("_csz", count(lit(1)).over(Window.partitionBy(col("_cell"))))
      .agg(count(lit(1)).as("n"),
        count_distinct(when(col("_csz") > cap, col("_cell"))).as("n_cells_capped"),
        sum(when(col("_csz") > cap, 1L).otherwise(0L)).as("n_vecs_excluded"))
      .withColumn("k", lit(k))
    val dropped = semanticDedupCore(assigned, idCol, vecCol, threshold, cap)
    (dropped, stats)
  }

  /** CCNet-style line-frequency dedup (Wenzek et al. 2020): delete EVERY
    * occurrence of a line whose normalized fingerprint appears in at least
    * `minDocFreq` DISTINCT documents. Unlike [[dedupParagraphs]] (keep-first),
    * a popular line disappears everywhere — nav bars / cookie banners /
    * "all rights reserved" footers are boilerplate wherever they occur, not
    * content attributable to the first page crawled. Whitespace-only lines are
    * document structure, not content: always kept. Documents are returned even
    * if every content line was removed (empty text, caller filters) so removal
    * accounting stays complete.
    *
    * Scale shape: one posexplode (row per line), one two-stage
    * groupBy(fingerprint) for document frequencies ((fp, id) distinct first, so
    * the combiner dedups map-side before the exchange), one fingerprint-keyed
    * join back (hash-co-partitioned with the agg — no extra exchange under AQE),
    * one groupBy(id) reassembly. A viral line makes a heavy fingerprint key on
    * the FREQ side only (one count row); the join back is a broadcast-size
    * lookup against the frequent-line subset when `minDocFreq` filtering is
    * pushed, and never all-pairs. */
  def dedupLinesByFrequency(df: DataFrame, idCol: String, textCol: String,
                            minDocFreq: Int = 2, sep: String = "\n"): DataFrame = {
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "_pos", "_line")
      .withColumn("_fp", graft.text.TextOps.fingerprint(col("_line")))
      .withColumn("_blank", trim(col("_line")) === "")
    // frequent-line table: only fingerprints at/over the threshold survive the
    // HAVING — at scale this is tiny (boilerplate is rare among distinct lines),
    // so the join back broadcasts under AQE
    val frequent = lines.filter(!col("_blank"))
      .select(col("_fp"), col(idCol)).distinct()
      .groupBy(col("_fp")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= minDocFreq)
    lines.join(frequent, Seq("_fp"), "left")
      .withColumn("_keep", col("_blank") || col("_df").isNull)
      .groupBy(col(idCol))
      .agg(
        concat_ws(sep, transform(
          filter(array_sort(collect_list(struct(col("_pos"), col("_line"), col("_keep")))),
            s => s.getField("_keep")),
          s => s.getField("_line"))).as(textCol),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_lines_removed"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_lines_kept"))
  }

  /** Incremental (shard-vs-corpus) near-dedup — the daily ingestion path at
    * 100 TB: test a NEW shard for near-duplicates against the already-deduped
    * corpus and within itself, WITHOUT re-scoring corpus-internal pairs (the
    * corpus was deduped when it was built; re-comparing it every snapshot is
    * the O(total²) trap that makes full-corpus dedup unrunnable daily).
    *
    * Pair universe: (shard doc, any corpus doc) plus (shard doc, earlier shard
    * doc) — the shard doc is always the DROP side. Returns one row per
    * duplicate shard doc: its best match by exact Jaccard (ties to the lower
    * matched id) and whether that match lives in the corpus. Shard survivors =
    * `shard` anti-joined on the returned ids.
    *
    * Scale shape: same banded-LSH machinery as [[minhashNearDups]], with the
    * provenance flag riding the bucket structs so corpus×corpus products are
    * pruned BEFORE the second explode — a bucket contributes
    * |shard ∩ bucket| × |bucket| candidates, not |bucket|². In production the
    * corpus signature table (`_h32`/`_sig`) is a persisted build artifact; only
    * the shard side is computed per snapshot. Both sigTable persists follow the
    * d2 caller-release contract (BASELINE.md). */
  def incrementalNearDups(corpus: DataFrame, shard: DataFrame,
                          idCol: String, textCol: String,
                          threshold: Double = 0.7, shingleN: Int = 3,
                          k: Int = 32, bands: Int = 8, maxBucketSize: Int = 500,
                          estCutoff: Double = 0.2): DataFrame = {
    require(k % bands == 0, "k must be divisible by bands")
    requireBucketCap(maxBucketSize) // before the persists: a refused call pins nothing
    val prep = sigTable(corpus, idCol, textCol, shingleN, k, Md5Portable)
      .withColumn("_new", lit(false))
      .unionByName(sigTable(shard, idCol, textCol, shingleN, k, Md5Portable)
        .withColumn("_new", lit(true)))
    val pairs = bandPairs(
      prep.select(struct(col(idCol).as("id"), col("_sig").as("sig"),
          col("_new").as("isNew")).as("_rec"),
        explode(lshBandKeys(col("_sig"), bands, k / bands)).as("_band")),
      maxBucketSize, !col("b.isNew") || col("b.id") < col("a.id"), Some(col("a.isNew")))
    bestMatch(
      minhashVerify(pairs, prep, idCol, k, estCutoff, threshold, col("b.isNew").as("_bNew")),
      "id1", col("jaccard").desc, col("id2"))
      .select(col("id1").as(idCol), col("id2").as("matched_id"),
        round(col("jaccard"), 6).as("best_jaccard"), (!col("_bNew")).as("vs_corpus"))
  }

  /** Quality-aware cluster resolution (the FineWeb/Gopher curation rule): given
    * near-dup clusters (e.g. [[connectedComponentsStar]] output `(id, cluster)`) and
    * a per-document quality score, keep the HIGHEST-quality member of each
    * cluster instead of the lowest id — dedup should discard the mirror with the
    * ads, not the original. Ties break on the lower id (deterministic).
    *
    * Scale shape: one id-keyed equi-join (both sides hash-partition on id), one
    * window shuffle on the cluster key. Cluster cardinality is bounded by the
    * near-dup clique size, so the per-partition sort state is small; the window
    * computes a single row_number — O(1) memory per key. */
  def resolveClustersByQuality(clusters: DataFrame, quality: DataFrame,
                               idCol: String, qCol: String): DataFrame = {
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col(qCol).desc, col(idCol))
    clusters.join(quality.select(col(idCol), col(qCol)), Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
  }
}
