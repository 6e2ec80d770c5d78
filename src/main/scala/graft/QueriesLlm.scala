package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ann.AnnOps
import graft.dedup.DedupOps
import graft.multimodal.MultimodalOps
import graft.multimodal.MultimodalOps.MediaRow
import graft.text.TextOps

/** Batch C query instantiations — the LLM-training-data quadrant (text analysis,
  * dedup, similarity search, multimodal plumbing) over `documents` / `embeddings`.
  *
  * The MinHash/SimHash oracles replicate the EXACT Spark computation in DuckDB SQL —
  * possible because every hash routes through md5 and the universal-hash coefficients
  * are deterministic Scala constants inlined into the generated SQL below. */
object QueriesLlm {

  /** The LLM-quadrant tables arrive as single-row-group parquet at test scale, which
    * Spark scans as ONE task — and these queries do their heavy per-row compute
    * (md5 shingles, signatures, token stats) scan-side, so that serializes them on a
    * single core. [[SparkEntry.loadTableFanout]] spreads rows across the cluster
    * ONLY when the scan cannot parallelize itself (r15: the former unconditional
    * repartition was a full-corpus shuffle per read at any scale). */
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.loadTableFanout(s, dir, name)

  /** d7/d7s body: MinHash near-dup pairs -> star-contraction components. */
  private def dedupClusters(s: SparkSession, dir: String): DataFrame =
    minhashClusters(t(s, dir, "documents"))
      .select(col("id").as("doc_id"), col("cluster"),
        (col("id") === col("cluster")).as("keep"))

  private def r4(c: Column): Column = round(c, 4)

  /** Fixture-cache key component for the mm3/mm4r materialized-payload caches:
    * corpus digest = count + an ORDER-INDEPENDENT hash of the doc_id set
    * (sum of xxhash64 over each id — one aggregation job, two longs).
    * Folding the set hash into the cache filename means a corpus at the same
    * path whose doc_id SET changes while the row count stays equal can never
    * silently reuse stale payloads: unlike the previous count+sum+min+max
    * digest, distinct id sets colliding requires an xxhash64 sum collision,
    * not just an arithmetic coincidence like {1,4,5,10} vs {1,3,6,10}
    * (ADVICE r13). */
  private def corpusDigest(s: SparkSession, dir: String): String = {
    // the xxhash64 sum rides decimal(38,0): a plain long sum overflows after
    // a few rows, which ANSI mode (the Spark 4 default) turns into a runtime
    // error rather than the wrap a digest could live with
    val r = t(s, dir, "documents").agg(
      count(lit(1)),
      sum(xxhash64(col("doc_id").cast("long")).cast("decimal(38,0)"))).head()
    val setHash =
      if (r.isNullAt(1)) java.math.BigInteger.ZERO
      else r.getDecimal(1).toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64))
    s"${r.getLong(0)}_${setHash.toString(16)}"
  }

  /** Shared media fixture cache (mm3/mm4r/mm5/pipe6): synthesize one MediaRow
    * per document id, MATERIALIZED once per (tag, path, corpus digest) to a
    * tmp parquet and re-read on later runs — so the timed query measures the
    * real operator (container/codec decode + features), never the fixture
    * synthesis (VERDICT r10 bench-hygiene rule). `tag` carries the fixture
    * version token: any synthesis change must bump it, so each tag is
    * written at exactly one call site (the fixture defs below). */
  private def mediaFixture(s: SparkSession, dir: String, tag: String, kind: String,
      payload: Long => Array[Byte]): Dataset[MediaRow] = {
    import s.implicits._
    val cache = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${tag}_${math.abs(dir.hashCode)}_${corpusDigest(s, dir)}.parquet")
    if (!cache.exists()) {
      t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id")).as[Long]
        .map(did => MediaRow(did, kind, payload(did), Map.empty))
        .write.mode("overwrite").parquet(cache.getAbsolutePath)
    }
    s.read.parquet(cache.getAbsolutePath).as[MediaRow]
  }

  /** mm4r/pipe6: each doc's md5 grid as a real 9×8 truecolor PNG. */
  private def mm4rImages(s: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFixture(s, dir, "mm4r_png_v1", "image", MultimodalOps.mm4FixturePng)

  /** mm6/pipe7/mm8/mm9: MJPEG-AVI videos with shots shared per 4-doc group. */
  private def mm6Videos(s: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFixture(s, dir, "mm6_avi_v2", "video", MultimodalOps.mm6FixtureAvi)

  /** mm7/pipe8: step WAVs whose 256-sample blocks hold md5-derived levels. */
  private def mm7Wavs(s: SparkSession, dir: String): Dataset[MediaRow] =
    mediaFixture(s, dir, "mm7_wav_v1", "audio", MultimodalOps.mm7FixtureWav)

  /** Persist `df` and populate the cache before its consumers run: a lazy
    * cache first touched by concurrently submitted AQE jobs is computed once
    * per job (the mm10 lesson, measured at 100×). Released by the harness
    * clearCache; library callers unpersist. */
  private def pinned(df: DataFrame): DataFrame = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** mm6/pipe7's keyframe dHash table over the mm6 videos, pinned: it feeds
    * both the pairing and the per-video counts. */
  private def mm6Keyframes(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    pinned(MultimodalOps.videoKeyframeHashes(MultimodalOps.videoGrayRasters(mm6Videos(s, dir))))
  }

  /** mm8/mm9's pooled 64-bit code per mm6 video (majority over keyframes). */
  private def mm6VideoHashes(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    MultimodalOps.videoHash64(MultimodalOps.videoKeyframeHashes(
      MultimodalOps.videoGrayRasters(mm6Videos(s, dir))))
  }

  /** mm4w/mm9w's analytic 64-bit codes: per group of 4 docs a shared
    * md5-derived base code, with disjoint per-member bit flips (member 1 flips
    * 4 bits, member 2 five, member 3 seven). */
  private def wideCodes(s: SparkSession, dir: String): DataFrame = {
    val g = md5(concat(lit("w"), (col("doc_id") / 4).cast("long").cast("string")))
    t(s, dir, "documents")
      .select(col("doc_id"),
        conv(substring(g, 1, 8), 16, 10).cast("long").as("hi0"),
        conv(substring(g, 9, 8), 16, 10).cast("long").as("lo0"),
        pmod(col("doc_id"), lit(4)).as("m"))
      .select(col("doc_id"),
        when(col("m") === 3, col("hi0").bitwiseXOR(lit(0x7f00L)))
          .otherwise(col("hi0")).as("hi"),
        when(col("m") === 1, col("lo0").bitwiseXOR(lit(0xfL)))
          .when(col("m") === 2, col("lo0").bitwiseXOR(lit(0x1f00000L)))
          .otherwise(col("lo0")).as("lo"))
  }

  /** pipe6/pipe8's funnel row over `items(id, …)`: the input count, the ids
    * dropped for a near-dup partner of smaller id (keep-smallest-id), and the
    * survivors split by two quality gates. The dropped ids are flagged by one
    * left join, so `pairs` is planned once, and one aggregate counts them all. */
  private def dropFunnel(items: DataFrame, pairs: DataFrame,
      low: (String, Column), kept: (String, Column)): DataFrame = {
    val dropped = pairs.select(col("id2").as("id"), lit(true).as("_dropped")).distinct()
    val survivor = col("_dropped").isNull
    items.join(dropped, Seq("id"), "left").agg(
      count(lit(1)).as("n_input"), count(col("_dropped")).as("n_dup_dropped"),
      count(when(survivor && low._2, lit(1))).as(low._1),
      count(when(survivor && kept._2, lit(1))).as(kept._1))
  }

  /** `embeddings` with the vector cast to `v: array<double>`. */
  private def vectors(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").withColumn("v", col("embedding").cast("array<double>"))

  /** The ANN queries' two sides of `emb(vec_id, v)`: every vector as the
    * corpus `(cid, cv)`, the first ten as the queries `(qid, qv)`. */
  private def annSides(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.select(col("vec_id").as("cid"), col("v").as("cv")),
      emb.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("v").as("qv")))

  /** The 8 deterministic basis-vector centroids of the IVF queries (cosine
    * argmax == component argmax, so their oracles are plain SQL). */
  private val basisCentroids: Seq[Seq[Double]] =
    (0 until 8).map(i => Seq.tabulate(64)(j => if (j == i) 1.0 else 0.0))

  /** e7/e8/e8t/e11's product-quantization codebooks (8x16x8, seed 7). */
  private val pqBooks = AnnOps.pqCodebooks(m = 8, k = 16, subDim = 8, seed = 7L)

  /** d5/d12's corpus: the raw embeddings are mutually random (max pairwise
    * cos ~0.51), so a perturbed near-copy (0.9*v + 0.1*shift(v), cos ~0.99 to
    * its source, id + 100000) of each of the first 50 vectors is planted. */
  private def plantedEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    base.unionByName(base.filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(sequence(lit(1), lit(64)), j =>
          lit(0.9) * element_at(col("v"), j) +
          lit(0.1) * element_at(col("v"), pmod(j, lit(64)) + 1)).as("v")))
  }

  /** d13/d15's corpus: the documents plus, for every 20th, a planted doc
    * replicating its 60-token prefix (>= k+w-1 = 50 tokens, so the winnowing
    * guarantee forces a shared fingerprint). */
  private def plantedSpans(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + 100000).as("doc_id"),
        concat(concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 60)),
          lit(" planted tail marker "), col("doc_id").cast("string")).as("text")))
  }

  /** The d2 MinHash near-dup pairs (threshold 0.4, 3-shingles, k=32, 8 bands). */
  private def minhashPairs(docs: DataFrame): DataFrame =
    DedupOps.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.4, shingleN = 3, k = 32, bands = 8)

  /** d7/d18/pipe3: the d2 pairs contracted to components `(id, cluster)` by
    * star contraction, the 100x-adjudicated CC default (SCALE.md r11 — 85 s
    * vs label-propagation's 322 s at 100x; identical output contract). */
  private def minhashClusters(docs: DataFrame): DataFrame =
    DedupOps.connectedComponentsStar(minhashPairs(docs).select(col("id1"), col("id2")))

  /** samp10/samp11's input: `(doc_id, lang, text)`. */
  private def langTexts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))

  /** The documents with their normalized 10-token prefix `text10`. */
  private def text10(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("text10", concat_ws(" ", slice(TextOps.tokens(lower(col("text"))), 1, 10)))

  /** t9/samp4: `(doc_id, lang, <name>)` with the regex-heavy quality score
    * computed once and pinned — the consumers scan it twice (threshold agg +
    * join-probe; 10× bench min-of-2 7.4 s → 1.5 s, cold 10.1 s → 4.7 s). */
  private def langQuality(s: SparkSession, dir: String, name: String): DataFrame =
    pinned(t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), TextOps.qualityScore(col("text")).as(name)))

  /** e10/pipe5's BM25 queries: tokens `from`..`from + n - 1` of every 100th
    * document below 5000, so the right doc (or chunk) should surface. */
  private def bm25Queries(docs: DataFrame, from: Int, n: Int): DataFrame =
    docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < 5000)
      .select(col("doc_id").as("qid"),
        concat_ws(" ", slice(TextOps.tokens(lower(col("text"))), from, n)).as("qtext"))

  /** t15/pipe5: sentence-boundary chunks to 32-token windows — the corpus has
    * no punctuation, so sentence ends are planted on every 'table'. */
  private def sentenceChunks(docs: DataFrame): DataFrame =
    TextOps.chunkBySentences(
      docs.withColumn("text2", regexp_replace(col("text"), "\\btable\\b", "table.")),
      "doc_id", "text2", maxTokens = 32)

  /** a19-a21's precip observations: the day's total `dayTotal(day of month)`
    * rides on each (user, day)'s first event (the rest are zero), so daily sums
    * are the exact planted values; `flag` runs over `(user_id, ts, pr,
    * pr_eraqc)` and its output is projected to the oracle's columns. */
  private def precipFlags(s: SparkSession, dir: String, dayTotal: Column => Column,
      flag: (DataFrame, Seq[String], String, String, String) => DataFrame): DataFrame = {
    val rn = row_number().over(Window.partitionBy(col("user_id"), to_date(col("ts")))
      .orderBy(col("ts"), col("event_id")))
    val obs = t(s, dir, "events").select(col("user_id"), col("event_id"), col("ts"),
        when(rn === 1, dayTotal(dayofmonth(col("ts")))).otherwise(0.0).as("pr"),
        lit(null).cast("int").as("pr_eraqc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    flag(obs, Seq("user_id"), "ts", "pr", "pr_eraqc")
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("time_s"),
        round(col("pr"), 4).as("pr"), col("pr_eraqc").as("flag"))
  }

  /** Marker sets chosen from the synthetic documents' vocabulary so language-ID is
    * non-vacuous on the test tables (real deployments pass real language markers). */
  private val TestMarkers: Map[String, Seq[String]] = Map(
    "alpha" -> Seq("spark", "sql", "batch", "stream"),
    "beta" -> Seq("data", "table", "row", "column"),
    "gamma" -> Seq("sort", "hash", "scan", "merge"))

  /** t19's fixed merge table — rank-consistent (every component is a single char
    * or a lower-rank merge's output) over corpus-common words, so whole-word
    * ("table", "a"), suffix ("e</w>"), prefix ("sc") and mid-word ("ta" inside
    * "data") merges all fire on the synthetic vocabulary. */
  private val t19Merges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "tab" -> "l", "tabl" -> "e", "table" -> "</w>",
    "a" -> "</w>", "s" -> "c", "e" -> "</w>")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Text stats: token/char counts + mean token length per document
    "t1_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tok"),
        TextOps.bpeishTokenCount(col("text")).as("n_bpe"),
        TextOps.charCount(col("text")).as("n_chars2"),
        r4(TextOps.meanTokenLength(col("text"))).as("mean_tok_len"))
    }),

    // Language ID (argmax over marker-set hits)
    "t2_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("det", TextOps.langIdLite(col("text"), TestMarkers))
        .groupBy(col("det")).agg(count(lit(1)).as("n"))
    }),

    // Winnowing fingerprints (rolling k-gram hash + window-min selection)
    "t3_winnowing" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("fp", TextOps.winnowingFingerprints(col("text"), k = 5, w = 4))
        .select(col("doc_id"), size(col("fp")).cast("long").as("n_fp"),
          element_at(col("fp"), 1).as("min_fp"),
          element_at(col("fp"), -1).as("max_fp"))
    }),

    // Composite quality score (C4/Gopher-style cheap filters folded into one number)
    "t4_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    }),

    // Deterministic train/val/test split by id hash (order/partitioning independent)
    "t5_split_assign" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("split", TextOps.splitAssign(col("doc_id"), 0.05, 0.05))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
    }),

    // Exact dedup on a 10-token prefix (24 collision groups in sf0.01)
    "d1_dedup_exact" -> ((s, dir) =>
      DedupOps.exactDedup(text10(s, dir), "doc_id", "text10").select(col("doc_id"))),

    // MinHash + banded LSH near-duplicate pairs, Jaccard-verified
    "d2_minhash_neardups" -> ((s, dir) => minhashPairs(t(s, dir, "documents"))),

    // d22: the r12 bucket-cap LEDGER itself under the cross-engine gate — the
    // "no silent caps" audit companion to d2's banded LSH. The cap is
    // deliberately tiny (4) so the corpus' real boilerplate buckets land over
    // it and every ledger column carries signal; aggregation-only, no pairs.
    "d22_cap_ledger" -> ((s, dir) =>
      DedupOps.minhashCapStats(t(s, dir, "documents"), "doc_id", "text",
        maxBucketSize = 4)),

    // d2x: the PRODUCTION hash path — same pipeline under XxHash64Fast (Spark-native
    // xxhash64, codegen'd, no hex round-trip). Rows-only BY DESIGN: xxhash64's seed is
    // Spark-specific so no cross-engine oracle exists; pair-parity with the md5 path
    // is pinned by DedupAnnSpec. Benched so the md5-vs-xxhash cost delta of the
    // path a real 100 TB run would use is measured, not assumed (BASELINE.md).
    "d2x_minhash_xxhash" -> ((s, dir) => {
      DedupOps.minhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.4, shingleN = 3, k = 32, bands = 8,
        strategy = DedupOps.XxHash64Fast)
    }),

    // a18: two-sample KS drift per event_type between even/odd user cohorts; a +50
    // shift planted on the click/b slice makes one group's drift near-maximal while
    // the untouched groups measure the cohorts' natural (near-zero) divergence
    "a18_ks_drift" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("side", when(col("user_id") % 2 === 0, "a").otherwise("b"))
        .withColumn("v",
          when(col("event_type") === "click" && col("user_id") % 2 =!= 0,
            col("value") + 50.0).otherwise(col("value")))
      graft.ops.AggOps.ksStatistic(e, Seq("event_type"), "v", "side", "a", "b")
    }),

    // a19 / flag 31: frequent-precip check — the day's total rides on the day's
    // first obs (rest zero), so daily sums are exact planted values: uid%7==0
    // gets a 6-day run of 20.5 (flagged), uid%7==3 a 3-day run of 25.0 (below
    // dayThresh), zeros exercise the non-zero-day sequence, the rest are distinct
    "a19_frequent_precip" -> ((s, dir) => precipFlags(s, dir, di =>
      when(col("user_id") % 7 === 0 && di.between(10, 15), 20.5)
        .when(col("user_id") % 7 === 3 && di.between(10, 12), 25.0)
        .when(col("user_id") % 7 === 0 || col("user_id") % 7 === 3, di + 0.5)
        .when(di % 5 === 0, 0.0)
        .otherwise(di * 1.5),
      graft.ops.AggOps.frequentPrecipFlag(_, _, _, _, _))),

    // a20 / flag 32: daily-precip climatological outlier — ordinary days (1..5 mm)
    // anchor the monthly nonzero p95 at <= 5 (>= 21 ordinaries per user at sf0.01),
    // so 9*p95 <= 45 and the planted 100 mm day flags; di%7==3 zero days exercise
    // the nonzero-population filter
    "a20_clim_precip" -> ((s, dir) => precipFlags(s, dir, di =>
      when(col("user_id") % 6 === 0 && di === 14, 100.0)
        .when(di % 7 === 3, 0.0)
        .otherwise((di % 5).cast("double") + 1.0),
      graft.ops.AggOps.climOutlierPrecipFlag(_, _, _, _, _))),

    // a21 / flag 33: daily-precip unusual gap — the planted lone 500 mm day is
    // > 200 from every other daily total (incl. the zero grid days) and flags;
    // uid%11==5 plants TWO 500 days whose mutual gap is 0, so neither flags
    // (the all-others-differ rule); the op's sorted-neighbor window replaces the
    // reference's O(n^2) difference matrix
    "a21_gap_precip" -> ((s, dir) => precipFlags(s, dir, di =>
      when(col("user_id") % 11 === 0 && di === 25, 500.0)
        .when(col("user_id") % 11 === 5 && (di === 24 || di === 25), 500.0)
        .otherwise(((di % 9) * 4).cast("double")),
      graft.ops.AggOps.unusualGapsPrecipFlag(_, _, _, _, _))),

    // d11: paragraph-level boilerplate removal — a constant banner paragraph planted
    // on every third doc survives only in its first corpus-wide occurrence
    "d11_paragraph_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text2",
          when(col("doc_id") % 3 === 0,
            concat(lit("subscribe to our newsletter accept all cookies\n\n"), col("text")))
          .otherwise(col("text")))
      DedupOps.dedupParagraphs(docs, "doc_id", "text2")
    }),

    // d19: incremental shard-vs-corpus near-dedup — the doc_id%5 slice arrives as
    // the new shard; duplicates resolve against the standing corpus (vs_corpus)
    // or an earlier shard doc, never corpus-vs-corpus
    "d19_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.incrementalNearDups(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.4, shingleN = 3, k = 32, bands = 8)
    }),

    // d17: CCNet line-frequency dedup — a header line planted on EVERY doc and a
    // copyright footer on every third doc are removed from all occurrences (not
    // keep-first); per-doc unique footers and unique body lines survive
    "d17_line_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text2", concat_ws("\n",
          lit("home about contact login"),
          col("text"),
          when(col("doc_id") % 3 === 0,
            lit("copyright example corp all rights reserved"))
            .otherwise(concat(lit("footer token "), col("doc_id").cast("string")))))
      DedupOps.dedupLinesByFrequency(docs, "doc_id", "text2", minDocFreq = 2)
    }),

    // d18: quality-aware cluster resolution — same clusters as d7, but the keeper
    // is the LONGEST member (n_chars), ties to the lower id: discard the mirror
    // with the ads, not the original
    "d18_cluster_quality_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = minhashClusters(docs).withColumnRenamed("id", "doc_id")
      DedupOps.resolveClustersByQuality(clusters,
          docs.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars")
        .select(col("doc_id"), col("cluster"), col("keep"),
          col("n_chars").cast("long").as("q"))
    }),

    // d10: fuzzy decontamination — GPT-3-style n-gram overlap fraction against the
    // held-out source (5-grams here: the synthetic docs are short; production uses 13)
    "d10_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.contaminationScore(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "doc_id", "text", n = 5)
    }),

    // SimHash-32 per document
    "d3_simhash" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        DedupOps.simhash32(col("text")).as("simhash"))
    }),

    // SimHash near-dup pairs: 4x8-bit multi-index banding + exact Hamming verify
    // (recall = 1 for Hamming <= 3 by pigeonhole)
    "d6_simhash_neardups" -> ((s, dir) => {
      DedupOps.simhashNearDups(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
    }),

    // n-gram Jaccard of consecutive doc pairs
    "d4_ngram_jaccard" -> ((s, dir) => {
      val sh = t(s, dir, "documents")
        .select(col("doc_id"), DedupOps.shingles(col("text"), 3).as("sh"))
      val a = sh.select(col("doc_id").as("id1"), col("sh").as("sh1"))
      val b = sh.select(col("doc_id").as("id2"), col("sh").as("sh2"))
      a.join(b, col("id2") === col("id1") + 1)
        .select(col("id1"), col("id2"),
          round(DedupOps.jaccard(col("sh1"), col("sh2")), 6).as("jaccard"))
    }),

    // Brute-force cosine top-5 for 10 query vectors (exact ANN baseline)
    "e1_ann_brute" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      // the op already rounds cos to 6dp — re-rounding to 4dp would DOUBLE-round
      // (0.30624989 -> 0.306250 -> 0.3063) while the oracle's single ROUND(raw, 4)
      // gives 0.3062; emit the op's 6dp value and round ONCE on both sides
      AnnOps.bruteForceTopK(corpus, "cid", "cv", queries, "qid", "qv", k = 5)
        .select(col("qid"), col("cid"), col("cos"), col("rank"))
    }),

    // LSH-bucketed ANN (rows-only check here; recall >= 0.9 property-tested in
    // AnnOpsSpec against the brute-force baseline)
    "e2_ann_lsh" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      AnnOps.lshTopK(corpus, "cid", "cv", queries, "qid", "qv",
        k = 5, nPlanes = 10, dim = 64)
    }),

    // IVF coarse quantization: assign each vector to its nearest of 8 deterministic
    // basis-vector centroids (cosine argmax == component argmax, so the oracle is SQL)
    "e3_ivf_assign" -> ((s, dir) =>
      vectors(s, dir)
        .withColumn("cid", AnnOps.ivfAssign(col("v"), basisCentroids).cast("long"))
        .groupBy(col("cid")).agg(count(lit(1)).as("n"))),

    // Embedding-cosine near-dup: banded random-hyperplane LSH + exact cosine verify;
    // the op must recover the planted near-copies through the buckets.
    // 16-bit bands (48 planes / 3 bands): 8-bit keys saturate once the corpus
    // approaches 2^8 per bucket — measured 711x slowdown at 50x data (SCALE.md r6)
    "d5_embed_neardups" -> ((s, dir) =>
      DedupOps.embeddingNearDups(plantedEmbeddings(s, dir), "vec_id", "v",
        threshold = 0.8, nPlanes = 48, bands = 3, dim = 64)),

    // IVF search: probe the 2 nearest posting lists per query, brute-force within
    // e9: IVF RANGE search -- every corpus vector with cos >= 0.2 of each query
    // via the e4 posting-list plan; threshold filter instead of rank window, so
    // the op is shuffle-free (broadcast probes, argmax cells meet once)
    "e9_ivf_range" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      AnnOps.ivfRangeSearch(corpus, "cid", "cv", queries, "qid", "qv",
        basisCentroids, nProbe = 2, minCos = 0.2)
    }),

    "e4_ivf_topk" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      AnnOps.ivfTopK(corpus, "cid", "cv", queries, "qid", "qv",
        basisCentroids, nProbe = 2, k = 5)
    }),

    // Int8 scalar quantization round-trip: cosine(original, dequantized) and max
    // per-component reconstruction error — the embedding storage path at scale
    "e5_quantize" -> ((s, dir) => {
      val emb = vectors(s, dir)
        .withColumn("q", AnnOps.quantizeInt8(col("v")))
        .withColumn("dq", AnnOps.dequantizeInt8(col("q")))
      emb.select(col("vec_id"),
        round(AnnOps.cosine(col("v"), col("dq")), 6).as("qcos"),
        round(aggregate(zip_with(col("v"), col("dq"), (a, b) => abs(a - b)),
          lit(0.0), (acc, x) => greatest(acc, x)), 6).as("max_err"))
    }),

    // e12: asymmetric scalar-quantized top-k (r15) — the SEARCH half of e5's
    // int8 storage path: corpus as codes + (mn, mx), float queries, score =
    // dot(query, dequantized) via the integer-fold expansion (never
    // materializing the dequantized vector) — 8x less corpus I/O than
    // float64 brute force at identical ranking (property-pinned in
    // DedupAnnSpec; composes with e4's IVF cell pruning like e8 does for PQ)
    "e12_sq_topk" -> ((s, dir) => {
      val emb = vectors(s, dir)
      val corpus = emb.select(col("vec_id").as("cid"),
        AnnOps.quantizeInt8(col("v")).as("sq"))
      AnnOps.sqTopK(corpus, "cid", "sq", annSides(emb)._2, "qid", "qv", k = 5)
    }),

    // e13: IVF + SQ top-k (r15) — e12's quantized scoring behind e4's cell
    // pruning, the SQ row of the quantized-index matrix (IVF+PQ = e8): the
    // index stores only (id, cell, int8 codes), queries scan nProbe cells
    "e13_ivfsq_topk" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      AnnOps.ivfSqTopK(corpus, "cid", "cv", queries, "qid", "qv",
        basisCentroids, nProbe = 2, k = 5)
    }),

    // Multimodal plumbing: byte-length accounting through the typed mapPartitions path
    "mm1_byte_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val docs = t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
      graft.multimodal.MultimodalOps.withByteFeatures(docs, "doc_id", "payload")
        .select(col("doc_id"), col("length"))
    }),

    // Multimodal resize stage: stride-4 decimation through the typed kernel; the
    // length contract (ceil(n/4)) and provenance metadata are the oracle-checkable part
    "mm2_resize" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val rows = t(s, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), lit("image").as("kind"),
          encode(col("text"), "UTF-8").as("payload"),
          typedLit(Map.empty[String, String]).as("meta"))
        .as[graft.multimodal.MultimodalOps.MediaRow]
      // text bytes are not a decodable image, so this exercises the documented
      // stride-decimation fallback (the ceil(n/4) length contract below); real
      // PNG decode/resize is pinned by MultimodalSpec
      graft.multimodal.MultimodalOps.resize(rows, 4).toDF()
        .select(col("id").as("doc_id"),
          length(col("payload")).cast("long").as("resized_len"),
          element_at(col("meta"), "orig_bytes").cast("long").as("orig_len"))
    }),

    // d7: duplicate-cluster resolution — LSH near-dup pairs -> connected components
    // (star contraction) -> one canonical doc (the minimum id) per cluster
    "d7_dedup_clusters" -> dedupClusters,

    // d7s: same body and oracle as d7
    "d7s_dedup_clusters_star" -> dedupClusters,

    // t6: Gopher-style repetition stats per document (shuffle-free HOF fold)
    "t6_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.repetitionStats(col("text"), 2).as("r"))
        .select(col("doc_id"), col("r.n_grams").as("n_grams"),
          col("r.dup_grams").as("dup_grams"), col("r.top_gram").as("top_gram"))
    }),

    // t7: rule-based PII redaction; the synthetic corpus has no PII, so the query
    // plants deterministic doc_id-derived emails/urls/ids/ips on both engine sides
    "t7_redact" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("dirty", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com or http://ex.com/page/"), col("doc_id").cast("string"),
          lit(" ref "), (col("doc_id") * 7919 + 1000000).cast("string"),
          lit(" ip 10.0."), (col("doc_id") % 256).cast("string"), lit(".17")))
        .select(col("doc_id"), graft.text.TextOps.redact(col("dirty")).as("red"))
    }),

    // d9: benchmark decontamination — drop corpus docs whose normalized 10-token
    // prefix collides with the held-out set (source src0)
    "d9_decontaminate" -> ((s, dir) => {
      val docs = text10(s, dir)
      DedupOps.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "text10")
        .select(col("doc_id"))
    }),

    // d16: two-stage Bloom decontamination — result bit-identical to d9 (both
    // share one oracle); the bloom stage only routes rows around the anti-join
    // shuffle.
    "d16_bloom_decontam" -> ((s, dir) => {
      val docs = text10(s, dir)
      DedupOps.decontaminateBloom(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"), "text10",
        expectedItems = 10000L, fpp = 0.01)
        .select(col("doc_id"))
    }),

    // e6: one spherical k-means step; centroid init = the 8 smallest-id embeddings
    // (a k-row driver collect — centroid seeding, not a data collect)
    "e6_kmeans_step" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents: Seq[Seq[Double]] = emb.orderBy("vec_id").limit(8)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
      AnnOps.kmeansStep(emb, "embedding", cents)
        .select(col("cid"), col("n"),
          round(element_at(col("centroid"), 1), 4).as("c1"),
          round(element_at(col("centroid"), 2), 4).as("c2"))
    }),

    // pipe2: the curation funnel end-to-end (quality -> lang -> dedup -> sample)
    "pipe2_curation" -> ((s, dir) => {
      val cfg = graft.pipeline.CurationPipeline.Config(
        minQuality = 0.7, markers = TestMarkers,
        rates = Map("alpha" -> 0.9, "beta" -> 0.5, "gamma" -> 0.25), defaultRate = 0.1)
      graft.pipeline.CurationPipeline.funnel(
        graft.pipeline.CurationPipeline.annotate(
          t(s, dir, "documents"), "doc_id", "text", cfg))
    }),

    // pipe3: the near-dedup journey end-to-end — LSH candidate pairs (the d2
    // params) -> connected components (the d7 contract) -> keep one doc per
    // cluster (min id) -> surviving corpus stats per source. The dropped set is
    // near-dup-sized, so the anti-join broadcasts under AQE; no corpus shuffle
    // beyond the d2/d7 stages themselves.
    "pipe3_near_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dropped = minhashClusters(docs)
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      docs.join(dropped, Seq("doc_id"), "left_anti")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_survivors"), sum(col("n_chars")).as("chars_kept"))
    }),

    // t8: concat-and-chunk sequence packing into 512-token context windows per lang
    "t8_chunk_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", TextOps.tokenCount(col("text")).cast("long"))
      graft.text.PackingOps.chunkPackAssign(docs, Seq("lang"), "doc_id", "n_tok", 512L)
        .select(col("doc_id"), col("pack_id"), col("pack_offset"), col("n_packs"))
    }),

    // e7: product quantization — 8 subspaces x 16 centroids (8 bytes/vector);
    // mse is exact (distance to the chosen centroid IS the reconstruction error)
    "e7_pq_encode" -> ((s, dir) => {
      vectors(s, dir)
        .withColumn("pq", AnnOps.pqEncode(col("v"), pqBooks))
        .select(col("vec_id"),
          element_at(col("pq.codes"), 1).as("c0"),
          element_at(col("pq.codes"), 2).as("c1"),
          round(col("pq.sse") / 64, 6).as("mse"))
    }),

    // e8: IVF-ADC — PQ codes in cosine cells, per-query L2 lookup tables
    "e8_ivfpq_topk" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      AnnOps.ivfPqTopK(corpus, "cid", "cv", queries, "qid", "qv",
        basisCentroids, pqBooks, nProbe = 2, k = 5)
    }),

    // e11: RESIDUAL IVF-PQ (FAISS IndexIVFPQ semantics) — PQ codes quantize
    // v − centroid(cell); one ADC LUT per probed cell from the query residual
    "e11_ivfpq_residual" -> ((s, dir) => {
      val (corpus, queries) = annSides(vectors(s, dir))
      AnnOps.ivfPqResidualTopK(corpus, "cid", "cv", queries, "qid", "qv",
        basisCentroids, pqBooks, nProbe = 2, k = 5)
    }),

    // e8t: the TRAINED IVF-ADC serving path — spherical-k-means cells (kmeansTrain,
    // init = 8 smallest-id embeddings) + per-subspace Lloyd-trained PQ codebooks
    // (pqTrain), fed into the same ivfPqTopK. Rows-only BY DESIGN: multi-round
    // k-means has no tractable SQL oracle; trained >= untrained recall at equal
    // nProbe is pinned by DedupAnnSpec, and determinism holds end-to-end (ordered
    // init, order-independent decimal sums, deterministic tie-breaks).
    "e8t_ivfpq_trained" -> ((s, dir) => {
      // persisted across the 5 training jobs (3 k-means + 2 PQ iterations) so each
      // reads the cast projection from cache instead of re-scanning parquet
      val emb = vectors(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val init: Seq[Seq[Double]] = emb.orderBy("vec_id").limit(8)
        .select(col("v")).collect().map(_.getSeq[Double](0).toSeq).toSeq
      val centroids = AnnOps.kmeansTrain(emb, "v", init, iters = 3)
      val cbs = AnnOps.pqTrain(emb, "v", m = 8, k = 16, subDim = 8,
        init = pqBooks, iters = 2)
      val (corpus, queries) = annSides(emb)
      val result = AnnOps.ivfPqTopK(corpus, "cid", "cv", queries, "qid", "qv",
        centroids, cbs, nProbe = 2, k = 5)
      // the training collects above already ran eagerly, so the cache has served
      // its purpose: release it here (r7 verdict item — library callers have no
      // harness clearCache). The serving action recomputes the pruned projection
      // from parquet once; ivfPqTopK persists its own code table.
      emb.unpersist(blocking = false)
      result
    }),

    // t10: per-source corpus stats — rows, exact distinct docs (by fingerprint),
    // token totals; the scale path swaps approx_count_distinct for the exact
    // distinct (HLL, one pass, no fingerprint shuffle) — property-tested in
    // TextOpsSpec, not oracle-compared (HLL sketches aren't cross-engine)
    "t10_corpus_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("_fp", TextOps.fingerprint(col("text")))
        .withColumn("_nt", TextOps.tokenCount(col("text")).cast("long"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("_fp")).as("n_distinct"),
          sum(col("_nt")).as("n_tokens"),
          max(col("_nt")).as("max_tokens"))
    }),

    // samp2: corpus mixture sampling — down-sample three sources to a 50/30/20 mix.
    // ONE source scan (r7 verdict item — was two full corpus scans): the 2-column
    // projection is persisted, and both the k-row per-source count aggregate and
    // the sampling pass read the cache. Released by the harness clearCache;
    // library callers unpersist after consuming the result (same contract as the
    // e8t training cache, BASELINE.md note). At 100 TB the counts would come from
    // a catalog or sketch instead — the exact aggregate is the oracle-comparable
    // form.
    "samp2_mixture" -> ((s, dir) => {
      val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts: Map[String, Long] = docs.groupBy(col("source")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val rates = TextOps.mixtureRates(counts, weights)
      docs
        .withColumn("keep", TextOps.stratifiedSampleFlag(col("doc_id"), col("source"),
          rates, defaultRate = 0.0))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("keep").cast("long")).as("n_kept"))
    }),

    // t9: per-language quality floor — drop the bottom quartile of quality per
    // lang over the pinned quality projection.
    "t9_quantile_gate" -> ((s, dir) =>
      graft.ops.AggOps.quantileGate(langQuality(s, dir, "quality"), Seq("lang"), "quality", 0.25)
        .select(col("doc_id"))),

    // samp4: CCNet head/middle/tail buckets — per-language score terciles
    // (quality stands in for the LM perplexity; lowerIsBetter flipped) over the
    // pinned quality projection t9 uses.
    "samp4_ccnet_buckets" -> ((s, dir) =>
      TextOps.perplexityBuckets(langQuality(s, dir, "q"), Seq("lang"), "q", lowerIsBetter = false)
        .groupBy(col("lang"), col("ccnet_bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast("decimal(18,6)")).cast("double").as("q_sum"))),

    // samp5: XLM-R alpha-smoothed language sampling weights (alpha = 0.3) — the
    // tail languages get boost > 1, the head language < 1
    "samp5_alpha_lang" -> ((s, dir) =>
      TextOps.alphaSampleWeights(t(s, dir, "documents"), "lang", alpha = 0.3)),

    // samp9: deterministic shuffle-and-shard — 8 shards, hash-uniform
    // assignment + independent within-shard shuffle order
    "samp9_shard_assign" -> ((s, dir) =>
      TextOps.shardAssign(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", nShards = 8)
        .select(col("doc_id"), col("lang"), col("shard"), col("pos"))),

    // d21: collection-level MinHash similarity — estimated shingle-set Jaccard
    // between SOURCES (mirrored-corpus / re-crawl detection), no doc pairs
    "d21_source_similarity" -> ((s, dir) =>
      DedupOps.sourceSimilarity(t(s, dir, "documents"), "source", "text")),

    // t18: trained char-trigram language ID — self-trained add-1 multinomial,
    // per-doc argmax prediction with the true label carried for confusion
    // analysis (t2's marker heuristic upgraded to a real classifier)
    "t18_trigram_langid" -> ((s, dir) =>
      TextOps.charTrigramLangId(t(s, dir, "documents"), "doc_id", "text", "lang")),

    // t17: interpolated Kneser-Ney bigram LM score — the real CCNet-class
    // perplexity filter (t13's unigram MLE upgraded); self-trained, exact
    // integer count tables
    "t17_kn_bigram_lm" -> ((s, dir) =>
      TextOps.knBigramScore(t(s, dir, "documents"), "doc_id", "text")),

    // mm3: REAL audio decode + feature extraction — deterministic sine WAVs
    // (real containers via javax.sound) round-trip through the PCM codec; the
    // oracle recomputes the exact integer samples analytically, so rms/zc
    // verify the full container→PCM→features path
    "mm3_audio_features" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // Bench hygiene (VERDICT r10): the WAV fixture is MATERIALIZED once per
      // (sf, corpus-size) to a tmp parquet and re-read on later runs, so the
      // timed query measures the real operator (container decode + PCM feature
      // pass), not javax.sound ENCODING of the fixture — exactly how a real
      // corpus would arrive (payloads on disk, not synthesized in-plan).
      val rows = mediaFixture(s, dir, "mm3_wav_v2", "audio", did =>
        MultimodalOps.sineWav(51 + (did % 7).toInt, 800 + (did % 5).toInt * 160))
      graft.multimodal.MultimodalOps.audioFrameFeatures(rows, windowSamples = 256)
        .toDF()
        .select(col("id").as("doc_id"), col("sampleRate").as("sample_rate"),
          col("nSamples").as("n_samples"), col("nWindows").as("n_windows"),
          col("zcTotal").as("zc_total"), round(col("rms"), 6).as("rms"))
    }),

    // d20: snapshot diff between two corpus versions — the synthetic "new
    // crawl drop" removes every 17th doc, changes every 11th, and re-adds
    // every 23rd under a new id; only added+changed would flow downstream
    "d20_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val cur = docs.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" changed")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      DedupOps.snapshotDiff(docs, cur, "doc_id", "text")
    }),

    // samp8: weighted sampling without replacement (A-ES keys) — 50 docs drawn
    // proportional to n_chars, deterministic for (salt, id, weight)
    "samp8_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", col("n_chars").cast("double"), k = 50)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("sample_key"))),

    // samp10: token-budget corpus materialization (VERDICT r14 #4) — fill
    // each language's TOKEN budget (not doc count) in deterministic salted-
    // hash stream order with the prefix/boundary-doc rule; 'de' is absent
    // from the budget map on purpose (defaultBudget 0 -> dropped, and the
    // ledger twin samp10a shows its boundary accounting). Integer token
    // counts and integer order keys make both queries exactly SQL-portable.
    "samp10_token_budget" -> ((s, dir) => {
      val (kept, _) = TextOps.tokenBudgetFill(langTexts(s, dir), "doc_id", "lang", "text",
        samp10Budgets)
      kept.select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
    }),

    // samp10a: the per-source accounting row the materialization emits
    // alongside the kept docs — budget, docs/tokens filled, and the boundary
    // doc (first excluded in stream order; null = source exhausted under
    // budget, budget-0 sources surface their whole stream head here)
    "samp10a_budget_ledger" -> ((s, dir) => {
      val (_, ledger) = TextOps.tokenBudgetFill(langTexts(s, dir), "doc_id", "lang", "text",
        samp10Budgets)
      ledger.select(col("lang"), col("budget"), col("n_kept"),
        col("tokens_filled"), col("boundary_id"), col("boundary_tokens"))
    }),

    // samp11: token-budget materialization WITH repetition (the epoch plan) —
    // sources smaller than their budget repeat for whole epochs (capped at
    // maxEpochs=3) plus a partial top-up epoch under that epoch's OWN salted
    // shuffle. Budgets exercise every branch at sf0.01: en partial-only
    // (full=0), es 2 full epochs + mid-stream partial, fr capped at 3 epochs
    // (filled < budget), zh an exact 2-epoch fill (rem=0), de absent -> 0
    "samp11_epoch_plan" -> ((s, dir) => {
      val (plan, _) = TextOps.tokenBudgetEpochPlan(langTexts(s, dir), "doc_id", "lang", "text",
        samp11Budgets, maxEpochs = 3)
      plan.select(col("doc_id"), col("lang"), col("n_tokens"), col("n_epochs"))
    }),

    // samp11a: the per-source epoch accounting — total tokens, whole epochs,
    // partial-epoch picks, tokens filled, and the partial boundary doc (null
    // only when the epoch CAP, not the budget, stopped the fill — fr here;
    // zh's exact 2-epoch fill reports the would-be-epoch-3 head as boundary)
    "samp11a_epoch_ledger" -> ((s, dir) => {
      val (_, ledger) = TextOps.tokenBudgetEpochPlan(langTexts(s, dir), "doc_id", "lang", "text",
        samp11Budgets, maxEpochs = 3)
      ledger.select(col("lang"), col("budget"), col("total_tokens"),
        col("full_epochs"), col("n_partial"), col("tokens_filled"),
        col("boundary_id"), col("boundary_tokens"))
    }),

    // g1: PageRank over a link graph (host-rank quality signals for web
    // curation) — 5 damped power iterations, per-round 9dp-decimal rounding so
    // every iteration is bit-portable; the events-derived edge fixture is a
    // dense 300-node multigraph collapsed to simple edges
    "g1_pagerank" -> ((s, dir) => {
      val e = t(s, dir, "events").select(
        (col("user_id") % 300).as("src"),
        ((col("user_id") * 7 + (col("event_id") % 5)) % 300).as("dst"))
      graft.graph.GraphOps.pageRank(e, "src", "dst", iterations = 5)
    }),

    // samp7: cluster-balanced data selection — assign embeddings to their
    // nearest centroid cell (e3's coarse quantizer), keep the 25 most
    // representative vectors per cell (cosine to own centroid, vec_id
    // tiebreak). The e3 assignment composed with samp3's partial
    // WindowGroupLimit cap: mega-cells ship 25 rows per map task, never the
    // cell's full membership.
    "samp7_cluster_cap" -> ((s, dir) => {
      val emb = vectors(s, dir)
        .withColumn("cid", AnnOps.ivfAssign(col("v"), basisCentroids).cast("long"))
        .withColumn("rep", round(
          when(AnnOps.dot(col("v"), col("v")) === 0, 0.0)
            .otherwise(element_at(col("v"), col("cid").cast("int") + 1) /
              sqrt(AnnOps.dot(col("v"), col("v")))), 6))
      TextOps.capPerGroup(emb, col("cid"), 25, col("rep"), col("vec_id"))
        .select(col("vec_id"), col("cid"), col("rep"))
    }),

    // t16: BPE merge training — 8 merges learned over the corpus. Rows-only BY
    // DESIGN: the iterative argmax-merge-rewrite loop has no tractable SQL
    // oracle (each round's pair counts depend on every earlier merge);
    // TextOpsSpec pins the classic Sennrich worked example bit-exactly.
    "t16_bpe_train" -> ((s, dir) =>
      TextOps.bpeTrain(t(s, dir, "documents"), "text", nMerges = 8)),

    // t19: BPE segmentation (the tokenizer-APPLY path, native BpeSegmentNative
    // expression) under the cross-engine gate — a fixed rank-consistent merge
    // table segments every document and the subword vocabulary distribution is
    // compared. The DuckDB oracle reproduces segmentation exactly: each word's
    // symbols ride as chr(1)sym-chr(2) wrapped tokens and each merge is ONE
    // plain-string replace() (all non-overlapping occurrences, left-to-right —
    // precisely the greedy fold semantics), nested in rank order, which equals
    // the native rank-priority loop on any rank-consistent table (see
    // BpeSegmentNative's scaladoc; BpeApplySpec pins native == HOF fold).
    "t19_bpe_segment" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextOps.bpeSegment(col("text"), t19Merges)).as("sym"))
        .groupBy(col("sym")).agg(count(lit(1)).as("cnt"))),

    // t21: tokenizer FERTILITY rollup — chars-per-symbol under a merge table,
    // by source (the metric a tokenizer bake-off ranks vocabularies with; low
    // fertility = better compression on that slice). One native-segmentation
    // scan, no explode: symbol counts ride size(), per-source sums are exact
    // longs, the ratio a 6dp-rounded double.
    "t21_bpe_fertility" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("source"),
          length(col("text")).cast("long").as("_nc"),
          size(TextOps.bpeSegment(col("text"), t19Merges)).cast("long").as("_ns"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nc")).as("n_chars"),
          sum(col("_ns")).as("n_syms"))
        .withColumn("chars_per_sym",
          round(col("n_chars").cast("double") / col("n_syms").cast("double"), 6))),

    // t20: TRAINED hashed-feature linear quality classifier (the fastText-shaped
    // curation-filter slot) — label = (lang = 'en'), 64 md5 buckets + bias,
    // 10 full-batch gradient rounds at lr 0.02, trained IN the engine and applied
    // to every document. The rational sigmoid (0.5 + 0.5·z/(1+|z|)) keeps
    // training pure IEEE arithmetic, so the DuckDB oracle REPLAYS the whole
    // training run bit-exactly as unrolled CTE rounds (the g1 pattern).
    "t20_linear_classifier" -> ((s, dir) =>
      TextOps.linearClassifierScores(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 64, rounds = 10, lr = 0.02)),

    // mm4: perceptual image near-dup pairs (dHash + 4x16-bit multi-index
    // Hamming bands). The GRAY RASTERS are synthesized deterministically from
    // doc_id — groups of 4 docs share a base pattern with tiny per-doc
    // perturbation (near-dups), distinct groups differ — so the whole hash /
    // band / Hamming-verify core runs under the cross-engine hash gate; the
    // real payload→raster decode on-ramp (imageGrayRaster) is pinned
    // pixel-exactly in MultimodalSpec.
    "mm4_dhash_neardups" -> ((s, dir) => {
      val gray = t(s, dir, "documents")
        .select(col("doc_id"), (col("doc_id") / 4).cast("long").as("gid"))
        // md5-based cell values: no periodicity in gid, so distinct groups
        // NEVER collide into identical hashes at any corpus size (a v1
        // arithmetic pattern repeated every ~1280 groups — pair counts went
        // quadratic at 10x on the repeats)
        .withColumn("gray", transform(sequence(lit(0), lit(71)), p =>
          pmod(
            pmod(conv(substring(md5(concat(col("gid").cast("string"), lit(":"),
                p.cast("string"))), 1, 4), 16, 10).cast("long"), lit(256)) +
              pmod(col("doc_id"), lit(2)) * pmod(p * 13 + col("doc_id"), lit(2)) * 2,
            lit(256)).cast("int")))
      graft.multimodal.MultimodalOps.dHashNearDups(gray, "doc_id", "gray")
    }),

    // mm4w: WIDE-RADIUS perceptual near-dup pairs (VERDICT r14 #1) — the
    // 8x8-bit-band layout the hamming64Pairs chassis picks above radius 3,
    // pigeonhole-exact at hamming <= 7: the radius real re-encodes actually
    // land at (dHash distance 4-10 for quality/resolution/crop jitter), where
    // the 4x16 layout is blind past 3. The fixture plants EXACTLY that band:
    // per group of 4 docs, a shared md5-derived 64-bit base code with
    // disjoint per-member bit flips (member 1 flips 4 bits, member 2 five,
    // member 3 seven), so the kept pairs are the three member-0 pairs at
    // hamming 4/5/7 while the 1-2/1-3/2-3 pairs (hamming 9/11/12) prove the
    // verify filter, not the bands, draws the line.
    "mm4w_wide_neardups" -> ((s, dir) =>
      DedupOps.hamming64Pairs(wideCodes(s, dir), "doc_id", "hi", "lo", maxHamming = 7)),

    // mm4p: pHash (DCT) perceptual near-dup pairs (r15) — the industry-
    // standard ROBUST image hash: dHash's local gradients flip on small
    // jitter, the low-frequency DCT spectrum doesn't (a +16-on-11-pixels
    // probe measured pHash distance 0 where dHash moves), so pHash codes
    // feed the WIDE chassis at the radius real re-encodes land. The whole
    // path — PNG decode, 32x32 box-mean luma (identity on the exact-size
    // fixture), separable DCT in a FIXED fold order with basis literals
    // shared verbatim with the oracle, lower-median bit threshold, 8x8-band
    // pairing — is hash-exact vs SQL. Fixture distances: 0-6 kept (weak
    // jitters), 8-20 filtered (strong) — both sides of the verify line.
    "mm4p_phash_neardups" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val rows = mediaFixture(s, dir, "mm4p_png_v1", "image", MultimodalOps.mm4pFixturePng)
      val h = MultimodalOps.imagePHashes(rows)
      DedupOps.hamming64Pairs(h, "id", "hi", "lo", maxHamming = 7)
    }),

    // mm4r: mm4's REAL-DECODE twin (VERDICT r11 #2) — the payload→PNG-decode→
    // luma-raster on-ramp (imageGrayRaster + the from-scratch PNG fast path)
    // under the cross-engine gate, the way mm3 gated the WAV path. The fixture
    // materializes each doc's md5 grid as a REAL 9×8 truecolor PNG (cached
    // parquet, like mm3); at 9×8 = (hashW+1)×hashH with r=g=b=v the box-mean
    // luma raster is the identity, so the oracle recomputes the SAME grid as
    // mm4 and the whole decode→hash→band→verify path is hash-exact.
    "mm4r_dhash_decode" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val gray = MultimodalOps.imageGrayRaster(mm4rImages(s, dir))
      MultimodalOps.dHashNearDups(gray, "id", "gray")
    }),

    // pipe6: image-curation funnel (VERDICT r12 #6 — the cap-ledger audit
    // contract demonstrated END-TO-END, not just as the standalone d22): real
    // PNG decode (mm4r's corpus, shared cache) → dHash near-dup drop (LAION
    // keep-smallest-id rule) → contrast quality gate on survivors → one-row
    // funnel ledger whose columns INCLUDE the dHashCapStats bucket audit, so
    // a capped band (silently under-reported duplicates) is visible in the
    // same row as the counts it would distort.
    "pipe6_image_curation" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      // one decode pass feeds all three consumers (pairs, ledger, contrast)
      val gray = MultimodalOps.imageGrayRaster(mm4rImages(s, dir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val contrast = array_max(col("gray")) - array_min(col("gray"))
      dropFunnel(gray.select(col("id"), contrast.as("_contrast")),
          MultimodalOps.dHashNearDups(gray, "id", "gray"),
          "n_low_contrast" -> (col("_contrast") < 128), "n_kept" -> (col("_contrast") >= 128))
        .crossJoin(MultimodalOps.dHashCapStats(gray, "id", "gray"))
    }),

    // mm5: the VIDEO on-ramp under the gate (VERDICT r12 #1) — real MJPEG-AVI
    // containers (cached parquet, the mm3/mm4r pattern) walk VideoCodec's
    // RIFF parser, every movi frame decodes as a REAL JPEG via the per-row
    // javax path (the SPI-dispatch site this query measures), box-means to
    // the 9×8 luma raster, dHashes, and a per-video lag window marks
    // keyframes (frame 0, or hamming > 10 vs the previous frame — shot
    // detection, the video-curation primitive). Flat gray 8×8 blocks make the
    // JPEG round-trip exact (MultimodalOps.encodeJpeg scaladoc), so
    // hi/lo/hamming are hash-exact vs the analytic oracle.
    "mm5_video_keyframes" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      // r14: per-parity containers — even docs RIFF/AVI, odd docs ISO-BMFF/MP4
      // — so the query exercises BOTH from-scratch container walks under the
      // same container-independent analytic oracle
      val rows = mediaFixture(s, dir, "mm5_av_v2", "video", MultimodalOps.mm5FixtureVideo)
      // fused walk→decode→raster kernel (r13): one typed boundary per frame
      // instead of three (tuple → MediaRow → row re-serialized the ~KB frame
      // payload twice per frame)
      val dh = graft.multimodal.MultimodalOps.videoGrayRasters(rows)
        .select(col("id").as("doc_id"), col("frame_idx").cast("long"),
          graft.multimodal.MultimodalOps.dHash(col("gray")).as("dh"))
        .select(col("doc_id"), col("frame_idx"),
          col("dh.hi").as("hi"), col("dh.lo").as("lo"))
      val w = Window.partitionBy("doc_id").orderBy("frame_idx")
      dh.withColumn("_hamming",
          bit_count(col("hi").bitwiseXOR(lag("hi", 1).over(w))) +
            bit_count(col("lo").bitwiseXOR(lag("lo", 1).over(w))))
        .select(col("doc_id"), col("frame_idx"), col("hi"), col("lo"),
          // first SEEN frame (null lag) anchors, not frame_idx == 0 — the
          // videoKeyframeHashes / keyframeStream rule, so a video whose
          // leading frames failed decode still flags its first survivor
          when(col("_hamming").isNull || col("_hamming") > 10, 1).otherwise(0)
            .cast("int").as("is_keyframe"))
    }),

    // mm6: CROSS-video near-dup (VERDICT r13 #1) — the LAION-video dedup
    // primitive: per-video keyframe dHash sets (the mm5 shot-detection residue)
    // → banded-Hamming keyframe pairs across videos → video-level similarity
    // roll-up. The fixture plants shared shots (grids keyed on gid = doc/4
    // with a small per-video brightness jitter), so the four group members
    // pair at sim 1.0-ish while groups stay independent. Analytic oracle:
    // rebuilds every keyframe hash in SQL and does the (tiny) all-pairs rollup.
    // The keyframe table is a caller-held persist (the
    // videoNearDupsFromKeyframes contract).
    "mm6_video_neardups" -> ((s, dir) =>
      MultimodalOps.videoNearDupsFromKeyframes(mm6Keyframes(s, dir))),

    // pipe7: video-curation funnel (pipe6's contract for video) — ONE persisted
    // keyframe table (behind the container-walk+decode pass) feeds the
    // cross-video pair op, the keep-smallest-id drop, the survivor count, AND
    // the hamming-band cap ledger, all in one audit row.
    "pipe7_video_curation" -> ((s, dir) => {
      val kf = mm6Keyframes(s, dir)
      val pairs = MultimodalOps.videoNearDupsFromKeyframes(kf)
      val dropped = pairs.select(col("vid2").as("id")).distinct()
      kf.select(col("id")).distinct().agg(count(lit(1)).as("n_input"))
        .crossJoin(dropped.agg(count(lit(1)).as("n_dup_dropped")))
        .withColumn("n_kept", col("n_input") - col("n_dup_dropped"))
        .crossJoin(graft.dedup.DedupOps.hamming64CapStats(kf, "id", "hi", "lo"))
    }),

    // mm8: pooled VIDEO-HASH near-dup — mm6's scale path: one majority-pooled
    // 64-bit code per video (TMK-style temporal pooling of keyframe dHashes)
    // through the same banded chassis, so candidate volume is O(videos) and
    // independent of video length. Shares mm6's fixture corpus and oracle CTEs.
    "mm8_video_hash_neardups" -> ((s, dir) =>
      DedupOps.hamming64Pairs(mm6VideoHashes(s, dir), "id", "hi", "lo")
        .select(col("id1"), col("id2"), col("hamming"))),

    // mm9: INCREMENTAL video dedup — d19's contract on pooled video hashes:
    // a new crawl drop (every 10th video) checks against the stored corpus
    // catalog plus smaller-id shard peers; each new video keeps its single
    // best match (min hamming, then smallest matched id). The corpus side is
    // precomputed codes — per-drop cost never re-decodes the corpus. The
    // shard∪catalog cap ledger rides the output row (r15, ADVICE r14): a
    // capped band can hide a new item's ONLY match, so the incremental
    // contract surfaces the audit with every drop, not as a separate query.
    "mm9_incremental_video" -> ((s, dir) => {
      // one pinned decode feeds both sides and the cap-stats crossJoin
      val vh = pinned(mm6VideoHashes(s, dir))
      DedupOps.hamming64IncrementalNearDups(
          vh.filter(col("id") % 10 =!= 0), vh.filter(col("id") % 10 === 0),
          "id", "hi", "lo")
        .crossJoin(DedupOps.hamming64CapStats(vh, "id", "hi", "lo"))
    }),

    // mm9w: WIDE-RADIUS incremental near-dup (r15) — mm9's contract through
    // the 8x8-bit-band chassis, recall-exact at hamming <= 7: a daily drop of
    // real re-encodes (distance 4-10) against a stored perceptual-code
    // catalog, where the narrow chassis reports "novel" for everything past
    // 3. mm4w's analytic codes (per-4-group md5 base + disjoint 4/5/7-bit
    // member flips), every 10th doc as the drop, radius 6: member-0 drops
    // best-match their member-1 peer at 4, member-2 drops their member-0 at
    // 5, member-3 stays novel (7 > 6) — and the shard∪catalog WIDE cap
    // ledger rides the row (the incremental audit contract).
    "mm9w_incremental_wide" -> ((s, dir) => {
      val codes = wideCodes(s, dir)
      DedupOps.hamming64IncrementalNearDups(
          codes.filter(col("doc_id") % 10 =!= 0),
          codes.filter(col("doc_id") % 10 === 0),
          "doc_id", "hi", "lo", maxHamming = 6)
        .crossJoin(DedupOps.hamming64CapStats(codes, "doc_id", "hi", "lo",
          maxHamming = 6))
    }),

    // mm10: JOINT A/V video near-dup (VERDICT r14 #2) — the robust-against-
    // re-encode composition: visual channel = mm8's pooled keyframe hash,
    // audio channel = the energy hash of the container SOUNDTRACK (AVI auds
    // stream / MP4 soun trak — the audio-track walks land here), paired
    // under the either-with-both-reported rule, so replacing one track
    // (new music on a stolen video, re-rendered visuals over a lifted audio
    // bed) still pairs and the surviving channel is visible. The fixture
    // plants exactly the interesting cases: visual grids key on docId/4,
    // soundtracks on docId/8 — 4-group pairs match both channels, the two
    // 4-halves of an 8-group match audio-only.
    "mm10_av_neardups" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val rows = mediaFixture(s, dir, "mm10_av_v1", "video", MultimodalOps.mm10FixtureVideo)
      // caller-held persists (r15 optimization round): avNearDups consumes each
      // code table THREE times (banded pairing + two id-keyed join-backs), and
      // each table sits behind a full container decode pass — unpersisted, the
      // query re-decoded every video 3x for frames AND 3x for audio (measured
      // 3.1 s; the decode pass is the floor). The tables are one ~24-byte row
      // per video, so the cache is O(videos) at any scale; the harness
      // clearCache releases them, library callers unpersist.
      //
      // EAGER + SEQUENTIAL population (measured at 100×, T20Probe): a LAZY
      // persist first-touched by avNearDups' concurrently-submitted AQE jobs
      // does not dedupe the materialization — six parallel jobs each paid a
      // full decode pass (~180 s apiece at 100×, job log in
      // OPTIMIZATION_r15.md). The count()s run INSIDE the timed query and
      // pin the caches before the pairing fans out.
      //
      // r16 (VERDICT r15 item 5): ONE decode pass for BOTH channels — the
      // visual and audio pipelines previously each walked and decoded every
      // container (two full decode passes, the dominant mm10 cost at 100×).
      // videoAvRasters emits rasters + window-RMS from a single walk; the
      // per-video A/V feature cache is released as soon as the two code
      // tables are pinned.
      val av = pinned(MultimodalOps.videoAvRasters(rows))
      val vh = pinned(MultimodalOps.videoHash64(
          MultimodalOps.videoKeyframeHashes(
            av.select(col("id"), explode(col("frames")).as("_f"))
              .select(col("id"), col("_f._1").as("frame_idx"), col("_f._2").as("gray"))))
        .select(col("id"), col("hi"), col("lo")))
      val eh = pinned(av.filter(col("window_rms").isNotNull)
        .select(col("id"), MultimodalOps.energyHash64(col("window_rms")).as("_eh"))
        .select(col("id"), col("_eh.hi").as("hi"), col("_eh.lo").as("lo")))
      av.unpersist()
      MultimodalOps.avNearDups(vh, eh)
    }),

    // mm7: AUDIO near-dup pairs (VERDICT r13 #3) — sign-of-delta energy hash
    // (dHash in 1-D: 64 bits over 65 window-RMS deltas) through the shared
    // banded-Hamming chassis; gives audio the first-class pairs op text,
    // image, and video already have. Step-WAV fixture: constant 256-sample
    // blocks make window RMS EXACTLY the md5-derived block level, so the
    // whole container→PCM→RMS→hash→pairs path has an analytic oracle.
    "mm7_audio_neardups" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      import sp.implicits._
      val h = MultimodalOps.audioFrameFeatures(mm7Wavs(s, dir), windowSamples = 256).toDF()
        .select(col("id"),
          graft.multimodal.MultimodalOps.energyHash64(col("windowRms")).as("_eh"))
        .select(col("id"), col("_eh.hi").as("_hi"), col("_eh.lo").as("_lo"))
      DedupOps.hamming64Pairs(h, "id", "_hi", "_lo")
        .select(col("id1"), col("id2"), col("hamming"))
    }),

    // pipe8: AUDIO-curation funnel — pipe6/pipe7's audit contract for the
    // third modality: one decode+feature pass feeds the energy-hash near-dup
    // drop (keep-smallest-id), a low-energy quality gate on survivors (the
    // doc-level RMS is integer-exact through the step-WAV fixture, so the
    // float threshold compare is engine-portable), and the band cap ledger —
    // all in one audit row.
    "pipe8_audio_curation" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val feats = pinned(MultimodalOps.audioFrameFeatures(mm7Wavs(s, dir), windowSamples = 256)
        .toDF()
        .select(col("id"), col("rms"),
          MultimodalOps.energyHash64(col("windowRms")).as("_eh"))
        .select(col("id"), col("rms"),
          col("_eh.hi").as("hi"), col("_eh.lo").as("lo")))
      dropFunnel(feats, DedupOps.hamming64Pairs(feats, "id", "hi", "lo"),
          "n_low_energy" -> (col("rms") < 17000.0), "n_kept" -> (col("rms") >= 17000.0))
        .crossJoin(DedupOps.hamming64CapStats(feats, "id", "hi", "lo"))
    }),

    // samp6: DSIR hashed n-gram importance weights — target = the English slice,
    // raw = the whole corpus; docs whose unigram+bigram profile looks English
    // score high. 512 buckets, add-1 smoothing.
    "samp6_dsir" -> ((s, dir) =>
      TextOps.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", buckets = 512, smoothing = 1.0)),

    // e10: BM25 top-3 lexical retrieval — queries are the first 6 tokens of
    // every 100th document, so each query's own source doc should rank near the
    // top (self-retrieval sanity built into the fixture)
    "e10_bm25" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bm25Retrieve(docs, "doc_id", "text", bm25Queries(docs, 1, 6),
        "qid", "qtext", k = 3)
    }),

    // pipe5: the RAG serving slice as ONE plan — long documents chunked to
    // context windows (the t15 shape), then BM25 chunk retrieval for held-out
    // queries (tokens 7..11 of every 100th doc, so the right chunk of the right
    // doc should surface). Chunk corpus and query set never materialize outside
    // the plan.
    "pipe5_rag_slice" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // caller-held persist (r15 optimization round): bm25Retrieve consumes its
      // corpus TWICE (the 1-row n_docs/avgdl stats agg + the postings build) —
      // for raw documents that is two cheap scans, but here the corpus is the
      // CHUNK table, so unpinned each consumer re-ran the whole sentence-chunk
      // derivation (posexplode + per-doc window + reassembly groupBy). One
      // chunking pass now feeds both; harness clearCache releases it.
      val chunks = pinned(sentenceChunks(docs)
        .select(concat(col("doc_id").cast("string"), lit("#"),
          col("chunk_id").cast("string")).as("cid"), col("chunk_text")))
      TextOps.bm25Retrieve(chunks, "cid", "chunk_text", bm25Queries(docs, 7, 5),
        "qid", "qtext", k = 3)
    }),

    // t14: C4 line+page cleaning rules — planted lines exercise every rule:
    // terminal punctuation, the 5-word floor, the javascript line kill, the
    // lorem-ipsum and curly-brace page kills (body lines of the synthetic corpus
    // rarely end in terminal punctuation, so the planted lines dominate)
    "t14_c4_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("text2", concat_ws("\n",
          col("text"),
          lit("This is a good sentence with many words."),
          lit("short line."),
          lit("no terminal punctuation in this line at all"),
          when(col("doc_id") % 7 === 0,
            lit("Enable javascript to continue reading this content."))
            .otherwise(lit("Another good sentence appears right here.")),
          when(col("doc_id") % 13 === 0,
            lit("lorem ipsum dolor sit amet paragraph ends here."))
            .otherwise(lit("Closing sentence for the document body."))))
      TextOps.c4Clean(docs, "doc_id", "text2")
    }),

    // t15: intra-doc sentence-boundary chunking to 32-token context windows — the
    // corpus has no punctuation, so sentence ends are planted on every 'table'
    "t15_sentence_chunks" -> ((s, dir) => sentenceChunks(t(s, dir, "documents"))),

    // samp1: deterministic hash-based stratified sampling by language
    "samp1_stratified" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("keep", TextOps.stratifiedSampleFlag(col("doc_id"), col("lang"),
          Map("en" -> 0.8, "es" -> 0.5, "fr" -> 0.25), defaultRate = 0.1))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("keep").cast("long")).as("n_kept"))
    }),

    // Per-domain cap (RefinedWeb/C4-style): keep the top-50 docs per source by
    // length, deterministic doc_id tiebreak. Catalyst's WindowGroupLimit turns
    // the rn<=n filter into a partial group-limit BELOW the exchange — mega-
    // domains ship n rows per map task, never their full row set.
    "samp3_domain_cap" -> ((s, dir) => {
      TextOps.capPerGroup(t(s, dir, "documents"),
          col("source"), 50, col("n_chars"), col("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
    }),

    // t11: TF-IDF top-5 keywords per document (round-before-rank so the ordering
    // is engine-portable; term tiebreak; N derived from the same pair table)
    "t11_tfidf" -> ((s, dir) =>
      TextOps.tfIdfTopK(t(s, dir, "documents"), "doc_id", "text", kTerms = 5)),

    // t12: Gopher-rules hard quality gate (Rae et al. 2021 §A1.1) per document —
    // word-count/mean-word-length bands, symbol + line-shape ratios, alpha-word
    // fraction, required-stopword presence; one scan, zero shuffles
    "t12_gopher_rules" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.*"))),

    // t13: unigram-LM quality score (CCNet-style) — self-trained MLE unigram
    // model, mean -ln p per token instance; 6dp-rounded logs + decimal sums so
    // the score is bit-portable (the t11 rule)
    "t13_lm_quality" -> ((s, dir) =>
      TextOps.unigramLmScore(t(s, dir, "documents"), "doc_id", "text")),

    // d14: URL-level keep-first dedup — messy URL variants (case, www, default
    // port, trailing slash, tracking params, param order, fragments) encoded
    // from doc_id, collapsed by the canonical form; doc_id ≡ k (mod 50) share a
    // canonical URL, so 500 docs -> 50 groups of 10
    "d14_url_dedup" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"), concat(
        when(col("doc_id") % 3 === 0, "HTTPS").otherwise("https"), lit("://"),
        when(col("doc_id") % 2 === 0, "WWW.").otherwise(""),
        lit("example-"), (col("doc_id") % 50).cast("string"), lit(".com"),
        when(col("doc_id") % 5 === 0, ":443").otherwise(""),
        lit("/path/"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 4 === 0, "/").otherwise(""),
        when(col("doc_id") % 2 === 0, "?utm_source=feed&b=2&a=1").otherwise("?a=1&b=2"),
        when(col("doc_id") % 7 === 0, "#section-3").otherwise("")).as("url"))
      TextOps.urlDedup(urls, "doc_id", "url")
    }),

    // d12: SemDeDup semantic near-dup removal — the d5 planted corpus (0.9v +
    // 0.1 shifted twins of vec_id < 50), basis-vector cells (e4's centroid set;
    // kmeansTrain supplies real centroids in production), cosine >= 0.85
    "d12_semdedup" -> ((s, dir) =>
      DedupOps.semanticDedup(plantedEmbeddings(s, dir), "vec_id", "v",
        basisCentroids, threshold = 0.85)),

    // d13: duplicated-span detection — planted docs replicate a 60-token prefix
    // of every 20th source doc (>= k+w-1 = 50 tokens, so the winnowing guarantee
    // forces a shared fingerprint); output = docs sharing any >=50-token run
    "d13_dup_spans" -> ((s, dir) =>
      DedupOps.duplicatedSpans(plantedSpans(s, dir), "doc_id", "text")
        .filter(col("n_shared_spans") > 0)),

    // d15: duplicated-span REMOVAL (the Lee et al. second half over d13's planted
    // fixture). Rows-only BY DESIGN: the positional argmin's rightmost-tie rule
    // has no portable SQL twin on repetitive token streams (DedupAnnSpec +
    // WinnowSelectPosSpec pin the semantics; d13 IS the oracle-checked detection
    // path over the same fingerprints).
    "d15_span_removal" -> ((s, dir) => {
      DedupOps.removeDuplicatedSpans(plantedSpans(s, dir), "doc_id", "text")
        .filter(col("n_tokens_dropped") > 0)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("n_tokens_dropped"))
    })
  )

  // ---- oracle SQL ------------------------------------------------------------

  /** The g1 PageRank oracle, rounds unrolled mechanically (the planesSql
    * pattern: generated SQL mirroring the exact Spark computation). Explicit
    * `::DOUBLE` casts keep DuckDB's decimal literals out of the float path so
    * `(1-d)/N + d*m` is the identical IEEE expression on both engines. */
  /** t20's oracle: the full training run as unrolled CTE rounds. Margins and
    * gradients are exact decimal sums (order-independent), the activation is the
    * rational sigmoid (pure IEEE — replays bit-exactly, no libm), the weight
    * step rounds to 6dp; identical op order to TextOps.classifierTrain. */
  private val t20ClassifierSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""m$i AS MATERIALIZED (
           SELECT p.d AS d, MIN(p.y) AS y, SUM(w.w * p.x) AS m
           FROM pairs p JOIN w${i - 1} w ON p.b = w.b GROUP BY p.d),
         e$i AS MATERIALIZED (
           SELECT d,
             CAST(ROUND(0.5::DOUBLE + 0.5::DOUBLE *
                    (CAST(m AS DOUBLE) / (1.0::DOUBLE + abs(CAST(m AS DOUBLE)))), 9)
                  AS DECIMAL(10,9)) - y AS e
           FROM m$i),
         g$i AS MATERIALIZED (
           SELECT p.b AS b, SUM(e.e * p.x) AS g
           FROM pairs p JOIN e$i e ON p.d = e.d GROUP BY p.b),
         w$i AS MATERIALIZED (
           SELECT w.b,
             CAST(w.w - CAST(ROUND(0.02::DOUBLE *
                    (COALESCE(CAST(g.g AS DOUBLE), 0.0::DOUBLE) / CAST(nn.n AS DOUBLE)), 6)
                  AS DECIMAL(12,6)) AS DECIMAL(12,6)) AS w
           FROM w${i - 1} w LEFT JOIN g$i g ON w.b = g.b CROSS JOIN nn)"""
    }.mkString(",\n         ")
    s"""WITH lab AS (
          SELECT doc_id AS d, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, text
          FROM documents),
        toks AS (
          SELECT d, y,
            unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
                               t -> len(t) > 0)) AS tok
          FROM lab),
        cnts AS (
          SELECT d, y, (('0x' || substring(md5(tok), 1, 15))::BIGINT) % 64 AS b,
                 COUNT(*) AS cnt
          FROM toks GROUP BY 1, 2, 3),
        feat AS (
          SELECT d, y, b,
            CAST(ROUND(CAST(cnt AS DOUBLE) * 64.0::DOUBLE /
                       CAST(SUM(cnt) OVER (PARTITION BY d) AS DOUBLE), 9)
                 AS DECIMAL(12,9)) AS x
          FROM cnts),
        pairs AS MATERIALIZED (
          SELECT d, y, b, x FROM feat
          UNION ALL
          SELECT d, y, -1 AS b, CAST(1 AS DECIMAL(12,9)) AS x FROM lab),
        nn AS (SELECT COUNT(DISTINCT d) AS n FROM pairs),
        w0 AS (SELECT DISTINCT b, CAST(0 AS DECIMAL(12,6)) AS w FROM pairs),
        $rounds
        SELECT p.d AS doc_id, MIN(p.y) AS y,
               ROUND(CAST(SUM(w.w * p.x) AS DOUBLE), 6) + 0 AS score,
               CASE WHEN SUM(w.w * p.x) > 0 THEN 1 ELSE 0 END AS pred
        FROM pairs p JOIN w10 w ON p.b = w.b
        GROUP BY p.d"""
  }

  /** Pairs `p(id1, id2, hamming)` of the band table `b(doc_id, hi, lo,
    * band)`; `bc` replicates Spark's maxBucketSize=2000 skew cap so both
    * engines compute the identical pair set at ANY scale factor (ADVICE r11). */
  private val bandPairCtes: String =
    """bc AS (SELECT band FROM b GROUP BY band HAVING COUNT(*) <= 2000),
        p AS (
          SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
            bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo)) AS hamming
          FROM b a JOIN b b2 USING (band) JOIN bc USING (band)
          WHERE a.doc_id < b2.doc_id)"""

  /** mm4/mm4r/pipe6 oracle CTEs: the md5 grid `g`, its dHash halves `h`
    * (summed from shifted-1 powers, never bit 63 in one code) and the
    * 4×16-bit band explode `b` — the analytic twin of mm4FixturePng →
    * imageGrayRaster → dHash. mm4r's payloads are real PNGs of the same grid
    * (r=g=b=v, 9×8 identity box-mean), so the decoded raster equals the
    * synthesized one value-for-value. */
  private val mm4GridCtes: String =
    s"""g AS (
          SELECT doc_id, doc_id // 4 AS gid,
            list_transform(generate_series(0, 71), p ->
              CAST(((('0x' || substring(md5(gid::VARCHAR || ':' || p::VARCHAR),
                      1, 4))::BIGINT % 256)
                    + (doc_id % 2) * ((p*13 + doc_id) % 2) * 2) % 256 AS INT))
              AS gray
          FROM documents),
        h AS (
          SELECT doc_id, gray,
            list_sum(list_transform(generate_series(0, 31), i ->
              CASE WHEN gray[((i+32) // 8) * 9 + ((i+32) % 8) + 1] >
                        gray[((i+32) // 8) * 9 + ((i+32) % 8) + 2]
                   THEN (1::BIGINT << i) ELSE 0 END)) AS hi,
            list_sum(list_transform(generate_series(0, 31), i ->
              CASE WHEN gray[(i // 8) * 9 + (i % 8) + 1] >
                        gray[(i // 8) * 9 + (i % 8) + 2]
                   THEN (1::BIGINT << i) ELSE 0 END)) AS lo
          FROM g),
        b AS (
          SELECT doc_id, hi, lo,
            unnest(['0:' || CAST(lo & 65535 AS VARCHAR),
                    '1:' || CAST((lo >> 16) & 65535 AS VARCHAR),
                    '2:' || CAST(hi & 65535 AS VARCHAR),
                    '3:' || CAST((hi >> 16) & 65535 AS VARCHAR)]) AS band
          FROM h),
        $bandPairCtes"""

  private val mm4PairsSql: String =
    s"""WITH $mm4GridCtes
        SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming
        FROM p WHERE hamming <= 3"""

  /** pipe6's analytic twin: the mm4 pair set under the keep-smallest-id drop
    * rule, a contrast gate on survivors, and the d22-style bucket ledger —
    * one row, ledger columns inline with the funnel counts. */
  private val pipe6Sql: String =
    s"""WITH $mm4GridCtes,
        dropped AS (SELECT DISTINCT id2 AS doc_id FROM p WHERE hamming <= 3),
        surv AS (
          SELECT h.doc_id, list_max(gray) - list_min(gray) AS contrast
          FROM h LEFT JOIN dropped USING (doc_id)
          WHERE dropped.doc_id IS NULL),
        bn AS (SELECT band, COUNT(*) AS n FROM b GROUP BY band),
        ledger AS (
          SELECT ${capLedgerSql(2000)}
          FROM bn)
        SELECT (SELECT COUNT(*) FROM g) AS n_input,
               (SELECT COUNT(*) FROM dropped) AS n_dup_dropped,
               (SELECT COUNT(*) FROM surv WHERE contrast < 128) AS n_low_contrast,
               (SELECT COUNT(*) FROM surv WHERE contrast >= 128) AS n_kept,
               n_buckets, n_buckets_capped, n_members_excluded, max_bucket
        FROM ledger"""

  /** The 8×8-bit band keys of a 64-bit code `(hi, lo)`: the layout the
    * hamming64 chassis picks above radius 3. */
  private val band8Sql: String =
    """unnest([
             '0:' || CAST(lo & 255 AS VARCHAR),
             '1:' || CAST((lo >> 8) & 255 AS VARCHAR),
             '2:' || CAST((lo >> 16) & 255 AS VARCHAR),
             '3:' || CAST((lo >> 24) & 255 AS VARCHAR),
             '4:' || CAST(hi & 255 AS VARCHAR),
             '5:' || CAST((hi >> 8) & 255 AS VARCHAR),
             '6:' || CAST((hi >> 16) & 255 AS VARCHAR),
             '7:' || CAST((hi >> 24) & 255 AS VARCHAR)]) AS band"""

  /** pipe7/mm9/pipe8: the 4×16-bit band keys `bands(doc_id, band)` of `src`. */
  private def band4Cte(src: String): String =
    s"""bands AS (
            SELECT doc_id, '0:' || (lo & 65535)::VARCHAR AS band FROM $src
            UNION ALL SELECT doc_id, '1:' || ((lo >> 16) & 65535)::VARCHAR FROM $src
            UNION ALL SELECT doc_id, '2:' || (hi & 65535)::VARCHAR FROM $src
            UNION ALL SELECT doc_id, '3:' || ((hi >> 16) & 65535)::VARCHAR FROM $src)"""

  /** The bandCapLedger columns over bucket sizes `n`, capped at `cap`. */
  private def capLedgerSql(cap: Int): String =
    s"""CAST(COUNT(*) AS BIGINT) AS n_buckets,
                 CAST(SUM(CASE WHEN n > $cap THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_buckets_capped,
                 CAST(COALESCE(SUM(CASE WHEN n > $cap THEN n END), 0) AS BIGINT)
                   AS n_members_excluded,
                 CAST(MAX(n) AS BIGINT) AS max_bucket"""

  /** All pairs of `tbl(doc_id, hi, lo)` within hamming 3 (brute force at
    * this scale), with the distance as `hamming` when `withHamming`. */
  private def brutePairsSql(tbl: String, withHamming: Boolean): String = {
    val hamming = if (!withHamming) "" else """,
          CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
            AS BIGINT) AS hamming"""
    s"""SELECT a.doc_id AS id1, b.doc_id AS id2$hamming
          FROM $tbl a JOIN $tbl b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3"""
  }

  /** mm4w/mm9w: the wide fixture's codes `h(doc_id, hi, lo …)` — the md5
    * group base split as two non-negative 32-bit halves, disjoint per-member
    * XOR flips (4/5/7 bits) — with `extra` columns appended. */
  private def wideCodeCtes(extra: String): String =
    s"""c AS (
           SELECT doc_id, doc_id % 4 AS m,
             ('0x' || substring(md5('w' || (doc_id // 4)::VARCHAR), 1, 8))::BIGINT AS hi0,
             ('0x' || substring(md5('w' || (doc_id // 4)::VARCHAR), 9, 8))::BIGINT AS lo0
           FROM documents),
         h AS (
           SELECT doc_id,
             CASE WHEN m = 3 THEN xor(hi0, 32512) ELSE hi0 END AS hi,
             CASE WHEN m = 1 THEN xor(lo0, 15)
                  WHEN m = 2 THEN xor(lo0, 32505856) ELSE lo0 END AS lo$extra
           FROM c)"""

  /** mm9/mm9w: each new (`isnew`) code of `tbl`'s best match within
    * `radius` — against the stored corpus or an earlier new code — ranked
    * `r(id, matched_id, hamming, vs_corpus, rn)`. */
  private def incrementalMatchCtes(tbl: String, radius: Int): String =
    s"""p AS (
            SELECT a.doc_id AS id, b.doc_id AS matched_id,
              CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))
                AS BIGINT) AS hamming,
              NOT b.isnew AS vs_corpus
            FROM $tbl a JOIN $tbl b ON a.doc_id <> b.doc_id
            WHERE a.isnew AND (NOT b.isnew OR b.doc_id < a.doc_id)
              AND bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= $radius),
          r AS (SELECT *, row_number() OVER (
                  PARTITION BY id ORDER BY hamming, matched_id) AS rn FROM p)"""

  /** mm9/mm9w: the best matches with the `bands` cap ledger on every row. */
  private def incrementalLedgerSql(id: String): String =
    s"""led AS (
            SELECT ${capLedgerSql(2000)}
            FROM (SELECT band, COUNT(*) AS n FROM bands GROUP BY band))
          SELECT $id, matched_id, hamming, vs_corpus,
                 n_buckets, n_buckets_capped, n_members_excluded, max_bucket
          FROM r CROSS JOIN led WHERE rn = 1"""

  /** mm5/mm6: each video's 6 frames (shots `sid` of 3), frame f's 72-cell
    * gray grid from `cell` over (doc_id, f, sid, p), its dHash halves
    * `h(doc_id, frame_idx, hi, lo)` (mm4's formula), and the lag-window
    * hamming to the video's previous frame `k(…, hamming)`. */
  private def keyframeCtes(cell: String): String =
    s"""fr AS (
          SELECT doc_id, t.f, t.f // 3 AS sid
          FROM documents CROSS JOIN generate_series(0, 5) t(f)),
        g AS (
          SELECT doc_id, f,
            list_transform(generate_series(0, 71), p ->
              $cell) AS gray
          FROM fr),
        h AS (
          SELECT doc_id, f AS frame_idx,
            CAST(list_sum(list_transform(generate_series(0, 31), i ->
              CASE WHEN gray[((i+32) // 8) * 9 + ((i+32) % 8) + 1] >
                        gray[((i+32) // 8) * 9 + ((i+32) % 8) + 2]
                   THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hi,
            CAST(list_sum(list_transform(generate_series(0, 31), i ->
              CASE WHEN gray[(i // 8) * 9 + (i % 8) + 1] >
                        gray[(i // 8) * 9 + (i % 8) + 2]
                   THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS lo
          FROM g),
        k AS (
          SELECT doc_id, frame_idx, hi, lo,
            bit_count(xor(hi, lag(hi) OVER w)) +
              bit_count(xor(lo, lag(lo) OVER w)) AS hamming
          FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx))"""

  /** mm5's analytic twin: rebuild each (video, frame)'s flat-block gray grid
    * from the md5(doc:shot:cell)+jitter synthesis (exact through the JPEG
    * round-trip and the 72×64→9×8 box mean — both identities by construction,
    * see mm5FixtureAvi), dHash it, and flag keyframes off the lag hamming. */
  private val mm5KeyframesSql: String =
    s"""WITH ${keyframeCtes("""CAST(((('0x' || substring(md5(doc_id::VARCHAR || ':' ||
                        sid::VARCHAR || ':' || p::VARCHAR), 1, 4))::BIGINT % 256)
                    + (f % 3) * ((p*13 + f) % 2) * 2) % 256 AS INT)""")}
        SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, hi, lo,
          CAST(CASE WHEN hamming IS NULL OR hamming > 10 THEN 1 ELSE 0 END AS INT)
            AS is_keyframe
        FROM k"""

  /** mm6/pipe7 shared analytic CTEs: rebuild every video's keyframe dHash
    * from the group-keyed md5 synthesis (mm5's oracle with gid = doc//4 shot
    * grids and the mm4-style per-video jitter — both exact through the JPEG
    * round-trip and box mean), ending in `kf(doc_id, frame_idx, hi, lo)`,
    * `nkf(doc_id, nkf)` and the video-pair roll-up `rolled`. */
  private val mm6KfCtes: String =
    s"""${keyframeCtes("""CAST((('0x' || substring(md5('g' || (doc_id // 4)::VARCHAR || ':' ||
                        sid::VARCHAR || ':' || p::VARCHAR), 1, 4))::BIGINT % 240)
                    + (f % 3) * ((p*13 + f) % 2) * 2
                    + (doc_id % 4) * ((p*7 + doc_id) % 2) * 2 AS INT)""")},
        kf AS (
          SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, hi, lo
          FROM k WHERE hamming IS NULL OR hamming > 10),
        nkf AS (SELECT doc_id, COUNT(*) AS nkf FROM kf GROUP BY doc_id),
        rolled AS (
          SELECT p.vid1, p.vid2, n1.nkf AS nkf1, n2.nkf AS nkf2,
                 p.n_shared1, p.n_shared2,
                 ROUND((p.n_shared1 + p.n_shared2)::DOUBLE /
                       (n1.nkf + n2.nkf), 4) + 0 AS sim
          FROM (
            SELECT vid1, vid2,
                   COUNT(DISTINCT f1) AS n_shared1, COUNT(DISTINCT f2) AS n_shared2
            FROM (
              SELECT a.doc_id AS vid1, b.doc_id AS vid2,
                     a.frame_idx AS f1, b.frame_idx AS f2
              FROM kf a JOIN kf b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 3)
            GROUP BY vid1, vid2) p
          JOIN nkf n1 ON p.vid1 = n1.doc_id
          JOIN nkf n2 ON p.vid2 = n2.doc_id
          WHERE ROUND((p.n_shared1 + p.n_shared2)::DOUBLE /
                      (n1.nkf + n2.nkf), 4) >= 0.5)"""

  /** mm7/pipe8 (and mm10's soundtrack, prefix "a"): rebuild the step-WAV
    * block levels from the md5 synthesis keyed on `key` and doc_id // `group`
    * (`lv`), the sign-of-delta bits (`d`), and the 64-bit energy hash halves
    * (`eh(doc_id, hi, lo)`) — the SQL twin of `energyHash64` over
    * `mm7FixtureWav`. */
  private def energyHashCtes(prefix: String, key: String, group: Int): String =
    s"""${prefix}lv AS (
          SELECT doc_id, t.w,
            CAST(1000 + (('0x' || substring(md5('$key' || (doc_id // $group)::VARCHAR ||
                     ':' || w::VARCHAR), 1, 6))::BIGINT % 28000)
              + (doc_id % $group) * ((w*13 + doc_id) % 2) * 2 AS BIGINT) AS lvl
          FROM documents CROSS JOIN generate_series(0, 64) t(w)),
        ${prefix}d AS (
          SELECT c.doc_id, c.w, CASE WHEN n.lvl > c.lvl THEN 1 ELSE 0 END AS bit
          FROM ${prefix}lv c JOIN ${prefix}lv n ON n.doc_id = c.doc_id AND n.w = c.w + 1
          WHERE c.w < 64),
        ${prefix}eh AS (
          SELECT doc_id,
            CAST(COALESCE(SUM(CASE WHEN w >= 32 AND bit = 1
                   THEN (1::BIGINT << (w - 32)) END), 0) AS BIGINT) AS hi,
            CAST(COALESCE(SUM(CASE WHEN w < 32 AND bit = 1
                   THEN (1::BIGINT << w) END), 0) AS BIGINT) AS lo
          FROM ${prefix}d GROUP BY doc_id)"""

  /** mm8/mm9 shared pooling CTEs (appended after [[mm6KfCtes]]): per-video
    * strict-majority 64-bit code over the keyframe hashes — `vh(doc_id, hi,
    * lo)`, the SQL twin of `videoHash64` (ties clear the bit). */
  private val mm7EhCtes: String = energyHashCtes("", "a", 4)

  private val mm8VhCtes: String =
    """vb AS (
            SELECT doc_id, list(hi) AS his, list(lo) AS los, COUNT(*) AS cnt
            FROM kf GROUP BY doc_id),
          vh AS (
            SELECT doc_id,
              CAST(list_sum(list_transform(generate_series(0, 31), i ->
                CASE WHEN 2 * list_sum(list_transform(his, h -> (h >> i) & 1))
                          > cnt
                     THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS hi,
              CAST(list_sum(list_transform(generate_series(0, 31), i ->
                CASE WHEN 2 * list_sum(list_transform(los, l -> (l >> i) & 1))
                          > cnt
                     THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS lo
            FROM vb)"""

  private val g1PagerankSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""m$i AS (
           SELECT e0.dst AS node,
                  SUM(CAST(ROUND(r${i - 1}.rank / deg.deg, 9) AS DECIMAL(28,9))) AS m
           FROM e0 JOIN r${i - 1} ON e0.src = r${i - 1}.node
                   JOIN deg ON e0.src = deg.src
           GROUP BY e0.dst),
         r$i AS (
           SELECT nodes.node,
                  ROUND((1.0::DOUBLE - 0.85::DOUBLE) / nn.n
                        + 0.85::DOUBLE * COALESCE(CAST(m$i.m AS DOUBLE), 0.0), 9) AS rank
           FROM nodes CROSS JOIN nn LEFT JOIN m$i ON nodes.node = m$i.node)"""
    }.mkString(",\n         ")
    s"""WITH e0 AS (
          SELECT DISTINCT user_id % 300 AS src,
                 (user_id * 7 + (event_id % 5)) % 300 AS dst
          FROM events),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM e0 UNION ALL SELECT dst AS node FROM e0)),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        deg AS (SELECT src, COUNT(*) AS deg FROM e0 GROUP BY src),
        r0 AS (SELECT node, ROUND(1.0::DOUBLE / nn.n, 9) AS rank
               FROM nodes CROSS JOIN nn),
        $rounds
        SELECT node, rank + 0 AS rank FROM r5"""
  }

  /** samp10/samp10a shared budget map (en bites mid-stream at sf0.01; de is
    * deliberately absent -> defaultBudget 0) and the SQL twin of
    * [[graft.text.TextOps.tokenBudgetFill]]'s keyed-and-summed stream — the
    * two-level prefix sum collapses to one window in SQL (same order, same
    * totals; bucketing by leading key bits preserves (key, id) order). */
  private val samp10Budgets: Map[String, Long] =
    Map("en" -> 5000L, "es" -> 2500L, "fr" -> 2000L, "zh" -> 1500L)
  private val samp10Ctes: String = {
    val cases = samp10Budgets.toSeq.sortBy(_._1)
      .map { case (l, b) => s"WHEN '$l' THEN $b" }.mkString(" ")
    s"""tk AS (
          SELECT doc_id, lang,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
            ('0x' || substring(md5('tbudget:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
              AS k
          FROM documents),
        c AS (
          SELECT doc_id, lang, n_tokens, k,
            CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY k, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
            CAST(CASE lang $cases ELSE 0 END AS BIGINT) AS budget
          FROM tk)"""
  }

  /** samp11/samp11a shared budget map (every epoch-plan branch is hit at
    * sf0.01 — see the query comments) and the SQL twin of
    * [[graft.text.TextOps.tokenBudgetEpochPlan]]: per-lang totals feed the
    * integral full-epoch division and remainder; the partial epoch's order
    * key is salted with the epoch index (`e<full+1>:`), so each epoch
    * re-shuffles independently. maxEpochs = 3. */
  private val samp11Budgets: Map[String, Long] =
    Map("en" -> 8000L, "es" -> 10000L, "fr" -> 50000L, "zh" -> 8286L)
  private val samp11Ctes: String = {
    val cases = samp11Budgets.toSeq.sortBy(_._1)
      .map { case (l, b) => s"WHEN '$l' THEN $b" }.mkString(" ")
    s"""tk AS (
          SELECT doc_id, lang,
            CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
              x -> len(x) > 0)) AS BIGINT) AS n_tokens
          FROM documents),
        tot AS (
          SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
            CAST(CASE lang $cases ELSE 0 END AS BIGINT) AS budget
          FROM tk GROUP BY lang),
        pl0 AS (
          SELECT lang, total_tokens, budget,
            CAST(CASE WHEN total_tokens > 0
              THEN LEAST(budget // total_tokens, 3) ELSE 0 END AS BIGINT)
              AS full_epochs
          FROM tot),
        pl AS (
          SELECT lang, total_tokens, budget, full_epochs,
            CAST(CASE WHEN full_epochs >= 3 THEN 0
              ELSE budget - full_epochs * total_tokens END AS BIGINT) AS rem
          FROM pl0),
        c AS (
          SELECT t.doc_id, t.lang, t.n_tokens, p.total_tokens, p.budget,
            p.full_epochs, p.rem,
            ('0x' || substring(md5('tbudget:e' ||
              CAST(p.full_epochs + 1 AS VARCHAR) || ':' ||
              CAST(t.doc_id AS VARCHAR)), 1, 15))::BIGINT AS k
          FROM tk t JOIN pl p USING (lang)),
        cc AS (
          SELECT *, CAST(SUM(n_tokens) OVER (PARTITION BY lang
            ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
          FROM c)"""
  }

  /** d21's k=16 universal-hash coefficients + generated SQL (fresh constants —
    * minhashCoeffs(16) is NOT a prefix of the k=32 d2 set). */
  private val (d21A, d21B) = DedupOps.minhashCoeffs(16)
  private val d21SigSql: String = (0 until 16).map(i =>
    s"MIN((${d21A(i)} * h + ${d21B(i)}) % 2305843009213693951) AS s$i")
    .mkString(",\n                 ")
  private val d21AgreeSql: String = (0 until 16).map(i =>
    s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END").mkString(" + ")

  /** Shared SQL fragments (must mirror TextOps/DedupOps exactly). */
  private val toksSql =
    """list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), x -> len(x) > 0)"""

  private def shinglesSql(tk: String): String =
    s"""list_distinct(CASE WHEN len($tk) < 3 THEN [array_to_string($tk, ' ')]
        ELSE list_transform(generate_series(1, len($tk) - 2),
               i -> array_to_string(list_slice($tk, i, i + 2), ' ')) END)"""

  private val (mhA, mhB) = DedupOps.minhashCoeffs(32)
  private val aList = mhA.mkString("[", ", ", "]")
  private val bList = mhB.mkString("[", ", ", "]")

  /** mm4p's oracle: the full decode-equivalent pipeline replayed in SQL — the
    * analytic 32×32 grid (box-mean identity + r=g=b luma identity), the
    * separable DCT with [[graft.multimodal.MultimodalOps.dctBasis]] inlined
    * VERBATIM (both engines fold the identical doubles in the identical
    * order — the d5 hyperplane convention), lower-median bit threshold, and
    * the cap-aware 8×8-band pairing (mirrors banding exactly, not just the
    * brute-force answer). */
  private val mm4pSql: String = {
    val b = graft.multimodal.MultimodalOps.dctBasis.flatten.mkString("[", ", ", "]")
    s"""WITH bs AS (SELECT ($b)::DOUBLE[] AS b),
      g AS (
        SELECT doc_id, s.p,
          ((('0x' || substring(md5((doc_id // 4)::VARCHAR || ':' || s.p::VARCHAR),
              1, 4))::BIGINT % 256)
           + CASE WHEN doc_id % 4 = 1 AND s.p % 29 = 0 THEN 24
                  WHEN doc_id % 4 = 2 AND s.p % 11 = 0 THEN 32
                  WHEN doc_id % 4 = 3 AND s.p % 5 = 0 THEN 48
                  ELSE 0 END) % 256 AS v
        FROM documents CROSS JOIN generate_series(0, 1023) s(p)),
      ga AS (SELECT doc_id, list(v ORDER BY p) AS gv FROM g GROUP BY doc_id),
      tt AS (
        SELECT doc_id, uu.u AS u,
          list_transform(generate_series(1, 32), y ->
            list_sum(list_transform(generate_series(1, 32), x ->
              b[uu.u * 32 + x] * gv[(y - 1) * 32 + x]))) AS t_arr
        FROM ga CROSS JOIN bs CROSS JOIN generate_series(0, 7) uu(u)),
      ff AS (
        SELECT doc_id, u,
          list_transform(generate_series(1, 8), vv ->
            list_sum(list_transform(generate_series(1, 32), y ->
              b[(vv - 1) * 32 + y] * t_arr[y]))) AS f_arr
        FROM tt CROSS JOIN bs),
      fc AS (SELECT doc_id, flatten(list(f_arr ORDER BY u)) AS f
             FROM ff GROUP BY doc_id),
      hm AS (SELECT doc_id, f, list_sort(f[2:64])[32] AS med FROM fc),
      hl AS (
        SELECT doc_id,
          CAST(COALESCE(SUM(CASE WHEN s.i >= 33 AND f[s.i] > med
            THEN (1::BIGINT << (s.i - 33)) END), 0) AS BIGINT) AS hi,
          CAST(COALESCE(SUM(CASE WHEN s.i <= 32 AND f[s.i] > med
            THEN (1::BIGINT << (s.i - 1)) END), 0) AS BIGINT) AS lo
        FROM hm CROSS JOIN generate_series(1, 64) s(i) GROUP BY doc_id),
      bands AS (
        SELECT doc_id, hi, lo, $band8Sql
        FROM hl),
      bc AS (SELECT band FROM bands GROUP BY band HAVING COUNT(*) <= 2000),
      p2 AS (
        SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2,
          CAST(bit_count(xor(a.hi, b2.hi)) + bit_count(xor(a.lo, b2.lo))
            AS BIGINT) AS hamming
        FROM bands a JOIN bands b2 USING (band) JOIN bc USING (band)
        WHERE a.doc_id < b2.doc_id)
      SELECT id1, id2, hamming FROM p2 WHERE hamming <= 7"""
  }

  /** The first `n` seeded hyperplanes of the LSH ops (d5: 48, e2: 10), inlined
    * as literals so DuckDB replicates the exact LSH pipeline. Dot products are
    * written as ordered list_sum folds on both sides, so the sign bits agree
    * bit-for-bit. */
  private def planesSql(n: Int): String =
    graft.ann.AnnOps.hyperplanes(n, 64, 42L).zipWithIndex.map { case (p, i) =>
      s"($i, ${p.mkString("[", ", ", "]")})"
    }.mkString(",\n             ")

  /** The e7 PQ codebooks (8x16x8, seed 7), inlined as literals. */
  private val pqCbSql: String =
    graft.ann.AnnOps.pqCodebooks(8, 16, 8, 7L).zipWithIndex.flatMap { case (cb, s) =>
      cb.zipWithIndex.map { case (c, ci) =>
        s"($s, $ci, ${c.mkString("[", ", ", "]")})"
      }
    }.mkString(",\n             ")

  /** e7/e8/e11: the codebook table `cb(s, ci, c)`. */
  private val pqCbCte: String =
    s"""cb(s, ci, c) AS (VALUES
             $pqCbSql)"""

  /** Squared L2 distance of subvector `s` of `v` to codebook centroid `c`
    * (columns of `cb`, qualified by `cb` when given). */
  private def pqDistSql(v: String, cb: String = ""): String =
    s"""list_sum(list_transform(generate_series(1, 8),
                    j -> ($v[${cb}s * 8 + j] - ${cb}c[j]) * ($v[${cb}s * 8 + j] - ${cb}c[j])))"""

  /** e8/e11: each vector of `src` PQ-encoded — `code(vec_id, s, code)`. */
  private def pqCodeCtes(src: String, v: String): String =
    s"""dist AS (SELECT vec_id, s, ci,
                  ${pqDistSql(v)} AS d
                FROM $src CROSS JOIN cb),
          code AS (SELECT vec_id, s, ci AS code FROM (
              SELECT vec_id, s, ci,
                row_number() OVER (PARTITION BY vec_id, s ORDER BY d ASC, ci ASC) AS rn
              FROM dist) WHERE rn = 1)"""

  /** e8/e11: asymmetric distance of each candidate through the query LUTs
    * (joined on `lutOn` besides the query id), ranked top-5 per query. */
  private def pqAdcRankSql(lutOn: String): String =
    s"""adc AS (SELECT cd.qid, cd.cid, list_sum(list(l.ld ORDER BY l.s)) AS adc
                FROM cands cd
                JOIN code co ON co.vec_id = cd.cid
                JOIN lutd l ON l.qid = cd.qid AND $lutOn
                GROUP BY cd.qid, cd.cid),
          r AS (SELECT qid, cid, adc,
                  row_number() OVER (PARTITION BY qid ORDER BY adc ASC, cid ASC) AS rank
                FROM adc)
          SELECT qid, cid, ROUND(adc, 6) AS adc, rank FROM r WHERE rank <= 5"""

  /** e4/e8/e9/e11/e13: the basis-cell IVF chain — vectors `e(vec_id, v)`,
    * norms, cell cosines, each vector's cell `assign(cid, cell)` and the
    * first ten vectors' two probed cells `probes(qid, cell)` (ties to the
    * higher cell, the e3 rule). */
  private val ivfCellCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          norm AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e),
          cscore AS (
            SELECT vec_id, i AS cell,
              CASE WHEN nv = 0 THEN 0.0 ELSE v[i + 1] / nv END AS cos
            FROM norm CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i)),
          assign AS (SELECT vec_id AS cid, cell FROM (
              SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell DESC) AS rn
              FROM cscore) WHERE rn = 1),
          probes AS (SELECT vec_id AS qid, cell FROM (
              SELECT vec_id, cell,
                row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell DESC) AS rn
              FROM cscore WHERE vec_id < 10) WHERE rn <= 2)"""

  /** e4/e8/e9/e13: the corpus ids in each query's probed cells. */
  private val ivfCandsCte: String =
    "cands AS (SELECT p.qid, a.cid FROM probes p JOIN assign a ON p.cell = a.cell)"

  /** e4/e9: exact cosine of each probed candidate. */
  private val ivfScoredCte: String =
    """scored AS (
            SELECT c.qid, c.cid,
              CASE WHEN q.nv = 0 OR t.nv = 0 THEN 0.0
                   ELSE list_dot_product(q.v, t.v) / (q.nv * t.nv) END AS cos
            FROM cands c
            JOIN norm q ON c.qid = q.vec_id
            JOIN norm t ON c.cid = t.vec_id)"""

  /** e3/samp7: each embedding's cosine to each basis cell `scored(vec_id, cid, cos)`. */
  private val basisCosCte: String =
    """scored AS (
           SELECT vec_id, i AS cid,
                  CASE WHEN list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) = 0 THEN 0.0
                       ELSE embedding[i + 1] / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) END AS cos
           FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i))"""

  /** d5/d12: the planted corpus `corpus(vec_id, v)` (see [[plantedEmbeddings]]). */
  private val plantedCorpusCtes: String =
    """base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          planted AS (
            SELECT vec_id + 100000 AS vec_id,
              list_transform(generate_series(1, 64),
                j -> 0.9 * v[j] + 0.1 * v[(j % 64) + 1]) AS v
            FROM base WHERE vec_id < 50),
          corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)"""

  /** e1/e2: the corpus `c(cid, cv)` and the first ten vectors as `q(qid, qv)`. */
  private val annSidesCtes: String =
    """c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
          q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10)"""

  /** t3/d13: winnowing fingerprints of the token lists `toks(doc_id, tk)` —
    * k-token grams, md5 60-bit hashes, the min of every w-hash window `sel(doc_id, s)`. */
  private def winnowCtes(k: Int, w: Int): String =
    s"""grams AS (SELECT doc_id,
              CASE WHEN len(tk) < $k THEN [array_to_string(tk, ' ')]
                   ELSE list_transform(generate_series(1, len(tk) - ${k - 1}),
                          i -> array_to_string(list_slice(tk, i, i + ${k - 1}), ' ')) END AS g
            FROM toks),
          h AS (SELECT doc_id,
              list_transform(g, x -> ('0x' || substring(md5(x), 1, 15))::BIGINT) AS h
            FROM grams),
          sel AS (SELECT doc_id,
              CASE WHEN len(h) <= $w THEN [list_min(h)]
                   ELSE list_transform(generate_series(1, len(h) - ${w - 1}),
                          i -> list_min(list_slice(h, i, i + ${w - 1}))) END AS s
            FROM h)"""

  /** e12/e13: each vector of `e(vec_id, v)` SQ8-quantized `cq(cid, mn, mx, codes)`
    * (the e5 quantize replica). */
  private val sqCodesCte: String =
    """cq AS (SELECT vec_id AS cid, list_min(v) AS mn, list_max(v) AS mx,
              list_transform(v, x -> CASE WHEN list_max(v) = list_min(v) THEN 0
                ELSE CAST(round((x - list_min(v)) / (list_max(v) - list_min(v)) * 255)
                     - 128 AS INT) END) AS codes
            FROM e)"""

  /** e12/e13: top-5 per query on the 6dp-rounded integer-fold score `s.score0`. */
  private val sqRankSql: String =
    """r AS (SELECT qid, cid, ROUND(score0, 6) + 0 AS score,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY ROUND(score0, 6) DESC, cid ASC) AS rank
                FROM s)
          SELECT qid, cid, score, rank FROM r WHERE rank <= 5"""

  /** t11/t13: per-document term counts `tf(doc_id, term, tf)`. */
  private val termFreqCte: String =
    s"""tf AS (
            SELECT doc_id, term, COUNT(*) AS tf
            FROM (SELECT doc_id, unnest($toksSql) AS term FROM documents)
            GROUP BY 1, 2)"""

  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(generate_series(1, 64), j -> $a[j] * $b[j]))"

  /** Nested regexp_replace chain replicating [[TextOps.redact]]'s rule order
    * (DuckDB needs the explicit 'g' flag; Spark replaces globally by default). */
  private def redactSql(inner: String): String =
    graft.text.TextOps.DefaultRedactions.foldLeft(inner) { case (acc, (p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }

  private val stopwordsSql: String =
    TextOps.EnglishStopwords.map(w => s"'$w'").mkString(", ")

  /** Shared CTE chain: documents -> shingles -> minhash signatures -> banded LSH
    * candidate pairs -> jaccard-verified pairs. Used by d2 (the pair listing) and d7
    * (connected-components clustering of the same pairs). */
  /** toks → shingles → h32 → minhash sig → exploded band keys: the shared
    * front half of the d2-family oracles AND the d22 cap-ledger oracle. */
  private val minhashBandsCte: String =
    s"""toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          sh AS (SELECT doc_id, ${shinglesSql("tk")} AS sh FROM toks),
          h AS (SELECT doc_id,
                  list_distinct(list_transform(sh,
                    s -> ('0x' || substring(md5(s), 1, 15))::BIGINT % 4294967296)) AS h32
                FROM sh),
          sig AS (SELECT doc_id, h32,
                  list_transform(generate_series(0, 31), i ->
                    list_min(list_transform(h32,
                      x -> ($aList[i + 1] * x + $bList[i + 1]) % 2305843009213693951))) AS sig
                FROM h),
          bands AS (SELECT doc_id,
                  unnest(list_transform(generate_series(0, 7), b ->
                    CAST(b AS VARCHAR) || ':' ||
                    array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ','))) AS band
                FROM sig)"""

  private val minhashVerifiedCte: String =
    s"""$minhashBandsCte,
          okbands AS (
            SELECT band FROM bands GROUP BY band
            HAVING COUNT(*) BETWEEN 2 AND 500),
          pairs AS (
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a
            JOIN okbands ob ON a.band = ob.band
            JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
          prefiltered AS (
            SELECT p.id1, p.id2, s1.h32 AS a1, s2.h32 AS a2
            FROM pairs p
            JOIN sig s1 ON p.id1 = s1.doc_id
            JOIN sig s2 ON p.id2 = s2.doc_id
            WHERE CAST(list_sum(list_transform(generate_series(1, 32),
                    i -> CASE WHEN s1.sig[i] = s2.sig[i] THEN 1 ELSE 0 END)) AS DOUBLE)
                  / 32 >= 0.2),
          verified AS (
            SELECT id1, id2,
              CASE WHEN len(list_distinct(list_concat(a1, a2))) = 0 THEN 0.0
                   ELSE CAST(len(list_intersect(a1, a2)) AS DOUBLE)
                        / len(list_distinct(list_concat(a1, a2))) END AS j
            FROM prefiltered)"""

  /** d7/pipe3/d18: the verified pairs' recursive-CTE walk `walk(id, r)` —
    * algorithm-independent; LEAST(id, MIN(r)) is each id's component. */
  private val minhashWalkCtes: String =
    s"""$minhashVerifiedCte,
          nd AS (SELECT id1, id2 FROM verified WHERE j >= 0.4),
          e2 AS (SELECT id1 AS s, id2 AS d FROM nd
                 UNION SELECT id2, id1 FROM nd),
          walk(id, r) AS (
            SELECT s, d FROM e2
            UNION
            SELECT w.id, e.d FROM walk w JOIN e2 e ON w.r = e.s)"""

  /** d9/d16 oracle (d16's bloom stage only routes rows around the anti-join):
    * drop corpus docs whose normalized 10-token prefix matches a src0 doc's. */
  private val decontaminateSql: String =
      s"""WITH p AS (
            SELECT doc_id, source,
              md5(array_to_string(list_filter(
                regexp_split_to_array(trim(lower(t10)), '\\s+'), x -> len(x) > 0), ' ')) AS fp
            FROM (SELECT doc_id, source,
                    array_to_string(list_slice($toksSql, 1, 10), ' ') AS t10
                  FROM documents))
          SELECT doc_id FROM p c
          WHERE source != 'src0'
            AND NOT EXISTS (SELECT 1 FROM p r WHERE r.source = 'src0' AND r.fp = c.fp)"""

  /** d3/d6: the SimHash-32 bit votes `bits(doc_id, i, cnt)` over md5 token hashes. */
  private val simhashBitsCtes: String =
    s"""toks AS (
            SELECT doc_id, unnest($toksSql) AS tok FROM documents),
          th AS (SELECT doc_id,
                   ('0x' || substring(md5(tok), 1, 15))::BIGINT % 4294967296 AS h
                 FROM toks),
          bits AS (SELECT doc_id, i,
                   SUM(CASE WHEN CAST(floor(h / pow(2, i)) AS BIGINT) % 2 = 1
                            THEN 1 ELSE -1 END) AS cnt
                 FROM th CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i)
                 GROUP BY 1, 2)"""

  /** t4/pipe2: qualityScore's parts per document in `m` — mean token length
    * `mtl`, punctuation ratio `pr`, stopword ratio `sw` — carrying `keep`. */
  private def qualityPartsCtes(keep: String): String =
    s"""t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
          m AS (SELECT doc_id, text, $keep
              CASE WHEN len(tk) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                        / len(tk) END AS mtl,
              CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\-]', '', 'g')) AS DOUBLE)
                        / length(text) END AS pr,
              CASE WHEN len(tk) = 0 THEN 0.0
                   ELSE CAST(len(list_filter(tk, x -> x IN ($stopwordsSql))) AS DOUBLE)
                        / len(tk) END AS sw
            FROM t)"""

  /** t4/pipe2: the quality score over [[qualityPartsCtes]]' columns. */
  private val qualitySql: String =
    """ROUND(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
                  + (1.0 - least(pr * 5.0, 1.0)) * 0.2
                  + least(sw * 4.0, 1.0) * 0.2
                  + (CASE WHEN mtl >= 3.0 AND mtl <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3,
                  6)"""

  /** t9/samp4: `m(doc_id, lang, quality)`, the qualityScore replica inlined. */
  private val langQualityCtes: String =
    s"""t AS (SELECT doc_id, lang, text, $toksSql AS tk FROM documents),
          m AS (SELECT doc_id, lang,
              ROUND(least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3
                    + (1.0 - least(
                        (CASE WHEN length(text) = 0 THEN 0.0
                              ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\-]', '', 'g')) AS DOUBLE)
                                   / length(text) END) * 5.0, 1.0)) * 0.2
                    + least((CASE WHEN len(tk) = 0 THEN 0.0
                             ELSE CAST(len(list_filter(tk, x -> x IN ($stopwordsSql))) AS DOUBLE)
                                  / len(tk) END) * 4.0, 1.0) * 0.2
                    + (CASE WHEN (CASE WHEN len(tk) = 0 THEN 0.0
                                  ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                                       / len(tk) END) BETWEEN 3.0 AND 10.0
                            THEN 1.0 ELSE 0.5 END) * 0.3,
                    6) AS quality
            FROM t)"""

  /** d7/d7s oracle. */
  private val dedupClustersOracle: String =
    s"""WITH RECURSIVE $minhashWalkCtes
          SELECT id AS doc_id,
            LEAST(id, MIN(r)) AS cluster,
            (id = LEAST(id, MIN(r))) AS keep
          FROM walk GROUP BY id"""

  /** a19-a21: the planted per-day totals (`total`, a CASE over `user_id` and
    * the day of month `di`) on each (user, day)'s first event, their exact
    * daily sums `daily(user_id, d, dtot)`, and each event flagged `flag` on the
    * flagged days `fd(user_id, d)` that `flagCtes` derive. */
  private def precipSql(total: String, flagCtes: String, flag: Int): String =
    s"""WITH base AS (
           SELECT user_id, event_id, ts, CAST(ts AS DATE) AS d,
                  day(CAST(ts AS DATE)) AS di,
                  row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                     ORDER BY ts, event_id) AS rn
           FROM events),
         obs AS (
           SELECT user_id, event_id, ts, d,
             CASE WHEN rn = 1 THEN
               $total
             ELSE 0.0 END AS pr
           FROM base),
         daily AS (
           SELECT user_id, d,
                  CAST(SUM(CAST(pr AS DECIMAL(18,2))) AS DOUBLE) AS dtot
           FROM obs GROUP BY 1, 2),
         $flagCtes
         SELECT o.user_id, o.event_id,
                CAST(epoch(date_trunc('second', o.ts)) AS BIGINT) AS time_s,
                ROUND(o.pr, 4) + 0 AS pr,
                CASE WHEN fd.user_id IS NOT NULL THEN $flag END AS flag
         FROM obs o LEFT JOIN fd ON o.user_id = fd.user_id AND o.d = fd.d"""

  /** t19/t21: the merge table as nested plain-string replaces over the
    * wrapped symbols `s`, in rank order. */
  private val t19MergedSql: String = t19Merges.foldLeft("s") { case (acc, (a, b)) =>
    s"replace($acc, chr(1)||'$a'||chr(2)||chr(1)||'$b'||chr(2), chr(1)||'$a$b'||chr(2))"
  }

  /** t15/pipe5: sentences planted on every 'table', split, token-counted,
    * with each sentence's exclusive running token total `cum(…, bef)`. */
  private val sentenceCumCtes: String =
    """d AS (
            SELECT doc_id,
              regexp_replace(text, '\btable\b', 'table.', 'g') AS t2
            FROM documents),
          sa AS (
            SELECT doc_id,
              list_filter(list_transform(
                regexp_extract_all(t2, '[^.!?]+[.!?]*'), s -> trim(s)),
                s -> len(s) > 0) AS ss
            FROM d),
          sents AS (
            SELECT doc_id,
              unnest(generate_series(1, len(ss))) - 1 AS pos,
              unnest(ss) AS sent
            FROM sa),
          tok AS (
            SELECT doc_id, pos, sent,
              CAST(len(list_filter(regexp_split_to_array(trim(sent), '\s+'),
                w -> len(w) > 0)) AS BIGINT) AS ntok
            FROM sents),
          cum AS (
            SELECT doc_id, pos, sent, ntok,
              COALESCE(SUM(ntok) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
            FROM tok)"""

  /** e10/pipe5: BM25 top-3 of `table(id, text)` for the token slice
    * `from`..`to` of every 100th document below 5000 — idf and per-term
    * contributions rounded to 6dp decimals before the (query, doc) sum; rank
    * on the 4dp score with an id tiebreak. */
  private def bm25Ctes(id: String, text: String, table: String, from: Int, to: Int): String =
    s"""tf AS (
            SELECT $id, term, COUNT(*) AS tf
            FROM (SELECT $id,
                    unnest(list_filter(
                      regexp_split_to_array(trim(lower($text)), '\\s+'),
                      x -> len(x) > 0)) AS term
                  FROM $table)
            GROUP BY 1, 2),
          dl AS (SELECT $id, SUM(tf) AS dl FROM tf GROUP BY 1),
          stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
          q AS (
            SELECT doc_id AS qid,
              list_slice(list_filter(
                regexp_split_to_array(trim(lower(text)), '\\s+'),
                x -> len(x) > 0), $from, $to) AS qt
            FROM documents WHERE doc_id % 100 = 0 AND doc_id < 5000),
          qterms AS (SELECT DISTINCT qid, unnest(qt) AS term FROM q),
          dfreq AS (
            SELECT term, COUNT(*) AS df FROM tf
            WHERE term IN (SELECT term FROM qterms) GROUP BY 1),
          scored AS (
            SELECT qt.qid, tf.$id, tf.tf, dfreq.df, dl.dl,
                   stats.n_docs, stats.avgdl
            FROM tf JOIN qterms qt USING (term) JOIN dfreq USING (term)
                    JOIN dl USING ($id) CROSS JOIN stats),
          contrib AS (
            SELECT qid, $id,
              CAST(ROUND(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)), 6)
                   * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)), 6)
                   AS DECIMAL(14,6)) AS c
            FROM scored),
          s AS (SELECT qid, $id, ROUND(CAST(SUM(c) AS DOUBLE), 4) + 0 AS score
                FROM contrib GROUP BY 1, 2),
          r AS (SELECT qid, $id, score,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, $id) AS rank
                FROM s)
          SELECT qid, $id, score, rank FROM r WHERE rank <= 3"""

  def oracles: Map[String, String] = Map(
    // Segmentation replayed in pure SQL: symbols ride as chr(1)||sym||chr(2)
    // wrapped tokens (unambiguous boundaries, so a merge can never match across
    // symbols), each merge is one plain-string replace() — non-overlapping
    // left-to-right, the greedy-pass contract — nested in rank order.
    "t19_bpe_segment" ->
      s"""WITH words AS (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents),
          wrapped AS (
            SELECT regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')
                   || chr(1) || '</w>' || chr(2) AS s
            FROM words WHERE w <> ''),
          merged AS (SELECT $t19MergedSql AS m FROM wrapped),
          syms AS (
            SELECT unnest(string_split(substr(m, 2, length(m) - 2),
                                       chr(2) || chr(1))) AS sym
            FROM merged)
          SELECT sym, COUNT(*) AS cnt FROM syms GROUP BY sym""",
    "t21_bpe_fertility" ->
      s"""WITH words AS (
            SELECT doc_id,
              unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
            FROM documents),
          wrapped AS (
            SELECT doc_id,
              regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')
                   || chr(1) || '</w>' || chr(2) AS s
            FROM words WHERE w <> ''),
          merged AS (SELECT doc_id, $t19MergedSql AS m FROM wrapped),
          persym AS (
            SELECT doc_id,
              SUM(len(string_split(substr(m, 2, length(m) - 2),
                                   chr(2) || chr(1)))) AS ns
            FROM merged GROUP BY doc_id),
          perdoc AS (
            SELECT d.source, length(d.text) AS nc, COALESCE(p.ns, 0) AS ns
            FROM documents d LEFT JOIN persym p USING (doc_id))
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(nc) AS BIGINT) AS n_chars,
                 CAST(SUM(ns) AS BIGINT) AS n_syms,
                 ROUND(CAST(SUM(nc) AS DOUBLE) / CAST(SUM(ns) AS DOUBLE), 6) + 0
                   AS chars_per_sym
          FROM perdoc GROUP BY source""",
    "t1_text_stats" ->
      s"""SELECT doc_id,
            len($toksSql) AS n_tok,
            len(regexp_extract_all(text, '[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]')) AS n_bpe,
            length(text) AS n_chars2,
            ROUND(CASE WHEN len($toksSql) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform($toksSql, t -> length(t))) AS DOUBLE)
                       / len($toksSql) END, 4) AS mean_tok_len
          FROM documents""",
    "t2_langid" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          hits AS (
            SELECT doc_id, lang, hits FROM (
              SELECT doc_id,
                'alpha' AS lang,
                len(list_filter(tk, x -> x IN ('spark', 'sql', 'batch', 'stream'))) AS hits
              FROM toks
              UNION ALL
              SELECT doc_id, 'beta',
                len(list_filter(tk, x -> x IN ('data', 'table', 'row', 'column')))
              FROM toks
              UNION ALL
              SELECT doc_id, 'gamma',
                len(list_filter(tk, x -> x IN ('sort', 'hash', 'scan', 'merge')))
              FROM toks)),
          best AS (
            SELECT doc_id, lang, hits,
                   row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
            FROM hits)
          SELECT CASE WHEN hits > 0 THEN lang ELSE 'und' END AS det, COUNT(*) AS n
          FROM best WHERE rn = 1 GROUP BY 1""",
    "t3_winnowing" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          ${winnowCtes(5, 4)},
          fp AS (SELECT doc_id, list_sort(list_distinct(s)) AS fp FROM sel)
          SELECT doc_id, len(fp) AS n_fp, fp[1] AS min_fp, fp[-1] AS max_fp FROM fp""",
    "t4_quality" ->
      s"""WITH ${qualityPartsCtes("")}
          SELECT doc_id, $qualitySql AS quality
          FROM m""",
    "t5_split_assign" ->
      s"""WITH u AS (
           SELECT doc_id,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT)::DOUBLE
               / 1152921504606846976.0 AS u
           FROM documents)
         SELECT CASE WHEN u < CAST(${1.0 - 0.05 - 0.05} AS DOUBLE) THEN 'train'
                     WHEN u < CAST(${1.0 - 0.05} AS DOUBLE) THEN 'val'
                     ELSE 'test' END AS split,
                COUNT(*) AS n
         FROM u GROUP BY 1""",
    "d1_dedup_exact" ->
      s"""WITH p AS (
            SELECT doc_id,
              array_to_string(list_slice($toksSql, 1, 10), ' ') AS text10
            FROM documents)
          SELECT MIN(doc_id) AS doc_id FROM p
          GROUP BY md5(array_to_string(
            list_filter(regexp_split_to_array(trim(lower(text10)), '\\s+'), x -> len(x) > 0), ' '))""",
    "d2_minhash_neardups" ->
      s"""WITH $minhashVerifiedCte
          SELECT id1, id2, ROUND(j, 6) AS jaccard FROM verified WHERE j >= 0.4""",
    // d22: the band table replayed into a one-row over-cap aggregate — the
    // exact bandCapLedger columns (cap 4, matching the Spark side)
    "d22_cap_ledger" ->
      s"""WITH $minhashBandsCte,
          bc AS (SELECT band, COUNT(*) AS n FROM bands GROUP BY band)
          SELECT ${capLedgerSql(4)}
          FROM bc""",
    "d7_dedup_clusters" -> dedupClustersOracle,
    // the d7 clustering CTE feeding a survivors anti-join + per-source stats
    "pipe3_near_dedup" ->
      s"""WITH RECURSIVE $minhashWalkCtes
          SELECT source, COUNT(*) AS n_survivors,
            CAST(SUM(n_chars) AS BIGINT) AS chars_kept
          FROM documents
          WHERE doc_id NOT IN (
            SELECT id FROM walk GROUP BY id HAVING id != LEAST(id, MIN(r)))
          GROUP BY source""",
    "d7s_dedup_clusters_star" -> dedupClustersOracle,
    "t6_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          g AS (SELECT doc_id,
                  CASE WHEN len(tk) < 2 THEN []::VARCHAR[]
                       ELSE list_transform(generate_series(1, len(tk) - 1),
                              i -> array_to_string(list_slice(tk, i, i + 1), ' ')) END AS grams
                FROM toks),
          c AS (SELECT doc_id, gram, COUNT(*) AS c
                FROM (SELECT doc_id, unnest(grams) AS gram FROM g) GROUP BY 1, 2),
          agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_grams,
                    CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_grams,
                    CAST(MAX(c) AS BIGINT) AS top_gram
                  FROM c GROUP BY doc_id)
          SELECT d.doc_id, COALESCE(a.n_grams, 0) AS n_grams,
            COALESCE(a.dup_grams, 0) AS dup_grams, COALESCE(a.top_gram, 0) AS top_gram
          FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
    "t7_redact" ->
      s"""WITH dirty AS (
            SELECT doc_id,
              text || ' contact user' || CAST(doc_id AS VARCHAR)
                || '@mail.example.com or http://ex.com/page/' || CAST(doc_id AS VARCHAR)
                || ' ref ' || CAST(doc_id * 7919 + 1000000 AS VARCHAR)
                || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17' AS d
            FROM documents)
          SELECT doc_id, ${redactSql("d")} AS red FROM dirty""",
    "d9_decontaminate" -> decontaminateSql,
    "d16_bloom_decontam" -> decontaminateSql,
    "e6_kmeans_step" ->
      """WITH c AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
            FROM embeddings ORDER BY vec_id LIMIT 8),
          v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          scored AS (
            SELECT vec_id, cid,
              CASE WHEN sqrt(list_sum(list_transform(generate_series(1, 64), j -> v[j] * v[j])))
                        * sqrt(list_sum(list_transform(generate_series(1, 64), j -> cv[j] * cv[j]))) = 0
                   THEN 0.0
                   ELSE list_sum(list_transform(generate_series(1, 64), j -> v[j] * cv[j]))
                        / (sqrt(list_sum(list_transform(generate_series(1, 64), j -> v[j] * v[j])))
                           * sqrt(list_sum(list_transform(generate_series(1, 64), j -> cv[j] * cv[j]))))
              END AS cos
            FROM v CROSS JOIN c),
          best AS (
            SELECT vec_id, cid,
              row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
            FROM scored),
          m AS (SELECT b.cid, v.v FROM best b JOIN v USING (vec_id) WHERE rn = 1)
          SELECT CAST(cid AS BIGINT) AS cid, COUNT(*) AS n,
            ROUND(CAST(SUM(CAST(v[1] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 4) + 0 AS c1,
            ROUND(CAST(SUM(CAST(v[2] AS DECIMAL(27,10))) AS DOUBLE) / COUNT(*), 4) + 0 AS c2
          FROM m GROUP BY cid""",
    "pipe2_curation" ->
      s"""WITH ${qualityPartsCtes("tk,")},
          q AS (SELECT doc_id, tk, $qualitySql AS quality,
              md5(array_to_string(tk, ' ')) AS fp
            FROM m),
          hits AS (
            SELECT doc_id, lang, hits FROM (
              SELECT doc_id, 'alpha' AS lang,
                len(list_filter(tk, x -> x IN ('spark', 'sql', 'batch', 'stream'))) AS hits
              FROM q
              UNION ALL
              SELECT doc_id, 'beta',
                len(list_filter(tk, x -> x IN ('data', 'table', 'row', 'column')))
              FROM q
              UNION ALL
              SELECT doc_id, 'gamma',
                len(list_filter(tk, x -> x IN ('sort', 'hash', 'scan', 'merge')))
              FROM q)),
          det AS (
            SELECT doc_id,
              CASE WHEN hits > 0 THEN lang ELSE 'und' END AS det
            FROM (SELECT doc_id, lang, hits,
                    row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang DESC) AS rn
                  FROM hits)
            WHERE rn = 1),
          j AS (
            SELECT q.doc_id, q.fp, det.det,
              q.quality >= 0.7 AS kq,
              (q.quality >= 0.7 AND det.det != 'und') AS kl
            FROM q JOIN det USING (doc_id)),
          d AS (
            SELECT *, row_number() OVER (
                PARTITION BY fp
                ORDER BY (CASE WHEN kl THEN 0 ELSE 1 END), doc_id) AS rn
            FROM j),
          k AS (
            SELECT kq, kl, (kl AND rn = 1) AS kd,
              (kl AND rn = 1 AND
                (('0x' || substring(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                   / 1152921504606846976.0)
                < CASE det WHEN 'alpha' THEN 0.9 WHEN 'beta' THEN 0.5
                           WHEN 'gamma' THEN 0.25 ELSE 0.1 END) AS ks
            FROM d)
          SELECT COUNT(*) AS n_total,
            CAST(SUM(CASE WHEN kq THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
            CAST(SUM(CASE WHEN kl THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
            CAST(SUM(CASE WHEN kd THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
            CAST(SUM(CASE WHEN ks THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
          FROM k""",
    "t8_chunk_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, len($toksSql) AS n_tok FROM documents),
          c AS (SELECT doc_id, n_tok,
                  COALESCE(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                FROM t)
          SELECT doc_id,
            CAST(cb // 512 AS BIGINT) AS pack_id,
            CAST(cb % 512 AS BIGINT) AS pack_offset,
            CAST(CASE WHEN n_tok <= 0 THEN 1
                      ELSE ((cb + n_tok - 1) // 512) - (cb // 512) + 1 END AS BIGINT) AS n_packs
          FROM c""",
    "e7_pq_encode" ->
      s"""WITH $pqCbCte,
          v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          d AS (SELECT vec_id, s, ci,
                  ${pqDistSql("v")} AS dist
                FROM v CROSS JOIN cb),
          best AS (SELECT vec_id, s, ci, dist,
                     row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, ci ASC) AS rn
                   FROM d),
          agg AS (SELECT vec_id,
                    MAX(CASE WHEN s = 0 THEN ci END) AS c0,
                    MAX(CASE WHEN s = 1 THEN ci END) AS c1,
                    list_sum(list(dist ORDER BY s)) AS sse
                  FROM best WHERE rn = 1 GROUP BY vec_id)
          SELECT vec_id, CAST(c0 AS INT) AS c0, CAST(c1 AS INT) AS c1,
            ROUND(sse / 64, 6) AS mse
          FROM agg""",
    "e8_ivfpq_topk" ->
      s"""WITH $pqCbCte,
          $ivfCellCtes,
          ${pqCodeCtes("e", "v")},
          lutd AS (SELECT q.vec_id AS qid, cb.s, cb.ci,
                  ${pqDistSql("q.v", "cb.")} AS ld
                FROM e q CROSS JOIN cb WHERE q.vec_id < 10),
          $ivfCandsCte,
          ${pqAdcRankSql("l.s = co.s AND l.ci = co.code")}""",
    // e11: the e8 pipeline with residual encoding — corpus codes and query
    // LUTs both computed on v − basis(cell); the LUT join carries the cell key
    "e11_ivfpq_residual" ->
      s"""WITH $pqCbCte,
          $ivfCellCtes,
          rescorp AS (
            SELECT e.vec_id, a.cell,
              list_transform(generate_series(1, 64),
                j -> e.v[j] - CASE WHEN j = a.cell + 1 THEN 1.0 ELSE 0.0 END) AS rv
            FROM e JOIN assign a ON a.cid = e.vec_id),
          ${pqCodeCtes("rescorp", "rv")},
          resq AS (
            SELECT p.qid, p.cell,
              list_transform(generate_series(1, 64),
                j -> q.v[j] - CASE WHEN j = p.cell + 1 THEN 1.0 ELSE 0.0 END) AS rq
            FROM probes p JOIN e q ON q.vec_id = p.qid),
          lutd AS (SELECT r.qid, r.cell, cb.s, cb.ci,
                  ${pqDistSql("r.rq", "cb.")} AS ld
                FROM resq r CROSS JOIN cb),
          cands AS (SELECT p.qid, p.cell, a.cid
                FROM probes p JOIN assign a ON p.cell = a.cell),
          ${pqAdcRankSql("l.cell = cd.cell AND l.s = co.s AND l.ci = co.code")}""",
    "t10_corpus_stats" ->
      s"""WITH t AS (SELECT source,
              md5(array_to_string($toksSql, ' ')) AS fp,
              len($toksSql) AS nt
            FROM documents)
          SELECT source, COUNT(*) AS n_docs,
            COUNT(DISTINCT fp) AS n_distinct,
            CAST(SUM(nt) AS BIGINT) AS n_tokens,
            CAST(MAX(nt) AS BIGINT) AS max_tokens
          FROM t GROUP BY source""",
    "samp2_mixture" ->
      """WITH w(source, w) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
          n AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
          sc AS (SELECT MIN(cnt / w.w) AS scale FROM n JOIN w USING (source)),
          r AS (SELECT n.source, least(1.0, w.w * sc.scale / n.cnt) AS rate
                FROM n JOIN w USING (source) CROSS JOIN sc),
          k AS (SELECT d.source,
                  (('0x' || substring(md5('samp:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                     / 1152921504606846976.0) < COALESCE(r.rate, 0.0) AS keep
                FROM documents d LEFT JOIN r USING (source))
          SELECT source, COUNT(*) AS n,
            CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM k GROUP BY source""",
    "t9_quantile_gate" ->
      s"""WITH $langQualityCtes,
          thr AS (SELECT lang, quantile_cont(quality, 0.25) AS t FROM m GROUP BY lang)
          SELECT doc_id FROM m JOIN thr USING (lang) WHERE quality >= thr.t""",
    "samp4_ccnet_buckets" ->
      s"""WITH $langQualityCtes,
          thr AS (SELECT lang,
                    quantile_cont(quality, 0.3333333333333333) AS p33,
                    quantile_cont(quality, 0.6666666666666666) AS p67
                  FROM m GROUP BY lang)
          SELECT lang,
                 CASE WHEN quality >= p67 THEN 'head'
                      WHEN quality >= p33 THEN 'middle'
                      ELSE 'tail' END AS ccnet_bucket,
                 COUNT(*) AS n,
                 CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS q_sum
          FROM m JOIN thr USING (lang)
          GROUP BY 1, 2""",
    // samp5: the normalizing totals are scalar subqueries over the per-language
    // counts (group-cardinality, same as the Spark window over one partition)
    "samp5_alpha_lang" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
          w AS (SELECT lang, n_docs,
                  n_docs / (SELECT SUM(n_docs) FROM c) AS p,
                  pow(n_docs / (SELECT SUM(n_docs) FROM c), 0.3) AS wt
                FROM c)
          SELECT lang, n_docs, ROUND(p, 6) + 0 AS p,
                 ROUND(wt / (SELECT SUM(wt) FROM w), 6) + 0 AS q,
                 ROUND(wt / (SELECT SUM(wt) FROM w) / p, 6) + 0 AS boost
          FROM w""",
    // samp9: the same two salted md5 coordinates, rank within shard
    "samp9_shard_assign" ->
      """WITH k AS (
           SELECT doc_id, lang,
             (('0x' || substring(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT) % 8 AS shard,
             ('0x' || substring(md5('shard:pos:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS pk
           FROM documents)
         SELECT doc_id, lang, shard,
                row_number() OVER (PARTITION BY shard ORDER BY pk, doc_id) AS pos
         FROM k""",
    // d21: per-source grouped MIN signatures (k=16 coefficients inlined),
    // pairwise agreement fraction above the diagonal
    "d21_source_similarity" ->
      s"""WITH sh AS (
            SELECT source, unnest(${shinglesSql(toksSql)}) AS s FROM documents),
          h AS (SELECT source,
                  ('0x' || substring(md5(s), 1, 15))::BIGINT % 4294967296 AS h
                FROM sh),
          sig AS (SELECT source AS g,
                 $d21SigSql
               FROM h GROUP BY source)
          SELECT a.g AS g1, b.g AS g2,
                 ROUND(($d21AgreeSql)::DOUBLE / 16, 4) + 0 AS est_jaccard
          FROM sig a JOIN sig b ON a.g < b.g""",
    // t18: the exact trigram pipeline — full (vocab x lang) smoothing grid so
    // unseen-in-language trigrams carry the add-1 floor
    "t18_trigram_langid" ->
      """WITH d AS (SELECT doc_id, lang, lower(text) AS t FROM documents),
         tri AS (
           SELECT doc_id, lang, substr(t, i, 3) AS tri
           FROM (SELECT doc_id, lang, t,
                   unnest(generate_series(1, len(t) - 2)) AS i
                 FROM d WHERE len(t) >= 3)),
         inst AS (SELECT doc_id, lang, tri, COUNT(*) AS tf FROM tri GROUP BY 1, 2, 3),
         counts AS (SELECT tri, lang AS ml, SUM(tf) AS c FROM inst GROUP BY 1, 2),
         totals AS (SELECT ml, SUM(c) AS total FROM counts GROUP BY 1),
         vb AS (SELECT COUNT(DISTINCT tri) AS bsz FROM counts),
         grid AS (
           SELECT v.tri, t.ml,
             CAST(ROUND(ln((COALESCE(c.c, 0) + 1.0) / (t.total + vb.bsz)), 6)
                  AS DECIMAL(12,6)) AS lp
           FROM (SELECT DISTINCT tri FROM counts) v
           CROSS JOIN totals t
           LEFT JOIN counts c ON c.tri = v.tri AND c.ml = t.ml
           CROSS JOIN vb),
         scored AS (
           SELECT i.doc_id, i.lang, g.ml, SUM(g.lp * i.tf) AS s
           FROM inst i JOIN grid g ON g.tri = i.tri
           GROUP BY 1, 2, 3),
         r AS (SELECT doc_id, lang, ml, s,
                 row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, ml) AS rn
               FROM scored)
         SELECT doc_id, lang, ml AS pred_lang,
                ROUND(CAST(s AS DOUBLE), 4) + 0 AS score
         FROM r WHERE rn = 1""",
    // t17: the exact KN pipeline — integer count tables, the float-literal
    // rule on the discount, 6dp-decimal nll before the per-doc sum
    "t17_kn_bigram_lm" ->
      """WITH dp AS (
           SELECT doc_id, tl[i] AS a, tl[i + 1] AS b, COUNT(*) AS tf
           FROM (SELECT doc_id, tl,
                   unnest(generate_series(1, len(tl) - 1)) AS i
                 FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> len(x) > 0) AS tl
                       FROM documents))
           GROUP BY 1, 2, 3),
         bg AS (SELECT a, b, SUM(tf) AS c12 FROM dp GROUP BY 1, 2),
         fc AS (SELECT a, SUM(c12) AS c1, COUNT(*) AS n1fwd FROM bg GROUP BY 1),
         ct AS (SELECT b, COUNT(*) AS n1rev FROM bg GROUP BY 1),
         ty AS (SELECT COUNT(*) AS nbig FROM bg),
         scored AS (
           SELECT dp.doc_id, dp.tf,
             CAST(ROUND(-ln(
               (GREATEST(c12 - 0.75::DOUBLE, 0.0::DOUBLE) / c1)
               + ((0.75::DOUBLE * n1fwd) / c1) * (n1rev / nbig)), 6)
               AS DECIMAL(12,6)) AS nll
           FROM dp JOIN bg USING (a, b) JOIN fc USING (a) JOIN ct USING (b)
                   CROSS JOIN ty)
         SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_bigrams,
                ROUND(CAST(SUM(nll * tf) AS DOUBLE) / SUM(tf), 4) + 0 AS kn_score
         FROM scored GROUP BY 1""",
    // mm3: the sine fixture's integer samples regenerated analytically —
    // identical IEEE op order to sineWav (the float-literal rule), Σs² exact
    // in BIGINT, zero crossings via a lag window
    "mm3_audio_features" ->
      """WITH p AS (
           SELECT doc_id, 51 + (doc_id % 7) AS f, 800 + (doc_id % 5) * 160 AS n
           FROM documents),
         sgen AS (
           SELECT doc_id, n, i,
             CAST(FLOOR(0.8::DOUBLE * 32767 * sin(2.0::DOUBLE * pi() * f * i / 8000)
                        + 0.5::DOUBLE) AS BIGINT) AS v
           FROM (SELECT doc_id, f, n,
                   unnest(generate_series(0, n - 1)) AS i FROM p)),
         lagged AS (
           SELECT doc_id, n, i, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS prev
           FROM sgen),
         agg AS (
           SELECT doc_id, MAX(n) AS n,
             SUM(v * v) AS ssq,
             SUM(CASE WHEN i > 0 AND ((v >= 0) <> (prev >= 0))
                      THEN 1 ELSE 0 END) AS zc
           FROM lagged GROUP BY doc_id)
         SELECT doc_id, 8000 AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST((n + 255) // 256 AS BIGINT) AS n_windows,
           CAST(zc AS BIGINT) AS zc_total,
           ROUND(sqrt(CAST(ssq AS DOUBLE) / n), 6) + 0 AS rms
         FROM agg""",
    // d20: fingerprints as the inlined NormFingerprint twin, one full-outer
    // join on the id
    "d20_snapshot_diff" ->
      """WITH fpold AS (
           SELECT doc_id AS oid,
             md5(array_to_string(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0), ' ')) AS ofp
           FROM documents),
         cur AS (
           SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' changed' ELSE text END AS text
           FROM documents WHERE doc_id % 17 <> 0
           UNION ALL
           SELECT doc_id + 100000 AS doc_id, text
           FROM documents WHERE doc_id % 23 = 0),
         fpcur AS (
           SELECT doc_id AS cid,
             md5(array_to_string(list_filter(
               regexp_split_to_array(trim(lower(text)), '\s+'),
               x -> len(x) > 0), ' ')) AS cfp
           FROM cur)
         SELECT COALESCE(cid, oid) AS doc_id,
                CASE WHEN oid IS NULL THEN 'added'
                     WHEN cid IS NULL THEN 'removed'
                     WHEN ofp <> cfp THEN 'changed'
                     ELSE 'unchanged' END AS status
         FROM fpold FULL OUTER JOIN fpcur ON oid = cid""",
    // samp8: the exact A-ES key pipeline — the samp1 md5-uniform, ln-key,
    // 9dp round, top-50 with explicit NULLS LAST so engine defaults can't drift
    "samp8_weighted_sample" ->
      """WITH u AS (
           SELECT doc_id, lang, n_chars,
             (('0x' || substring(md5('wsamp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                / 1152921504606846976.0) AS uu
           FROM documents),
         k AS (
           SELECT doc_id, lang, n_chars,
             CASE WHEN n_chars > 0
                  THEN ROUND(ln(uu) / CAST(n_chars AS DOUBLE), 9) END AS sample_key
           FROM u),
         r AS (SELECT doc_id, lang, n_chars, sample_key,
                 row_number() OVER (ORDER BY sample_key DESC NULLS LAST, doc_id) AS rn
               FROM k)
         SELECT doc_id, lang, n_chars, sample_key + 0 AS sample_key
         FROM r WHERE rn <= 50""",
    // samp10: the prefix/boundary rule replayed — kept iff the inclusive
    // per-lang running token sum (stream order = salted 60-bit md5 key,
    // ties to smaller id) stays within budget
    "samp10_token_budget" ->
      s"""WITH $samp10Ctes
          SELECT doc_id, lang, n_tokens, cum_tokens
          FROM c WHERE cum_tokens <= budget""",
    // samp10a: one accounting row per lang; the boundary doc is the first
    // excluded in stream order (min (k, doc_id) among cum > budget)
    "samp10a_budget_ledger" ->
      s"""WITH $samp10Ctes,
          b AS (
            SELECT lang, doc_id, n_tokens,
              row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
            FROM c WHERE cum_tokens > budget)
          SELECT c.lang, MAX(c.budget) AS budget,
            COUNT(CASE WHEN c.cum_tokens <= c.budget THEN 1 END) AS n_kept,
            CAST(COALESCE(SUM(CASE WHEN c.cum_tokens <= c.budget
              THEN c.n_tokens END), 0) AS BIGINT) AS tokens_filled,
            MAX(b.doc_id) AS boundary_id,
            MAX(b.n_tokens) AS boundary_tokens
          FROM c LEFT JOIN (SELECT * FROM b WHERE rn = 1) b USING (lang)
          GROUP BY c.lang""",
    // samp11: the epoch plan replayed — n_epochs = whole epochs (integral
    // budget/total division, capped at 3) + 1 if the doc lands in the
    // partial epoch's remainder prefix (epoch-salted stream order)
    "samp11_epoch_plan" ->
      s"""WITH $samp11Ctes
          SELECT doc_id, lang, n_tokens,
            CAST(full_epochs + CASE WHEN cum <= rem THEN 1 ELSE 0 END
              AS BIGINT) AS n_epochs
          FROM cc
          WHERE full_epochs + CASE WHEN cum <= rem THEN 1 ELSE 0 END >= 1""",
    // samp11a: one epoch-accounting row per lang; boundary = first excluded
    // doc of the PARTIAL stream, null when the epoch cap stopped the fill
    "samp11a_epoch_ledger" ->
      s"""WITH $samp11Ctes,
          b AS (
            SELECT lang, doc_id, n_tokens,
              row_number() OVER (PARTITION BY lang ORDER BY k, doc_id) AS rn
            FROM cc WHERE cum > rem AND full_epochs < 3)
          SELECT cc.lang, MAX(cc.budget) AS budget,
            MAX(cc.total_tokens) AS total_tokens,
            MAX(cc.full_epochs) AS full_epochs,
            COUNT(CASE WHEN cc.cum <= cc.rem THEN 1 END) AS n_partial,
            CAST(MAX(cc.full_epochs) * MAX(cc.total_tokens) +
              COALESCE(SUM(CASE WHEN cc.cum <= cc.rem THEN cc.n_tokens END), 0)
              AS BIGINT) AS tokens_filled,
            MAX(b.doc_id) AS boundary_id,
            MAX(b.n_tokens) AS boundary_tokens
          FROM cc LEFT JOIN (SELECT * FROM b WHERE rn = 1) b USING (lang)
          GROUP BY cc.lang""",
    // g1: the five power iterations unrolled as CTE pairs (message sum, then
    // re-rank) — every round re-rounds to 9dp on both engines
    "g1_pagerank" -> g1PagerankSql,
    // samp7: e3's argmax assignment (ties cid DESC), representativeness =
    // own-centroid cosine rounded 6dp BEFORE the per-cell rank
    "samp7_cluster_cap" ->
      s"""WITH $basisCosCte,
         best AS (
           SELECT vec_id, cid, cos,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
           FROM scored),
         a AS (SELECT vec_id, CAST(cid AS BIGINT) AS cid, ROUND(cos, 6) AS rep
               FROM best WHERE rn = 1),
         r AS (SELECT vec_id, cid, rep,
                 row_number() OVER (PARTITION BY cid ORDER BY rep DESC, vec_id) AS rk
               FROM a)
         SELECT vec_id, cid, rep + 0 AS rep FROM r WHERE rk <= 25""",
    // samp6: the exact DSIR pipeline — unigram+bigram hash buckets (15-hex-char
    // md5 prefix, the shingleHash rule), add-1 smoothed target/raw log-ratios
    // rounded to 6dp decimals before the per-doc sum
    "t20_linear_classifier" -> t20ClassifierSql,
    // mm4: the dHash pipeline replayed — same raster synthesis, halves summed
    // from shifted-1 powers (never bit 63 in one code), band self-join,
    // bit_count(xor) verify. mm4r shares the oracle verbatim: its payloads
    // are REAL PNGs of the same md5 grid (r=g=b=v, 9×8 identity box-mean),
    // so decode-then-hash must equal synthesize-then-hash bit-for-bit.
    "mm4_dhash_neardups" -> mm4PairsSql,
    "mm4r_dhash_decode" -> mm4PairsSql,
    // mm4w: the wide chassis replayed — md5 group base split as two
    // non-negative 32-bit halves, disjoint per-member XOR flips (4/5/7
    // bits), 8x8-bit band self-join, bit_count verify at <= 7
    "mm4w_wide_neardups" ->
      s"""WITH ${wideCodeCtes("")},
         b AS (
           SELECT doc_id, hi, lo, $band8Sql
           FROM h),
         $bandPairCtes
         SELECT id1, id2, CAST(hamming AS BIGINT) AS hamming
         FROM p WHERE hamming <= 7""",
    "mm4p_phash_neardups" -> mm4pSql,
    "mm5_video_keyframes" -> mm5KeyframesSql,
    "mm6_video_neardups" ->
      s"""WITH $mm6KfCtes
          SELECT vid1, vid2, nkf1, nkf2, n_shared1, n_shared2, sim FROM rolled""",
    "pipe7_video_curation" ->
      s"""WITH $mm6KfCtes,
          dropped AS (SELECT DISTINCT vid2 FROM rolled),
          ${band4Cte("kf")},
          bc AS (SELECT band, COUNT(*) AS n FROM bands GROUP BY band),
          vids AS (SELECT COUNT(DISTINCT doc_id) AS nv FROM kf)
          SELECT (SELECT nv FROM vids) AS n_input,
                 (SELECT COUNT(*) FROM dropped) AS n_dup_dropped,
                 (SELECT nv FROM vids) - (SELECT COUNT(*) FROM dropped) AS n_kept,
                 ${capLedgerSql(2000)}
          FROM bc""",
    "mm8_video_hash_neardups" ->
      s"""WITH $mm6KfCtes,
          $mm8VhCtes
          ${brutePairsSql("vh", withHamming = true)}""",
    "mm9_incremental_video" ->
      s"""WITH $mm6KfCtes,
          $mm8VhCtes,
          t AS (SELECT doc_id, hi, lo, (doc_id % 10 = 0) AS isnew FROM vh),
          ${incrementalMatchCtes("t", 3)},
          ${band4Cte("vh")},
          ${incrementalLedgerSql("id")}""",
    // mm9w: the wide-radius incremental contract replayed brute-force (the
    // 8x8 banding is recall-exact at <= 7 >= the query's radius 6, so the
    // banded result == the all-pairs result), plus the wide cap ledger
    "mm9w_incremental_wide" ->
      s"""WITH ${wideCodeCtes(",\n (doc_id % 10 = 0) AS isnew")},
         ${incrementalMatchCtes("h", 6)},
         bands AS (
           SELECT doc_id, $band8Sql
           FROM h),
         ${incrementalLedgerSql("id AS doc_id")}""",
    // mm10: both channels rebuilt analytically — the visual pooled hash via
    // the mm6/mm8 CTEs (mm10's frames ARE mm6's synthesis), the soundtrack
    // energy hash via the mm7 CTE shape re-keyed on docId/8 with the %8
    // jitter; all-pairs at this scale, either-channel union, both hammings
    // reported
    "mm10_av_neardups" ->
      s"""WITH $mm6KfCtes,
          $mm8VhCtes,
          ${energyHashCtes("a", "v", 8)},
          vp AS (
            ${brutePairsSql("vh", withHamming = false)}),
          ap AS (
            ${brutePairsSql("aeh", withHamming = false)}),
          u AS (SELECT id1, id2 FROM vp UNION SELECT id1, id2 FROM ap),
          j AS (
            SELECT u.id1, u.id2,
              bit_count(xor(v1.hi, v2.hi)) + bit_count(xor(v1.lo, v2.lo)) AS vh_,
              bit_count(xor(a1.hi, a2.hi)) + bit_count(xor(a1.lo, a2.lo)) AS ah_
            FROM u JOIN vh v1 ON u.id1 = v1.doc_id
                   JOIN vh v2 ON u.id2 = v2.doc_id
                   JOIN aeh a1 ON u.id1 = a1.doc_id
                   JOIN aeh a2 ON u.id2 = a2.doc_id)
          SELECT id1, id2, CAST(vh_ AS BIGINT) AS v_hamming,
            CAST(ah_ AS BIGINT) AS a_hamming,
            CASE WHEN vh_ <= 3 AND ah_ <= 3 THEN 'both'
                 WHEN vh_ <= 3 THEN 'visual' ELSE 'audio' END AS matched_on
          FROM j""",
    "mm7_audio_neardups" ->
      s"""WITH $mm7EhCtes
        ${brutePairsSql("eh", withHamming = true)}""",
    "pipe8_audio_curation" ->
      s"""WITH $mm7EhCtes,
        rmsq AS (
          SELECT doc_id, sqrt(SUM(lvl * lvl)::DOUBLE / 65) AS rms
          FROM lv GROUP BY doc_id),
        p AS (
          ${brutePairsSql("eh", withHamming = false)}),
        dropped AS (SELECT DISTINCT id2 FROM p),
        surv AS (
          SELECT r.doc_id, r.rms FROM rmsq r
          WHERE r.doc_id NOT IN (SELECT id2 FROM dropped)),
        ${band4Cte("eh")},
        bc AS (SELECT band, COUNT(*) AS n FROM bands GROUP BY band)
        SELECT (SELECT COUNT(*) FROM eh) AS n_input,
               (SELECT COUNT(*) FROM dropped) AS n_dup_dropped,
               (SELECT COUNT(*) FROM surv WHERE rms < 17000.0::DOUBLE)
                 AS n_low_energy,
               (SELECT COUNT(*) FROM surv WHERE rms >= 17000.0::DOUBLE)
                 AS n_kept,
               ${capLedgerSql(2000)}
        FROM bc""",
    "pipe6_image_curation" -> pipe6Sql,
    "samp6_dsir" ->
      """WITH toks AS (
            SELECT doc_id, (lang = 'en') AS tgt,
              list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                x -> len(x) > 0) AS tl
            FROM documents),
          grams AS (
            SELECT doc_id, tgt, unnest(tl) AS g FROM toks
            UNION ALL
            SELECT doc_id, tgt, tl[i] || ' ' || tl[i + 1] AS g
            FROM (SELECT doc_id, tgt, tl,
                    unnest(generate_series(1, len(tl) - 1)) AS i FROM toks)),
          ex AS (
            SELECT doc_id, tgt,
              (('0x' || substring(md5(g), 1, 15))::BIGINT) % 512 AS b
            FROM grams),
          stats AS (
            SELECT b, COUNT(*) AS c_all,
                   SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS c_t
            FROM ex GROUP BY 1),
          tot AS (SELECT SUM(c_all) AS n_all, SUM(c_t) AS n_t FROM stats),
          bw AS (
            SELECT b, CAST(ROUND(ln(((c_t + 1.0) / (n_t + 512.0)) /
                                    ((c_all + 1.0) / (n_all + 512.0))), 6)
                           AS DECIMAL(12,6)) AS lw
            FROM stats CROSS JOIN tot)
          SELECT e.doc_id, COUNT(*) AS n_grams,
                 ROUND(CAST(SUM(lw) AS DOUBLE), 4) + 0 AS dsir_weight
          FROM ex e JOIN bw USING (b)
          GROUP BY 1""",
    "e10_bm25" -> s"WITH ${bm25Ctes("doc_id", "text", "documents", 1, 6)}",
    // pipe5: the t15 chunking chain feeding the e10 BM25 chain, chunk ids as
    // doc#chunk strings
    "pipe5_rag_slice" ->
      s"""WITH $sentenceCumCtes,
          chunks AS (
            SELECT CAST(doc_id AS VARCHAR) || '#' ||
                     CAST(CAST(FLOOR(bef / 32) AS BIGINT) AS VARCHAR) AS cid,
                   string_agg(sent, ' ' ORDER BY pos) AS chunk_text
            FROM cum GROUP BY doc_id, FLOOR(bef / 32)),
          ${bm25Ctes("cid", "chunk_text", "chunks", 7, 11)}""",
    // t14: the line rules as a list_filter lambda — terminal punctuation regex,
    // 5-word floor on whitespace tokens, javascript kill; page gates on the
    // kept-line count and the raw text
    "t14_c4_clean" ->
      """WITH d AS (
            SELECT doc_id,
              text || chr(10) ||
              'This is a good sentence with many words.' || chr(10) ||
              'short line.' || chr(10) ||
              'no terminal punctuation in this line at all' || chr(10) ||
              CASE WHEN doc_id % 7 = 0
                THEN 'Enable javascript to continue reading this content.'
                ELSE 'Another good sentence appears right here.' END || chr(10) ||
              CASE WHEN doc_id % 13 = 0
                THEN 'lorem ipsum dolor sit amet paragraph ends here.'
                ELSE 'Closing sentence for the document body.' END AS t2
            FROM documents),
          k AS (
            SELECT doc_id, t2,
              list_filter(string_split(t2, chr(10)), l ->
                regexp_matches(trim(l), '[.!?"”'']$')
                AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                        w -> len(w) > 0)) >= 5
                AND NOT contains(lower(l), 'javascript')) AS kept
            FROM d)
          SELECT doc_id,
            array_to_string(kept, chr(10)) AS text_clean,
            CAST(len(kept) AS BIGINT) AS n_lines_kept,
            (len(kept) >= 3 AND NOT contains(lower(t2), 'lorem ipsum')
              AND NOT contains(t2, '{')) AS page_kept
          FROM k""",
    // t15: lockstep unnest for sentence positions; stride chunk id from the
    // exclusive running token total
    "t15_sentence_chunks" ->
      s"""WITH $sentenceCumCtes
          SELECT doc_id, CAST(FLOOR(bef / 32) AS BIGINT) AS chunk_id,
                 COUNT(*) AS n_sentences, CAST(SUM(ntok) AS BIGINT) AS n_tokens,
                 string_agg(sent, ' ' ORDER BY pos) AS chunk_text
          FROM cum GROUP BY 1, 2""",
    "samp1_stratified" ->
      """WITH k AS (
            SELECT lang,
              (('0x' || substring(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                 / 1152921504606846976.0)
              < CASE lang WHEN 'en' THEN 0.8 WHEN 'es' THEN 0.5
                          WHEN 'fr' THEN 0.25 ELSE 0.1 END AS keep
            FROM documents)
          SELECT lang, COUNT(*) AS n,
            CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
          FROM k GROUP BY lang""",
    "samp3_domain_cap" ->
      """WITH r AS (
            SELECT source, doc_id, n_chars,
              row_number() OVER (PARTITION BY source
                                 ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents)
          SELECT source, COUNT(*) AS n_kept,
            CAST(SUM(n_chars) AS BIGINT) AS chars_kept
          FROM r WHERE rn <= 50 GROUP BY source""",
    // round-before-rank mirrors tfIdfTopK exactly: 1-ulp libm-`ln` differences
    // die in ROUND(_, 6) before the window ordering ever sees them
    "t11_tfidf" ->
      s"""WITH $termFreqCte,
          n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
          dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
          scored AS (
            SELECT tf.doc_id, tf.term,
              ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
            FROM tf CROSS JOIN n JOIN dfreq ON tf.term = dfreq.term),
          ranked AS (
            SELECT doc_id, term, tfidf,
              row_number() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term ASC) AS rn
            FROM scored)
          SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 5""",
    "t13_lm_quality" ->
      s"""WITH $termFreqCte,
          n AS (SELECT SUM(tf) AS total FROM tf),
          tc AS (SELECT term, SUM(tf) AS c FROM tf GROUP BY 1),
          scored AS (
            SELECT tf.doc_id, tf.tf,
              CAST(ROUND(-ln(CAST(tc.c AS DOUBLE) / CAST(n.total AS DOUBLE)), 6)
                   AS DECIMAL(12,6)) AS nlogp
            FROM tf CROSS JOIN n JOIN tc ON tf.term = tc.term)
          SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                 ROUND(CAST(SUM(nlogp * tf) AS DOUBLE) / SUM(tf), 4) + 0 AS lm_score
          FROM scored GROUP BY 1""",
    "d14_url_dedup" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
             (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END) ||
             'example-' || CAST(doc_id % 50 AS VARCHAR) || '.com' ||
             (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
             '/path/' || CAST(doc_id % 50 AS VARCHAR) ||
             (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
             (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&b=2&a=1'
                   ELSE '?a=1&b=2' END) ||
             (CASE WHEN doc_id % 7 = 0 THEN '#section-3' ELSE '' END) AS url
           FROM documents),
         parts AS (
           SELECT doc_id,
             lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS after,
             regexp_extract(url, '\?([^#]*)', 1) AS query
           FROM u),
         canon AS (
           SELECT doc_id,
             scheme || '://' ||
             (CASE WHEN scheme = 'http' THEN
                regexp_replace(regexp_replace(lower(regexp_extract(after, '^([^/?#]*)', 1)), '^www\.', ''), ':80$', '')
              WHEN scheme = 'https' THEN
                regexp_replace(regexp_replace(lower(regexp_extract(after, '^([^/?#]*)', 1)), '^www\.', ''), ':443$', '')
              ELSE regexp_replace(lower(regexp_extract(after, '^([^/?#]*)', 1)), '^www\.', '') END) ||
             regexp_replace(regexp_extract(after, '^[^/?#]*([^?#]*)', 1), '/+$', '') ||
             (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canonical_url
           FROM (
             SELECT doc_id, scheme, after,
               array_to_string(list_sort(list_filter(str_split(query, '&'),
                 p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS q
             FROM parts))
         SELECT canonical_url, MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
         FROM canon GROUP BY 1""",
    // every ratio is an integer-count division (bit-identical IEEE op on both
    // engines); pass thresholds compare the UNROUNDED doubles, as the Spark side
    "t12_gopher_rules" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS tk FROM documents),
          m AS (SELECT doc_id, text, tk, len(tk) AS nw,
              CASE WHEN len(tk) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE)
                        / len(tk) END AS mwl,
              length(text) - length(replace(text, '#', '')) AS hashes,
              (length(text) - length(replace(text, '...', ''))) / 3 +
                (length(text) - length(replace(text, '…', ''))) AS ellipses,
              str_split(text, chr(10)) AS ls
            FROM t),
          m2 AS (SELECT doc_id, nw, mwl,
              CASE WHEN nw = 0 THEN 0.0
                   ELSE CAST(hashes + ellipses AS DOUBLE) / nw END AS sr,
              CAST(len(list_filter(ls, l -> regexp_matches(l, '^\\s*[-*•]'))) AS DOUBLE)
                / len(ls) AS bf,
              CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$$'))) AS DOUBLE)
                / len(ls) AS ef,
              CASE WHEN nw = 0 THEN 0.0
                   ELSE CAST(len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                        / nw END AS af,
              len(list_intersect(list_distinct(tk),
                ['the','be','to','of','and','that','have','with'])) AS rh
            FROM m)
          SELECT doc_id, nw AS n_words, ROUND(mwl, 4) AS mean_word_len,
            ROUND(sr, 4) AS symbol_ratio, ROUND(bf, 4) AS bullet_frac,
            ROUND(ef, 4) AS ellipsis_frac, ROUND(af, 4) AS alpha_frac,
            rh AS required_hits,
            (nw >= 50 AND nw <= 100000 AND mwl >= 3.0 AND mwl <= 10.0
             AND sr <= 0.1 AND bf <= 0.9 AND ef <= 0.3 AND af >= 0.8
             AND rh >= 2) AS pass
          FROM m2""",
    // dot products via the ordered list_sum fold (the d5 bit-parity form), NOT
    // list_dot_product, so the 0.85 threshold compare is bit-identical to Spark's
    // zip_with/aggregate fold; cell argmax ties go to the HIGHER cid (e3 rule)
    "d12_semdedup" ->
      s"""WITH $plantedCorpusCtes,
          scored AS (
            SELECT vec_id, v, i AS cid,
              CASE WHEN ${dotSql("v", "v")} = 0 THEN 0.0
                   ELSE v[i + 1] / sqrt(${dotSql("v", "v")}) END AS cos
            FROM corpus CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i)),
          cells AS (
            SELECT vec_id, v, cid FROM (
              SELECT vec_id, v, cid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos DESC, cid DESC) AS rn
              FROM scored) WHERE rn = 1),
          pairs AS (
            SELECT a.vec_id AS id1, b.vec_id AS id2,
              CASE WHEN ${dotSql("a.v", "a.v")} = 0 OR ${dotSql("b.v", "b.v")} = 0
                   THEN 0.0
                   ELSE ${dotSql("a.v", "b.v")}
                        / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})) END AS cos
            FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id)
          SELECT id2 AS vec_id, MIN(id1) AS kept_as, COUNT(*) AS n_matches,
            ROUND(MAX(cos), 6) + 0 AS max_cos
          FROM pairs WHERE cos >= 0.85 GROUP BY 1""",
    // winnowing chain (t3's oracle form) at k=20/w=31 over base + planted docs
    "d13_dup_spans" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
          planted AS (
            SELECT doc_id + 100000 AS doc_id,
              array_to_string(list_slice(
                  list_filter(regexp_split_to_array(trim(text), '\\s+'),
                    x -> len(x) > 0), 1, 60), ' ')
                || ' planted tail marker ' || CAST(doc_id AS VARCHAR) AS text
            FROM base WHERE doc_id % 20 = 0),
          corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
          toks AS (SELECT doc_id, $toksSql AS tk FROM corpus),
          ${winnowCtes(20, 31)},
          fp AS (SELECT doc_id, unnest(list_distinct(s)) AS fp FROM sel),
          marked AS (SELECT doc_id,
              CASE WHEN MIN(doc_id) OVER (PARTITION BY fp) <> doc_id
                     OR MAX(doc_id) OVER (PARTITION BY fp) <> doc_id
                   THEN 1 ELSE 0 END AS shared
            FROM fp)
          SELECT doc_id, COUNT(*) AS n_spans,
            CAST(SUM(shared) AS BIGINT) AS n_shared_spans
          FROM marked GROUP BY 1 HAVING SUM(shared) > 0""",
    "d3_simhash" ->
      s"""WITH $simhashBitsCtes
          SELECT doc_id,
            CAST(SUM(CASE WHEN cnt > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id""",
    "d6_simhash_neardups" ->
      s"""WITH $simhashBitsCtes,
          sh AS (SELECT doc_id,
                   SUM(CASE WHEN cnt > 0 THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END) AS sh
                 FROM bits GROUP BY doc_id),
          bands AS (SELECT doc_id,
                      b.b::VARCHAR || ':' || (((sh >> (8 * b.b)) & 255))::VARCHAR AS band
                    FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) b),
          okb AS (SELECT band FROM bands GROUP BY band HAVING count(*) BETWEEN 2 AND 2000),
          pairs AS (SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
                    FROM bands a JOIN okb o ON a.band = o.band
                    JOIN bands b2 ON a.band = b2.band AND a.doc_id < b2.doc_id)
          SELECT p.id1, p.id2,
            CAST(bit_count(xor(s1.sh, s2.sh)) AS BIGINT) AS hamming
          FROM pairs p
          JOIN sh s1 ON p.id1 = s1.doc_id
          JOIN sh s2 ON p.id2 = s2.doc_id
          WHERE bit_count(xor(s1.sh, s2.sh)) <= 3""",
    "a18_ks_drift" ->
      """WITH e AS (
           SELECT event_type,
             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS side,
             CASE WHEN event_type = 'click' AND user_id % 2 <> 0
               THEN value + 50.0 ELSE value END AS v
           FROM events WHERE value IS NOT NULL),
         c AS (
           SELECT event_type, v,
             SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS na,
             SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type) AS nb,
             SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY v
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END)
               OVER (PARTITION BY event_type ORDER BY v
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
           FROM e)
         SELECT event_type,
           ROUND(MAX(CASE WHEN na = 0 OR nb = 0 THEN 1.0
                 ELSE ABS(CAST(ca AS DOUBLE) / GREATEST(na, 1)
                          - CAST(cb AS DOUBLE) / GREATEST(nb, 1)) END), 6) AS ks,
           CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b
         FROM c GROUP BY event_type""",
    "a19_frequent_precip" -> precipSql(
      """CASE WHEN user_id % 7 = 0 AND di BETWEEN 10 AND 15 THEN 20.5
                    WHEN user_id % 7 = 3 AND di BETWEEN 10 AND 12 THEN 25.0
                    WHEN user_id % 7 = 0 OR user_id % 7 = 3 THEN di + 0.5
                    WHEN di % 5 = 0 THEN 0.0
                    ELSE di * 1.5 END""",
      """nz AS (
           SELECT user_id, d, dtot,
             SUM(CASE WHEN prev IS NULL OR prev <> dtot THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY d ROWS UNBOUNDED PRECEDING) AS rid
           FROM (SELECT user_id, d, dtot,
                   lag(dtot) OVER (PARTITION BY user_id ORDER BY d) AS prev
                 FROM daily WHERE dtot > 0)),
         runs AS (
           SELECT user_id, d, dtot,
                  COUNT(*) OVER (PARTITION BY user_id, rid) AS rsz
           FROM nz),
         fd AS (SELECT user_id, d FROM runs WHERE rsz >= 5 AND dtot > 18)""", 31),
    "a20_clim_precip" -> precipSql(
      """CASE WHEN user_id % 6 = 0 AND di = 14 THEN 100.0
                    WHEN di % 7 = 3 THEN 0.0
                    ELSE CAST(di % 5 AS DOUBLE) + 1.0 END""",
      """nz AS (SELECT user_id, d, dtot, month(d) AS mon FROM daily WHERE dtot > 0),
         p AS (
           SELECT user_id, mon, quantile_cont(dtot, 0.95) AS p95
           FROM nz GROUP BY 1, 2),
         fd AS (
           SELECT nz.user_id, nz.d
           FROM nz JOIN p USING (user_id, mon)
           WHERE CASE WHEN p95 > 442.0 THEN dtot > 442.0
                      WHEN p95 <> 0 THEN dtot > p95 * 9.0
                      ELSE dtot > 9.0 END)""", 32),
    "a21_gap_precip" -> precipSql(
      """CASE WHEN user_id % 11 = 0 AND di = 25 THEN 500.0
                    WHEN user_id % 11 = 5 AND di IN (24, 25) THEN 500.0
                    ELSE CAST((di % 9) * 4 AS DOUBLE) END""",
      """bounds AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily GROUP BY 1),
         grid AS (
           SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                  CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
           FROM bounds),
         filled AS (
           SELECT g.user_id, g.d, COALESCE(dl.dtot, 0.0) AS dtot, month(g.d) AS mon
           FROM grid g LEFT JOIN daily dl ON g.user_id = dl.user_id AND g.d = dl.d),
         nb AS (
           SELECT user_id, d, dtot, mon,
                  dtot - lag(dtot) OVER w AS pg,
                  lead(dtot) OVER w - dtot AS ng,
                  COUNT(*) OVER (PARTITION BY user_id, mon) AS n
           FROM filled
           WINDOW w AS (PARTITION BY user_id, mon ORDER BY dtot)),
         fd AS (
           SELECT user_id, d FROM nb
           WHERE n > 1 AND least(COALESCE(pg, 1e308), COALESCE(ng, 1e308)) > 200.0)""", 33),
    // d11: lockstep unnest pairs each paragraph with its position; keep-first is a
    // row_number over the normalized-paragraph fingerprint ordered by (doc, pos)
    "d11_paragraph_dedup" ->
      s"""WITH d AS (
            SELECT doc_id,
              CASE WHEN doc_id % 3 = 0
                THEN 'subscribe to our newsletter accept all cookies'
                     || chr(10) || chr(10) || text
                ELSE text END AS t2
            FROM documents),
          parts AS (
            SELECT doc_id,
              unnest(generate_series(1, len(ps))) - 1 AS pos,
              unnest(ps) AS para
            FROM (SELECT doc_id, string_split(t2, chr(10) || chr(10)) AS ps FROM d)),
          fp AS (
            SELECT doc_id, pos, para,
              md5(array_to_string(list_filter(
                regexp_split_to_array(trim(lower(para)), '\\s+'), x -> len(x) > 0), ' ')) AS f
            FROM parts),
          keep AS (
            SELECT doc_id, pos, para,
              row_number() OVER (PARTITION BY f ORDER BY doc_id, pos) AS rn
            FROM fp)
          SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text2
          FROM keep WHERE rn = 1 GROUP BY doc_id""",
    // d19: derived from the symmetric verified pairs — a shard doc drops against
    // ANY corpus match (either id order) but only against EARLIER shard docs;
    // best match = row_number over (j DESC, matched_id)
    "d19_incremental_dedup" ->
      s"""WITH $minhashVerifiedCte,
          dups AS (
            SELECT id2 AS id, id1 AS matched_id, j, (id1 % 5 != 0) AS vs_corpus
            FROM verified WHERE id2 % 5 = 0 AND j >= 0.4
            UNION ALL
            SELECT id1, id2, j, TRUE
            FROM verified WHERE id1 % 5 = 0 AND id2 % 5 != 0 AND j >= 0.4),
          sel AS (
            SELECT id, matched_id, j, vs_corpus,
              row_number() OVER (PARTITION BY id ORDER BY j DESC, matched_id) AS rn
            FROM dups)
          SELECT id AS doc_id, matched_id, ROUND(j, 6) AS best_jaccard, vs_corpus
          FROM sel WHERE rn = 1""",
    // d17: frequency is COUNT over the (fingerprint, doc) distinct pairs; removal
    // is everywhere (no keep-first row_number) — blank lines always survive
    "d17_line_dedup" ->
      s"""WITH d AS (
            SELECT doc_id,
              'home about contact login' || chr(10) || text || chr(10) ||
              CASE WHEN doc_id % 3 = 0
                THEN 'copyright example corp all rights reserved'
                ELSE 'footer token ' || CAST(doc_id AS VARCHAR) END AS t2
            FROM documents),
          parts AS (
            SELECT doc_id,
              unnest(generate_series(1, len(ls))) - 1 AS pos,
              unnest(ls) AS line
            FROM (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM d)),
          fp AS (
            SELECT doc_id, pos, line,
              md5(array_to_string(list_filter(
                regexp_split_to_array(trim(lower(line)), '\\s+'), x -> len(x) > 0), ' ')) AS f,
              (trim(line) = '') AS blank
            FROM parts),
          freq AS (
            SELECT f FROM (SELECT DISTINCT f, doc_id FROM fp WHERE NOT blank)
            GROUP BY f HAVING COUNT(*) >= 2),
          k AS (
            SELECT p.doc_id, p.pos, p.line, (p.blank OR q.f IS NULL) AS keep
            FROM fp p LEFT JOIN freq q ON p.f = q.f)
          SELECT doc_id,
            COALESCE(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), '') AS text2,
            CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_lines_removed,
            CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_lines_kept
          FROM k GROUP BY doc_id""",
    // d18: d7's walk CTE + a quality join — keeper = row_number 1 over
    // (n_chars DESC, doc_id) per cluster
    "d18_cluster_quality_keep" ->
      s"""WITH RECURSIVE $minhashWalkCtes,
          cl AS (SELECT id AS doc_id, LEAST(id, MIN(r)) AS cluster
                 FROM walk GROUP BY id),
          q AS (SELECT cl.doc_id, cl.cluster, d.n_chars,
                  row_number() OVER (PARTITION BY cl.cluster
                    ORDER BY d.n_chars DESC, cl.doc_id) AS rn
                FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
          SELECT doc_id, cluster, (rn = 1) AS keep,
            CAST(n_chars AS BIGINT) AS q
          FROM q""",
    // d10: overlap is decided on the raw 5-gram strings — hash equality in the Spark
    // op is string equality up to a ~2^-60 md5-truncation collision, below the
    // suite's bit-exactness noise floor
    "d10_contamination" ->
      s"""WITH toks AS (SELECT doc_id, source, $toksSql AS tk FROM documents),
          sh AS (SELECT doc_id, source,
                   list_distinct(CASE WHEN len(tk) < 5 THEN [array_to_string(tk, ' ')]
                     ELSE list_transform(generate_series(1, len(tk) - 4),
                            i -> array_to_string(list_slice(tk, i, i + 4), ' ')) END) AS sh
                 FROM toks),
          ref AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE source = 'src0'),
          cg AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE source != 'src0')
          SELECT cg.doc_id,
            ROUND(CAST(SUM(CASE WHEN r.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                  / COUNT(*), 6) AS contamination
          FROM cg LEFT JOIN ref r ON cg.g = r.g
          GROUP BY cg.doc_id""",
    "d4_ngram_jaccard" ->
      s"""WITH toks AS (SELECT doc_id, $toksSql AS tk FROM documents),
          sh AS (SELECT doc_id, ${shinglesSql("tk")} AS sh FROM toks)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            ROUND(CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
                  ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.sh, b.sh))) END, 6) AS jaccard
          FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1""",
    "e1_ann_brute" ->
      s"""WITH $annSidesCtes,
          s AS (SELECT q.qid, c.cid,
                  CASE WHEN list_dot_product(c.cv, c.cv) = 0 OR list_dot_product(q.qv, q.qv) = 0 THEN 0.0
                       ELSE list_dot_product(c.cv, q.qv)
                            / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qv, q.qv))) END AS cos
                FROM c CROSS JOIN q),
          r AS (SELECT qid, cid, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
                FROM s)
          SELECT qid, cid, ROUND(cos, 6) + 0 AS cos, rank FROM r WHERE rank <= 5""",
    "e3_ivf_assign" ->
      s"""WITH $basisCosCte,
         best AS (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid DESC) AS rn
           FROM scored)
         SELECT CAST(cid AS BIGINT) AS cid, COUNT(*) AS n
         FROM best WHERE rn = 1 GROUP BY 1""",
    "d5_embed_neardups" ->
      s"""WITH $plantedCorpusCtes,
          planes(pid, p) AS (VALUES
             ${planesSql(48)}),
          bits AS (
            SELECT c.vec_id, pl.pid,
              CASE WHEN ${dotSql("c.v", "pl.p")} > 0 THEN '1' ELSE '0' END AS bit
            FROM corpus c CROSS JOIN planes pl),
          sig AS (SELECT vec_id, string_agg(bit, '' ORDER BY pid) AS sig
                  FROM bits GROUP BY vec_id),
          bands AS (
            SELECT vec_id, b.b::VARCHAR || ':' || substring(sig, b.b * 16 + 1, 16) AS band
            FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS b) b),
          okb AS (SELECT band FROM bands GROUP BY band HAVING count(*) BETWEEN 2 AND 2000),
          pairs AS (
            SELECT DISTINCT a.vec_id AS id1, b2.vec_id AS id2
            FROM bands a JOIN okb o ON a.band = o.band
            JOIN bands b2 ON a.band = b2.band AND a.vec_id < b2.vec_id),
          verified AS (
            SELECT p.id1, p.id2,
              ROUND(CASE WHEN sqrt(${dotSql("c1.v", "c1.v")})
                              * sqrt(${dotSql("c2.v", "c2.v")}) = 0 THEN 0.0
                    ELSE ${dotSql("c1.v", "c2.v")}
                         / (sqrt(${dotSql("c1.v", "c1.v")})
                            * sqrt(${dotSql("c2.v", "c2.v")})) END, 6) + 0 AS cos
            FROM pairs p
            JOIN corpus c1 ON p.id1 = c1.vec_id
            JOIN corpus c2 ON p.id2 = c2.vec_id)
          SELECT id1, id2, cos FROM verified WHERE cos >= 0.8""",
    // e9: e4's CTE chain with the rank window replaced by the threshold filter
    "e9_ivf_range" ->
      s"""WITH $ivfCellCtes,
          $ivfCandsCte,
          $ivfScoredCte
          SELECT qid, cid, ROUND(cos, 4) + 0 AS cos FROM scored WHERE cos >= 0.2""",
    "e4_ivf_topk" ->
      s"""WITH $ivfCellCtes,
          $ivfCandsCte,
          $ivfScoredCte,
          r AS (SELECT qid, cid, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
                FROM scored)
          SELECT qid, cid, ROUND(cos, 4) + 0 AS cos, rank FROM r WHERE rank <= 5""",
    "e5_quantize" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          q AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
          c AS (SELECT vec_id, v, mn, mx,
              list_transform(v, x -> CASE WHEN mx = mn THEN 0
                ELSE CAST(round((x - mn) / (mx - mn) * 255) - 128 AS INT) END) AS codes
            FROM q),
          d AS (SELECT vec_id, v,
              list_transform(codes, cd -> CASE WHEN mx = mn THEN mn
                ELSE CAST(cd + 128 AS DOUBLE) / 255 * (mx - mn) + mn END) AS dq
            FROM c)
          SELECT vec_id,
            ROUND(CASE WHEN sqrt(${dotSql("v", "v")}) * sqrt(${dotSql("dq", "dq")}) = 0
                  THEN 0.0
                  ELSE ${dotSql("v", "dq")}
                       / (sqrt(${dotSql("v", "v")}) * sqrt(${dotSql("dq", "dq")})) END,
                  6) AS qcos,
            ROUND(list_max(list_transform(generate_series(1, 64),
                  j -> abs(v[j] - dq[j]))), 6) AS max_err
          FROM d""",
    // e13: e4's assign/probe CTEs composed with e12's quantize + score CTEs
    "e13_ivfsq_topk" ->
      s"""WITH $ivfCellCtes,
          $sqCodesCte,
          $ivfCandsCte,
          s AS (SELECT c.qid, c.cid,
              (cq.mx - cq.mn) / 255.0 *
                list_sum(list_transform(generate_series(1, 64),
                  j -> q.v[j] * CAST(cq.codes[j] + 128 AS DOUBLE))) +
              cq.mn * list_sum(q.v) AS score0
            FROM cands c JOIN cq ON c.cid = cq.cid JOIN e q ON c.qid = q.vec_id),
          $sqRankSql""",
    // e12: the SQ8 search replayed — the same quantize replica as e5, then
    // the same integer-fold score expansion in the same float-op order
    "e12_sq_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          $sqCodesCte,
          q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
          s AS (SELECT q.qid, cq.cid,
              (cq.mx - cq.mn) / 255.0 *
                list_sum(list_transform(generate_series(1, 64),
                  j -> q.qv[j] * CAST(cq.codes[j] + 128 AS DOUBLE))) +
              cq.mn * list_sum(q.qv) AS score0
            FROM cq CROSS JOIN q),
          $sqRankSql""",
    "mm1_byte_features" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS length
         FROM documents""",
    "mm2_resize" ->
      """SELECT doc_id,
            CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS resized_len,
            CAST(octet_length(encode(text)) AS BIGINT) AS orig_len
          FROM documents""",
    // e2: the full LSH pipeline replicated — plane constants inlined, signatures as
    // ordered bit string_aggs, multi-probe = the signature plus each Hamming-1 flip.
    // Dot products fold in the Spark order, so sign bits and cosines agree bit-exactly.
    // (AnnOpsSpec additionally property-tests recall >= 0.9 vs brute force.)
    "e2_ann_lsh" ->
      s"""WITH $annSidesCtes,
          planes(pid, p) AS (VALUES
             ${planesSql(10)}),
          cbits AS (SELECT c.cid, pl.pid,
              CASE WHEN ${dotSql("c.cv", "pl.p")} > 0 THEN '1' ELSE '0' END AS bit
            FROM c CROSS JOIN planes pl),
          csig AS (SELECT cid, string_agg(bit, '' ORDER BY pid) AS bkt
                   FROM cbits GROUP BY cid),
          qbits AS (SELECT q.qid, pl.pid,
              CASE WHEN ${dotSql("q.qv", "pl.p")} > 0 THEN '1' ELSE '0' END AS bit
            FROM q CROSS JOIN planes pl),
          qsig AS (SELECT qid, string_agg(bit, '' ORDER BY pid) AS sig
                   FROM qbits GROUP BY qid),
          qprobe AS (
            SELECT qid, sig AS bkt FROM qsig
            UNION ALL
            SELECT qid,
              substring(sig, 1, i) ||
              (CASE WHEN substring(sig, i + 1, 1) = '1' THEN '0' ELSE '1' END) ||
              substring(sig, i + 2) AS bkt
            FROM qsig CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS i)),
          cands AS (SELECT p.qid, s.cid FROM qprobe p JOIN csig s ON p.bkt = s.bkt),
          scored AS (SELECT cd.qid, cd.cid,
              CASE WHEN sqrt(${dotSql("c.cv", "c.cv")})
                        * sqrt(${dotSql("q.qv", "q.qv")}) = 0 THEN 0.0
                   ELSE ${dotSql("c.cv", "q.qv")}
                        / (sqrt(${dotSql("c.cv", "c.cv")})
                           * sqrt(${dotSql("q.qv", "q.qv")})) END AS cos
            FROM cands cd JOIN c ON cd.cid = c.cid JOIN q ON cd.qid = q.qid),
          r AS (SELECT qid, cid, cos,
                  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid ASC) AS rank
                FROM scored)
          SELECT qid, cid, ROUND(cos, 6) + 0 AS cos, rank FROM r WHERE rank <= 5"""
  )
}
