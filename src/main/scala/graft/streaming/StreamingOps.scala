package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the core operators (SURVEY §7 extension — the
  * reference is batch-only; these make the same semantics run on a live feed):
  *
  *  - hourly standardization as a watermarked windowed aggregation (append mode:
  *    an hour finalizes once the watermark passes it);
  *  - run-length encoding of equal values as `flatMapGroupsWithState`, emitting each
  *    closed run with its length and span (plain RLE, not the W3 streak flag).
  *
  * Both transforms are `readStream`-agnostic: they accept any DataFrame, so the same
  * code path serves batch backfills and the live stream (the classic kappa shape).
  */
object StreamingOps {

  /** Hourly windowed aggregation with late-data tolerance `watermarkDelay`.
    * Instantaneous variables aggregate as min_by(time) "first", accumulating ones as
    * sum-or-null — the W15/W16 conventions under a watermark. */
  def hourlyAgg(df: DataFrame, timeCol: String, keys: Seq[String], valueCol: String,
                watermarkDelay: String = "2 hours"): DataFrame =
    df.withWatermark(timeCol, watermarkDelay)
      .groupBy((keys.map(col) :+ window(col(timeCol), "1 hour").as("hour_win")): _*)
      .agg(count(col(valueCol)).as("n"),
        min_by(col(valueCol), when(col(valueCol).isNotNull, col(timeCol))).as("first_v"),
        when(count(col(valueCol)) === 0, lit(null)).otherwise(sum(col(valueCol))).as("sum_v"))
      .select((keys.map(col) :+ col("hour_win.start").as("hour_ts")) ++
        Seq(col("n"), col("first_v"), col("sum_v")): _*)

  final case class Obs(key: String, ts: Long, value: Double)
  final case class StreakState(value: Double, count: Long, startTs: Long, lastTs: Long)
  final case class ClosedStreak(key: String, value: Double, count: Long,
                                startTs: Long, endTs: Long)

  final case class DeaccState(lastValue: Double)
  final case class DeaccOut(key: String, ts: Long, accum: Double, incr: Option[Double],
                            flagged: Boolean)

  /** Streaming de-accumulation — the W9 operator on a live accumulated-gauge feed
    * (`qaqc_deaccumulate.py:116-234` batch semantics): per key, emit the increment
    * vs the previous reading. As in the batch operator, only a drop below
    * `-resetThreshold` is a reservoir reset (emits increment 0); a smaller negative
    * diff is suspect — it emits a null increment with `flagged = true` (batch flag 35
    * semantics) instead of silently laundering it to 0. State is ONE double per key —
    * O(keys), stream-length independent. Rows inside a batch are processed in event
    * order. */
  def deaccumulate(ds: Dataset[Obs], resetThreshold: Double = 50.0)
                  (implicit spark: SparkSession): Dataset[DeaccOut] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[DeaccState, DeaccOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[DeaccState]) =>
          val sorted = rows.toSeq.sortBy(_.ts)
          val out = scala.collection.mutable.ArrayBuffer.empty[DeaccOut]
          var last = state.getOption.map(_.lastValue)
          sorted.foreach { o =>
            val (incr, flag) = last match {
              case Some(prev) if o.value >= prev => (Some(o.value - prev), false)
              case Some(prev) if o.value - prev < -resetThreshold =>
                (Some(0.0), false) // reset: gauge emptied, no negative precip
              case Some(_) => (None, true) // small negative diff: suspect, not a reset
              case None => (Some(0.0), false) // first reading has no increment
            }
            out += DeaccOut(key, o.ts, o.value, incr, flag)
            last = Some(o.value)
          }
          last.foreach(v => state.update(DeaccState(v)))
          out.iterator
      }
  }

  /** Streaming exact dedup — the streaming twin of DedupOps.exactDedup: emit only
    * the FIRST document seen per normalized-text fingerprint, tracking state for a
    * bounded horizon (`dropDuplicatesWithinWatermark`, so state expires instead of
    * growing with the corpus; a duplicate arriving after the horizon re-emits, the
    * standard at-least-once trade-off of windowed streaming dedup — batch exact dedup
    * downstream reconciles). `timeCol` must be an event-time timestamp column. */
  def dedupExact(df: DataFrame, textCol: String, timeCol: String,
                 watermarkDelay: String = "1 hour"): DataFrame =
    df.withColumn("_fp", graft.text.TextOps.fingerprint(col(textCol)))
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Streaming NEAR-dup suppression: drop any document whose 32-bit SimHash equals
    * one already seen inside the watermark horizon. SimHash equality is a strong
    * near-duplicate signal (32 matching sign bits; false-positive rate ~n²/2³²
    * per horizon), so this is the cheap feed-dedup tier — exact semantics are
    * [[dedupExact]]'s; batch LSH downstream handles Hamming>0 near-dups. */
  def nearDedupSimhash(df: DataFrame, textCol: String, timeCol: String,
                       watermarkDelay: String = "1 hour"): DataFrame =
    df.withColumn("_sh", graft.dedup.DedupOps.simhash32(col(textCol)))
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("_sh")
      .drop("_sh")

  /** Streaming incremental near-dedup against a STANDING corpus — the streaming
    * twin of `DedupOps.incrementalNearDups`: each arriving document is LSH-banded
    * with deterministic expressions and joined stream-static against the corpus's
    * persisted band table, then verified by exact hashed-shingle Jaccard. Emits one
    * row per (document, matched corpus doc) with the verified similarity; multiple
    * band collisions for the same pair collapse via
    * `dropDuplicatesWithinWatermark`. The static side is the build artifact the
    * batch op persists (`bandTable`); Spark re-broadcasts or hash-joins it per
    * micro-batch — no streaming state beyond the dedup watermark buffer.
    *
    * @param stream streaming df: `idCol`, `textCol`, event-time `timeCol`
    * @param corpusBands static df from [[corpusBandTable]]: `cid`, `band`, `ch32` */
  def incrementalDedupStream(stream: DataFrame, corpusBands: DataFrame,
                             idCol: String, textCol: String, timeCol: String,
                             threshold: Double = 0.7, shingleN: Int = 3,
                             k: Int = 32, bands: Int = 8,
                             watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.dedup.DedupOps
    stream
      .withColumn("_h32", DedupOps.hashedShingles(col(textCol), shingleN))
      .withColumn("_sig", DedupOps.minhashSignatureFromHashes(col("_h32"), k))
      .withColumn("band", explode(DedupOps.lshBandKeys(col("_sig"), bands, k / bands)))
      .join(corpusBands, Seq("band"))
      .withColumn("jaccard", DedupOps.jaccard(col("_h32"), col("ch32")))
      .filter(col("jaccard") >= threshold)
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol, "cid")
      .select(col(idCol), col(timeCol), col("cid").as("matched_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  /** The standing-corpus band table [[incrementalDedupStream]] joins against:
    * one row per (corpus doc, band key), carrying the hashed shingle array for
    * the verify step. Built once per corpus snapshot and persisted. */
  def corpusBandTable(corpus: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 32, bands: Int = 8): DataFrame = {
    import graft.dedup.DedupOps
    corpus
      .withColumn("ch32", DedupOps.hashedShingles(col(textCol), shingleN))
      .withColumn("_sig", DedupOps.minhashSignatureFromHashes(col("ch32"), k))
      .select(col(idCol).as("cid"),
        explode(DedupOps.lshBandKeys(col("_sig"), bands, k / bands)).as("band"),
        col("ch32"))
  }

  /** Streaming perceptual-code dedup — the live-feed twin of
    * [[graft.dedup.DedupOps.hamming64IncrementalNearDups]]: arriving 64-bit
    * codes (image dHash/pHash, pooled video hash, audio energy hash)
    * band-join the standing code CATALOG ([[codeBandTable]], built once per
    * snapshot and persisted) and verify with exact `bit_count(xor)`.
    * `maxHamming` (0–7) picks the band layout through
    * [[graft.dedup.DedupOps.hamming64BandKeys]] — the SAME key definition the
    * batch chassis and [[codeBandTable]] use, so stream and catalog keys
    * cannot disagree. A pair meeting in several bands emits
    * once (`dropDuplicatesWithinWatermark`); the only streaming state is
    * that watermark-bounded pair buffer. Emits every in-radius match —
    * best-match selection is the consumer's fold (a stream cannot wait for
    * "the" best), exactly the text twin's contract. */
  def codeDedupStream(stream: DataFrame, catalogBands: DataFrame,
                      idCol: String, hiCol: String, loCol: String,
                      timeCol: String, maxHamming: Int = 3,
                      watermarkDelay: String = "1 hour"): DataFrame = {
    stream
      .withColumn("band", explode(
        graft.dedup.DedupOps.hamming64BandKeys(col(hiCol), col(loCol), maxHamming)))
      .join(catalogBands, Seq("band"))
      .withColumn("hamming",
        graft.dedup.DedupOps.hamming64(col(hiCol), col(loCol), col("chi"), col("clo")))
      .filter(col("hamming") <= maxHamming)
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCol, "cid")
      .select(col(idCol), col(timeCol), col("cid").as("matched_id"),
        col("hamming"))
  }

  /** The standing code-catalog band table [[codeDedupStream]] joins against:
    * one row per (catalog code, band key). `maxHamming` (0–7) selects the
    * SAME band layout the stream side uses — build and serve with the same
    * radius class. */
  def codeBandTable(catalog: DataFrame, idCol: String, hiCol: String,
                    loCol: String, maxHamming: Int = 3): DataFrame = {
    catalog.select(col(idCol).as("cid"),
      explode(graft.dedup.DedupOps.hamming64BandKeys(col(hiCol), col(loCol), maxHamming))
        .as("band"),
      col(hiCol).as("chi"), col(loCol).as("clo"))
  }

  /** Streaming DSIR scoring — the serving half of `TextOps.dsirWeights` on a
    * live feed: the bucket log-ratio table is trained OFFLINE on the standing
    * corpus (`TextOps.dsirBucketWeights`, `buckets` rows) and each arriving
    * document is scored by hashing its unigram+bigram stream into buckets and
    * summing the stream-static-joined log-ratios. The static side broadcasts
    * per micro-batch; the only streaming state is the (id, time) aggregation
    * buffer, bounded by the watermark. Emits (id, time, n_grams, dsir_weight)
    * on watermark close.
    *
    * Unlike the batch op (whose weights derive from the SAME corpus and so
    * cover every occupied bucket), a live feed can hash grams into buckets the
    * training corpus never touched. Those grams LEFT-join to no weight row and
    * score `oovLogWeight` — the add-smoothing floor
    * `ln(((0+s)/(n_t+sB)) / ((0+s)/(n_all+sB))) = ln((n_all+sB)/(n_t+sB))`
    * from training ([[graft.text.TextOps.dsirOovLogWeight]] computes it), or
    * the neutral 0.0 default — so `n_grams` counts EVERY gram and a document
    * of entirely-unseen grams still emits a row instead of vanishing. */
  def dsirScoreStream(stream: DataFrame, bucketWeights: DataFrame,
                      idCol: String, textCol: String, timeCol: String,
                      buckets: Int = 512,
                      watermarkDelay: String = "1 hour",
                      oovLogWeight: Double = 0.0): DataFrame = {
    import graft.text.TextOps
    stream
      .withWatermark(timeCol, watermarkDelay)
      .select(col(idCol), col(timeCol),
        explode(TextOps.uniBigrams(col(textCol))).as("g"))
      .withColumn("b", TextOps.dsirBucket(col("g"), buckets))
      .join(broadcast(bucketWeights), Seq("b"), "left")
      .groupBy(col(idCol), col(timeCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_lw"),
          lit(BigDecimal(oovLogWeight).setScale(6, BigDecimal.RoundingMode.HALF_UP)))).as("_s"))
      .select(col(idCol), col(timeCol), col("n_grams"),
        round(col("_s").cast("double"), 4).as("dsir_weight"))
  }

  /** Streaming Kneser-Ney scoring — the serving half of `TextOps.knBigramScore`
    * on a live feed: the per-bigram nll table is trained OFFLINE on the standing
    * corpus ([[knBigramModel]]) and arriving documents score via a stream-static
    * join on the bigram key. Unlike the DSIR twin the model is
    * VOCABULARY-sized, so the static side is hash-joined (not broadcast) per
    * micro-batch; unseen bigrams fall back to `oovNll` (the model table has no
    * row — a left join + coalesce keeps them scored instead of dropped). Only
    * streaming state is the watermark-bounded (id, time) agg buffer. */
  def knScoreStream(stream: DataFrame, model: DataFrame,
                    idCol: String, textCol: String, timeCol: String,
                    oovNll: Double = 20.0,
                    watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.text.TextOps
    stream
      .withWatermark(timeCol, watermarkDelay)
      .select(col(idCol), col(timeCol),
        explode(TextOps.bigramPairs(col(textCol))).as("p"))
      .select(col(idCol), col(timeCol), col("p.a").as("a"), col("p.b").as("b"))
      .join(model, Seq("a", "b"), "left")
      .groupBy(col(idCol), col(timeCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("nll"),
          lit(BigDecimal(oovNll).setScale(6, BigDecimal.RoundingMode.HALF_UP)))).as("_s"))
      .select(col(idCol), col(timeCol), col("n_bigrams"),
        round(col("_s").cast("double") / col("n_bigrams"), 4).as("kn_score"))
  }

  /** Streaming linear-classifier scoring — the serving half of
    * `TextOps.linearClassifierWeights` on a live feed: the (bucket, w) model
    * (incl. the bucket = -1 bias) is trained OFFLINE and broadcasts per
    * micro-batch (≤ buckets+1 rows at any corpus size); each arriving document
    * is scored in ONE streaming aggregation via the algebraic rearrangement
    * `margin = w_bias + B·Σ_tokens w(bucket(tok)) / n_tokens` — equal to the
    * batch margin up to the batch op's 9dp feature rounding (a ≤ 1e-9·Σ|w|
    * scoring delta; the batch/oracle path keeps the exactly-rounded form, the
    * stream trades that for a single stateful agg). Buckets the training corpus
    * never occupied LEFT-join to no weight row and score 0 (the dsirScoreStream
    * OOV contract: every token still counts in n_tokens, and a document of
    * entirely-unseen tokens emits a bias-only score instead of vanishing);
    * token-less documents also emit, scored at the bare bias. Only streaming
    * state is the watermark-bounded (id, time) agg buffer. */
  def linearScoreStream(stream: DataFrame, weights: DataFrame,
                        idCol: String, textCol: String, timeCol: String,
                        buckets: Int = 64,
                        watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.text.TextOps
    val vocab = weights.filter(col("bucket") =!= -1L)
      .select(col("bucket").as("_b"), col("w").as("_w"))
    val bias = weights.filter(col("bucket") === -1L)
      .select(lit(1).as("_k"), col("w").as("_wb"))
    val margin = col("_wb") + when(col("n_tokens") === 0, lit(0.0))
      .otherwise(lit(buckets.toDouble) * col("_sw") / col("n_tokens"))
    stream
      .withWatermark(timeCol, watermarkDelay)
      .select(col(idCol), col(timeCol),
        explode_outer(TextOps.tokens(lower(col(textCol)))).as("_tok"))
      .withColumn("_b", TextOps.dsirBucket(col("_tok"), buckets))
      .join(broadcast(vocab), Seq("_b"), "left")
      .groupBy(col(idCol), col(timeCol))
      .agg(count(col("_tok")).as("n_tokens"),
        sum(when(col("_tok").isNotNull, coalesce(col("_w"), lit(0.0)))
          .otherwise(lit(0.0))).as("_sw"))
      .withColumn("_k", lit(1))
      .join(broadcast(bias), Seq("_k"))
      .select(col(idCol), col(timeCol), col("n_tokens"),
        round(margin, 6).as("score"), (margin > 0).cast("int").as("pred"))
  }

  /** Streaming ANN serving — the serving half of `AnnOps.ivfTopK` on a live
    * query feed: the corpus is IVF-cell-assigned ONCE (static side, re-read or
    * cached per micro-batch at the engine's discretion), each arriving query
    * routes to its `nProbe` nearest cells (the same coarse-quantizer fold as
    * the batch op) and meets ONLY those cells' members in a stream-static
    * equi-join on the cell id — never the whole corpus. Per-query top-k runs
    * inside the single streaming aggregation (an in-agg sort of the
    * candidate list replaces the batch path's rank window, which streaming
    * cannot express): state per open (query, time) key is its candidate set,
    * bounded by the probed cells' sizes — the IVF contract (cell skew caps and
    * all) is exactly what bounds it. Ordering matches ivfTopK bit-for-bit:
    * raw-cosine descending with corpus-id tiebreak, display cosine rounded to
    * 4dp. Emits (query, time, rank, corpus id, cos) rows on watermark close. */
  def annServeStream(queryStream: DataFrame, corpus: DataFrame,
                     queryId: String, queryVec: String, timeCol: String,
                     corpusId: String, corpusVec: String,
                     centroids: Seq[Seq[Double]], nProbe: Int, k: Int,
                     watermarkDelay: String = "1 hour"): DataFrame = {
    import graft.ann.AnnOps
    require(k >= 1, s"k must be >= 1, got $k")
    AnnOps.ivfProbeJoin(corpus, corpusVec,
        queryStream.withWatermark(timeCol, watermarkDelay), queryVec, centroids, nProbe,
        _.select(col("_cell"), col(corpusId).as("_cid"), col(corpusVec).as("_cvec")),
        _.select(col(queryId), col(timeCol), col(queryVec).as("_qvec"), col("_cell")))
      .withColumn("_cos", AnnOps.cosine(col("_cvec"), col("_qvec")))
      .groupBy(col(queryId), col(timeCol))
      .agg(slice(array_sort(collect_list(
        struct((-col("_cos")).as("_nc"), col("_cid")))), 1, k).as("_top"))
      .select(col(queryId), col(timeCol), posexplode(col("_top")))
      .select(col(queryId), col(timeCol), (col("pos") + 1).as("rank"),
        col("col._cid").as(corpusId), round(-col("col._nc"), 4).as("cos"))
  }

  final case class SessionState(startTs: Long, lastTs: Long, n: Long)
  final case class SessionOut(key: String, startTs: Long, endTs: Long, n: Long)

  /** Streaming sessionization — the streaming twin of SeriesOps.sessionize: events
    * for a key extend its open session while they arrive within `gapSeconds` of the
    * last seen event; a larger jump closes the session (emitted) and opens a new one.
    * State is one (start, last, n) triple per key — O(keys) memory. The final open
    * session stays in state until a later event closes it (append-mode semantics).
    * Late events never move `lastTs` backward: within `gapSeconds` of the open
    * session's start they fold in (extending it backward); older than that they emit
    * as singleton sessions — the bounded-state approximation (exact late-data
    * sessionization needs event-time windows + watermark holding all open windows). */
  def sessionize(ds: Dataset[Obs], gapSeconds: Long)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(_.ts)
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var st = state.getOption.orNull
          sorted.foreach { o =>
            if (st == null) st = SessionState(o.ts, o.ts, 1)
            else if (o.ts >= st.lastTs) {
              if (o.ts - st.lastTs <= gapSeconds) st = st.copy(lastTs = o.ts, n = st.n + 1)
              else {
                closed += SessionOut(key, st.startTs, st.lastTs, st.n)
                st = SessionState(o.ts, o.ts, 1)
              }
            } else if (st.startTs - o.ts <= gapSeconds) {
              // late event within the open session's backward reach: fold it in
              // (never move lastTs backward — endTs >= startTs stays invariant)
              st = SessionState(math.min(st.startTs, o.ts), st.lastTs, st.n + 1)
            } else {
              // older than the open session can reach: its session already passed;
              // emit as a singleton (bounded-state approximation, documented)
              closed += SessionOut(key, o.ts, o.ts, 1)
            }
          }
          if (st != null) state.update(st)
          closed.iterator
      }
  }

  /** Streaming RLE: per key, consecutive equal values form a run; when the value
    * changes (or the state times out), the closed run is emitted with its count and
    * bounds. State is one (value, count, bounds) tuple per key — O(keys) memory
    * regardless of stream length. This is plain RLE on equal values, not the W3
    * streak flag ([[graft.ops.StreakOps.straightRepeats]]): it has no `minSeqLen`,
    * no `nValues`/`nDays` thresholds, no `minValue` floor and no adjacency rule, so
    * a closed run is not a flagged streak. */
  def streakDetector(ds: Dataset[Obs])(implicit spark: SparkSession): Dataset[ClosedStreak] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[StreakState, ClosedStreak](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[StreakState]) =>
          val sorted = rows.toSeq.sortBy(_.ts)
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedStreak]
          var st = state.getOption.orNull
          sorted.foreach { o =>
            if (st == null) st = StreakState(o.value, 1, o.ts, o.ts)
            else if (o.value == st.value)
              st = st.copy(count = st.count + 1, lastTs = o.ts)
            else {
              closed += ClosedStreak(key, st.value, st.count, st.startTs, st.lastTs)
              st = StreakState(o.value, 1, o.ts, o.ts)
            }
          }
          if (st != null) state.update(st)
          closed.iterator
      }
  }

  final case class SpikeBufState(buf: List[Obs])
  final case class SpikeHit(key: String, ts: Long, value: Double)

  final case class FrameHash(videoId: Long, frameIdx: Long, hi: Long, lo: Long)
  final case class KeyframeState(lastIdx: Long, hi: Long, lo: Long)
  final case class KeyframeOut(videoId: Long, frameIdx: Long, hamming: Long,
                               isKeyframe: Int)

  /** Streaming twin of mm5's keyframe detection (shot boundaries on a LIVE
    * frame feed — the video-curation serving shape): per video, state is ONE
    * (lastIdx, hi, lo) dHash triple; a frame is a keyframe when it is the
    * video's first seen frame or its Hamming distance to the previous frame
    * exceeds `maxHamming`. In-order feeds (the container-walk order a frame
    * extractor produces) reproduce the batch lag-window flags EXACTLY
    * (StreamingSpec pins batch == streaming across a mid-video batch split).
    * Out-of-order frames within a micro-batch are handled by sorting;
    * cross-batch stragglers older than the held frame compare against it and
    * do NOT move state backward — the bounded-state approximation the other
    * streaming twins document (state stays O(videos), not O(frames)). */
  def keyframeStream(ds: Dataset[FrameHash], maxHamming: Int = 10)
                    (implicit spark: SparkSession): Dataset[KeyframeOut] = {
    import spark.implicits._
    ds.groupByKey(_.videoId)
      .flatMapGroupsWithState[KeyframeState, KeyframeOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (vid: Long, rows: Iterator[FrameHash], state: GroupState[KeyframeState]) =>
          val sorted = rows.toSeq.sortBy(_.frameIdx)
          val out = scala.collection.mutable.ArrayBuffer.empty[KeyframeOut]
          var st = state.getOption.orNull
          sorted.foreach { f =>
            if (st == null) {
              out += KeyframeOut(vid, f.frameIdx, 0L, 1)
              st = KeyframeState(f.frameIdx, f.hi, f.lo)
            } else {
              val ham = java.lang.Long.bitCount(st.hi ^ f.hi) +
                java.lang.Long.bitCount(st.lo ^ f.lo)
              out += KeyframeOut(vid, f.frameIdx, ham.toLong,
                if (ham > maxHamming) 1 else 0)
              if (f.frameIdx >= st.lastIdx) st = KeyframeState(f.frameIdx, f.hi, f.lo)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  final case class VideoHashState(n: Long, bits: Array[Long])
  final case class VideoHashOut(videoId: Long, nkf: Long, hi: Long, lo: Long)

  /** Streaming twin of [[graft.multimodal.MultimodalOps.videoHash64]] — the
    * pooled video hash maintained on a LIVE keyframe feed (compose after
    * [[keyframeStream]]'s `isKeyframe == 1` rows): per video, state is the
    * keyframe count plus 64 bit counters (O(videos), frame-count
    * independent); every micro-batch that touches a video emits its RUNNING
    * strict-majority code, so a serving join always sees the latest pooled
    * hash. After any prefix of the feed, the last emission per video equals
    * the batch [[graft.multimodal.MultimodalOps.videoHash64]] over the
    * keyframes seen so far — order-independent by construction (bit counts
    * commute), pinned in StreamingSpec. */
  def videoHashStream(ds: Dataset[FrameHash])
                     (implicit spark: SparkSession): Dataset[VideoHashOut] = {
    import spark.implicits._
    ds.groupByKey(_.videoId)
      .flatMapGroupsWithState[VideoHashState, VideoHashOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (vid: Long, rows: Iterator[FrameHash], state: GroupState[VideoHashState]) =>
          val st = state.getOption.getOrElse(VideoHashState(0L, new Array[Long](64)))
          var n = st.n
          val bits = st.bits.clone()
          rows.foreach { f =>
            n += 1
            var i = 0
            while (i < 32) {
              if (((f.lo >> i) & 1L) == 1L) bits(i) += 1
              if (((f.hi >> i) & 1L) == 1L) bits(32 + i) += 1
              i += 1
            }
          }
          state.update(VideoHashState(n, bits))
          var hi = 0L; var lo = 0L; var i = 0
          while (i < 32) {
            if (2 * bits(i) > n) lo |= 1L << i
            if (2 * bits(32 + i) > n) hi |= 1L << i
            i += 1
          }
          Iterator.single(VideoHashOut(vid, n, hi, lo))
      }
  }

  /** Streaming 1-point spike pattern with ONE constant critical value `c` per key
    * (`crit`, else `defaultCrit`): point i is a hit when |d| > c,
    * sign(d) ≠ sign(d₊₁), |d₋₁| < c, |d₊₁| > c and |d₊₂| < c over the diffs of
    * points i−2..i+2, so emission lags the stream by exactly two points and state
    * is a ≤ 5-observation ring per key — O(keys), stream-length independent.
    *
    * This is not W6's 1-pt rule ([[graft.ops.SpikeOps.detectSpikes]],
    * `qaqc_unusual_large_jumps.py:128-299`): that rule derives a critical value per
    * (series, month) from the IQR of the differences, compares each neighbor with
    * its own month's value, and keeps only rows with 0 < Δt ≤ 12 h in months of
    * more than `minDatapoints` rows. This op applies none of these. */
  def spikeDetector(ds: Dataset[Obs], crit: Map[String, Double],
                    defaultCrit: Double = Double.MaxValue)
                   (implicit spark: SparkSession): Dataset[SpikeHit] = {
    import spark.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[SpikeBufState, SpikeHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[SpikeBufState]) =>
          val c = crit.getOrElse(key, defaultCrit)
          var buf = state.getOption.map(_.buf.toVector).getOrElse(Vector.empty)
          val hits = scala.collection.mutable.ArrayBuffer.empty[SpikeHit]
          rows.toSeq.sortBy(_.ts).foreach { o =>
            buf = (buf :+ o).takeRight(5)
            if (buf.size == 5) {
              val d = buf.iterator.sliding(2).map(p => p(1).value - p(0).value).toVector
              val (dm1, d0, dp1, dp2) = (d(0), d(1), d(2), d(3))
              if (math.abs(d0) > c && math.signum(d0) != math.signum(dp1) &&
                  math.abs(dm1) < c && math.abs(dp1) > c && math.abs(dp2) < c)
                hits += SpikeHit(key, buf(2).ts, buf(2).value)
            }
          }
          state.update(SpikeBufState(buf.toList))
          hits.iterator
      }
  }

  final case class BudgetDoc(id: Long, source: String, ts: Long, nTokens: Long)
  final case class BudgetState(filled: Long, closed: Boolean)
  final case class BudgetOut(id: Long, source: String, nTokens: Long,
                             cumTokens: Long)

  /** Streaming token-budget fill — the live-feed twin of
    * [[graft.text.TextOps.tokenBudgetFill]]: per source, arriving docs fill
    * the token budget until the first doc that would cross it, then the
    * source CLOSES — nothing after the boundary ever emits, so the emitted
    * set is a contiguous prefix of the arrival stream (the batch prefix/
    * boundary rule with ARRIVAL order standing in for the salted shuffle —
    * a stream cannot re-sort history, so the contract difference is the
    * ORDER, never the boundary rule). Within a micro-batch, rows fold in
    * (ts, id) order, so a replay with different batch boundaries emits the
    * same set (the keyframeStream determinism contract). State is one
    * (filled, closed) pair per source — O(sources), stream-length
    * independent. Compute `nTokens` upstream with
    * [[graft.text.TextOps.tokenCount]]. */
  def tokenBudgetStream(ds: Dataset[BudgetDoc], budgets: Map[String, Long],
                        defaultBudget: Long = 0L)
                       (implicit spark: SparkSession): Dataset[BudgetOut] = {
    import spark.implicits._
    ds.groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, BudgetOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[BudgetDoc], state: GroupState[BudgetState]) =>
          val b = budgets.getOrElse(src, defaultBudget)
          var st = state.getOption.getOrElse(BudgetState(0L, closed = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[BudgetOut]
          rows.toSeq.sortBy(d => (d.ts, d.id)).foreach { d =>
            if (!st.closed) {
              if (st.filled + d.nTokens <= b) {
                st = st.copy(filled = st.filled + d.nTokens)
                out += BudgetOut(d.id, src, d.nTokens, st.filled)
              } else st = st.copy(closed = true) // the boundary doc closes the source
            }
          }
          state.update(st)
          out.iterator
      }
  }
}
