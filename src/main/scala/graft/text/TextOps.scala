package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines: tokenization,
  * quality scoring, language ID, and document fingerprinting. All pure Catalyst
  * expressions (codegen'd, no UDFs) so they run at scan speed over 100 TB of
  * `documents(text)`-shaped data.
  *
  * Cross-engine determinism: every hash routes through md5 (identical in Spark and
  * DuckDB) so each op can carry an exact SQL oracle.
  */
object TextOps {

  /** Whitespace tokens of trimmed text; empty string → empty array. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Token count as ONE regex pass (r15 optimization round): the number of
    * nonempty `\s+`-separated tokens IS the number of `\S+` runs, so
    * `regexp_count` (which Spark rewrites to `size(regexp_extract_all)`)
    * returns the identical INT for every string — empty → 0, all-whitespace
    * → 0, null → null (same as `size(tokens(text))` under the non-legacy
    * sizeOfNull default) — while skipping tokens()'s trim, the nonempty
    * filter HOF, and (at call sites that only count) the lower() pass.
    * Measured 0.84–0.88× on the n_tokens passes (t8/t10/samp10/samp11, bm25
    * stats); parity with `size(tokens(text))` is property-pinned in
    * TextOpsSpec. */
  def tokenCount(text: Column): Column = regexp_count(text, lit("\\S+"))

  /** BPE-ish token count: word pieces plus standalone punctuation, the usual
    * pre-tokenizer regex shape (`\w+|[^\w\s]`). Upper bound proxy for LLM token counts. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"), lit(0)))

  def charCount(text: Column): Column = length(text)

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, 0.0)
      .otherwise(length(regexp_replace(text, "[^.,;:!?'\"()\\-]", "")).cast("double") /
        length(text))

  /** Fraction of tokens found in `stopwords` (pass a small language-specific set). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val toks = tokens(lower(text))
    when(size(toks) === 0, 0.0)
      .otherwise(size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("double") /
        size(toks))
  }

  def meanTokenLength(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) === 0, 0.0)
      .otherwise(aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks))
  }

  /** Composite quality score in [0,1]: length sweet-spot, moderate punctuation,
    * healthy mean token length — the C4/Gopher-style cheap filters folded into one
    * monotone score. Weights are engine defaults, not reference-derived. */
  def qualityScore(text: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val lenScore = least(charCount(text).cast("double") / 500.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swScore = least(stopwordRatio(text, stopwords) * 4.0, lit(1.0))
    val mtl = meanTokenLength(text)
    val wordScore = when(mtl >= 3.0 && mtl <= 10.0, 1.0).otherwise(0.5)
    round((lenScore * 0.3 + punctScore * 0.2 + swScore * 0.2 + wordScore * 0.3), 6)
  }

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be", "this", "are", "from", "not")

  /** Gopher's required-word list (Rae et al. 2021, §A1.1): a document must contain
    * at least two of these to pass the rules filter. */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document-quality RULES (Rae et al. 2021, §A1.1) — the hard
    * pass/fail gate that complements [[qualityScore]]'s soft composite: word-count
    * bounds, mean-word-length band, symbol-to-word ratio (`#`/ellipsis), line-shape
    * fractions (bullet-start, ellipsis-end), alphabetic-word fraction, and the
    * required-stopword presence check. Returns a struct of the measured statistics
    * plus per-rule and overall `pass` booleans.
    *
    * Every field is a pure Catalyst expression over one scan (zero shuffles, no
    * UDFs); ratios are integer-count divisions so they are bit-identical across
    * engines and the thresholds carry an exact SQL oracle. Words are whitespace
    * tokens of the lower-cased text (punctuation stays attached — the standard
    * cheap-filter approximation, applied identically on both sides). */
  def gopherRules(text: Column,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                  minAlphaFrac: Double = 0.8, minRequiredHits: Int = 2): Column = {
    val toks = tokens(lower(text))
    val nWords = size(toks)
    val meanWordLen = when(nWords === 0, 0.0)
      .otherwise(aggregate(toks, lit(0L), (a, t) => a + length(t)).cast("double") /
        nWords)
    // non-overlapping left-to-right counts, identical replace semantics in DuckDB
    val hashCount = length(text) - length(regexp_replace(text, "#", ""))
    val ellipsisCount =
      (length(text) - length(regexp_replace(text, "\\.\\.\\.", ""))) / 3 +
        (length(text) - length(regexp_replace(text, "…", "")))
    val symbolRatio = when(nWords === 0, 0.0)
      .otherwise((hashCount + ellipsisCount).cast("double") / nWords)
    val lines = split(text, "\n") // split("") = [""] so nLines >= 1 always
    val nLines = size(lines)
    val bulletFrac =
      size(filter(lines, l => l.rlike("^\\s*[-*•]"))).cast("double") / nLines
    val ellipsisFrac =
      size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$"))).cast("double") / nLines
    val alphaFrac = when(nWords === 0, 0.0)
      .otherwise(size(filter(toks, t => t.rlike("[a-z]"))).cast("double") / nWords)
    val requiredHits = size(array_intersect(
      array_distinct(toks), array(GopherRequiredWords.map(lit): _*)))
    val pass =
      nWords >= minWords && nWords <= maxWords &&
      meanWordLen >= minMeanWordLen && meanWordLen <= maxMeanWordLen &&
      symbolRatio <= maxSymbolRatio &&
      bulletFrac <= maxBulletFrac && ellipsisFrac <= maxEllipsisFrac &&
      alphaFrac >= minAlphaFrac && requiredHits >= minRequiredHits
    struct(
      nWords.as("n_words"),
      round(meanWordLen, 4).as("mean_word_len"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(bulletFrac, 4).as("bullet_frac"),
      round(ellipsisFrac, 4).as("ellipsis_frac"),
      round(alphaFrac, 4).as("alpha_frac"),
      requiredHits.as("required_hits"),
      pass.as("pass"))
  }

  /** Language ID (n-gram/stopword heuristic): score text against per-language marker
    * sets, return the best-scoring language code or "und". Marker sets are the standard
    * high-frequency function words per language — a real production system would use
    * fastText-style models; this is the classic cheap heuristic tier. */
  def langIdLite(text: Column,
                 markers: Map[String, Seq[String]] = DefaultLangMarkers): Column = {
    val toks = tokens(lower(text))
    val scores = markers.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(
        size(filter(toks, t => t.isin(words.map(lit): _*))).as("hits"),
        lit(langCode).as("lang"))
    }
    // greatest() requires >= 2 args; a single-language marker map is its own best
    val best = if (scores.size == 1) scores.head else greatest(scores: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise("und")
  }

  val DefaultLangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for"),
    "es" -> Seq("el", "la", "los", "las", "que", "de", "y", "es", "para", "con"),
    "fr" -> Seq("le", "la", "les", "des", "que", "et", "est", "pour", "dans", "une"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "für", "ein", "zu"),
    "it" -> Seq("il", "lo", "gli", "che", "di", "e", "è", "per", "con", "una"))

  /** Document fingerprint: md5 of the whitespace-normalized, lower-cased text — the
    * exact-dedup key. md5 keeps it DuckDB-comparable. Computed by the native
    * [[graft.expr.NormFingerprint]] expression (one string pass, no token-array /
    * joined-string allocation; bit-identical to the composed
    * `md5(concat_ws(" ", tokens(lower(text))))` every oracle inlines — pinned in
    * NormFingerprintSpec). */
  def fingerprint(text: Column): Column =
    graft.expr.NormFingerprint.expr(text)

  /** Rolling k-gram hashes of the token stream (60-bit, md5-derived so the values are
    * engine-portable; a production system would swap in a true Rabin-Karp rolling
    * hash — the downstream winnowing contract is identical). Short texts (< k tokens)
    * hash as one gram. */
  def kgramHashes(text: Column, k: Int = 5): Column =
    // native one-pass gram hashing (codegen'd) — bit-identical to the composed
    // slice/concat_ws/md5 chain it replaced (KgramMd5Spec); the HOF form was
    // O(tokens x k) interpreted allocation per document
    graft.expr.KgramMd5.expr(tokens(lower(text)), k)

  /** CCNet-style head/middle/tail corpus partition (Wenzek et al. 2020, §4.3):
    * per language, split documents into score terciles and label the best third
    * `head`, then `middle`, then `tail` — CCNet routes each document by its
    * Wikipedia-LM perplexity against per-language tercile thresholds; any score
    * column works (the t13 unigram-LM score is the CCNet-faithful input, the
    * composite [[qualityScore]] the cheap stand-in). One grouped-percentile agg
    * (two rows per language, AQE-broadcast back) — no rank shuffle, no sort;
    * `lowerIsBetter = true` for perplexities, false for quality scores. At
    * unbounded-cardinality keys pass `exact = false` for the sketch percentile
    * (`accuracy` as in percentile_approx). A null key forms its own bucket group
    * (the join-back is null-safe), so no document is silently dropped. */
  def perplexityBuckets(df: DataFrame, keys: Seq[String], scoreCol: String,
                        lowerIsBetter: Boolean = true, exact: Boolean = true,
                        accuracy: Int = 10000,
                        out: String = "ccnet_bucket"): DataFrame = {
    val fn =
      if (exact) s"percentile($scoreCol, %s)"
      else s"percentile_approx($scoreCol, %s, $accuracy)"
    val thr = df.groupBy(keys.map(col): _*).agg(
      expr(fn.format("0.3333333333333333")).as("_p33"),
      expr(fn.format("0.6666666666666666")).as("_p67"))
      .withColumnsRenamed(keys.map(k => k -> s"_k_$k").toMap)
    val s = col(scoreCol)
    val bucket =
      if (lowerIsBetter)
        when(s <= col("_p33"), "head").when(s <= col("_p67"), "middle")
          .otherwise("tail")
      else
        when(s >= col("_p67"), "head").when(s >= col("_p33"), "middle")
          .otherwise("tail")
    df.join(thr, keys.map(k => col(k) <=> col(s"_k_$k")).reduce(_ && _), "left")
      .withColumn(out, bucket)
      .drop((keys.map(k => s"_k_$k") ++ Seq("_p33", "_p67")): _*)
  }

  /** Deterministic split assignment for training-data curation: hash the id (md5,
    * engine-portable) to a uniform value in [0, 1) and carve [train | val | test] by
    * cumulative fractions. Reproducible across runs/engines/shards — membership
    * depends only on the id, never on row order or partitioning, so re-running over
    * grown data keeps every existing assignment stable (the property that matters at
    * 100 TB where a global shuffle-split is impossible). */
  def splitAssign(id: Column, valFrac: Double = 0.05, testFrac: Double = 0.05): Column = {
    val u = graft.expr.Md5Hash60.expr(id).cast("double") / lit((1L << 60).toDouble)
    when(u < 1.0 - valFrac - testFrac, "train")
      .when(u < 1.0 - testFrac, "val")
      .otherwise("test")
  }

  /** Per-document n-gram repetition stats — the Gopher-style repetition quality
    * filters (fraction of text inside duplicated n-grams, dominance of the single top
    * n-gram). Returns struct(n_grams, dup_grams, top_gram):
    *  - n_grams: total word n-grams in the document;
    *  - dup_grams: n-grams belonging to a gram that occurs more than once;
    *  - top_gram: occurrences of the most frequent gram.
    * Callers derive the ratios (`dup_grams / n_grams` etc.) at whatever precision
    * they need.
    *
    * Computed by sorting the row's own n-gram array and run-length folding it —
    * scan-speed, NO shuffle. (The naive formulation explodes n-grams and re-groups by
    * (doc, gram): a full-table shuffle of ~|tokens| rows per document, which at
    * 100 TB is the single biggest avoidable shuffle in a quality-scoring pass.) */
  def repetitionStats(text: Column, n: Int = 2): Column = {
    val toks = tokens(lower(text))
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
    val sorted = array_sort(grams)
    // fold state: (prev gram, current run length, grams in closed duplicated runs,
    // longest closed run, total). A run closes when the sorted value changes.
    val init = struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("dup"),
      lit(0L).as("top"), lit(0L).as("cnt"))
    aggregate(sorted, init,
      (acc, x) => {
        val same = acc.getField("prev") === x
        val run = acc.getField("run")
        struct(
          x.as("prev"),
          when(same, run + 1).otherwise(lit(1L)).as("run"),
          when(same, acc.getField("dup"))
            .otherwise(acc.getField("dup") + when(run > 1, run).otherwise(0L)).as("dup"),
          when(same, acc.getField("top"))
            .otherwise(greatest(acc.getField("top"), run)).as("top"),
          (acc.getField("cnt") + 1).as("cnt"))
      },
      acc => struct(
        acc.getField("cnt").as("n_grams"),
        (acc.getField("dup") +
          when(acc.getField("run") > 1, acc.getField("run")).otherwise(0L)).as("dup_grams"),
        greatest(acc.getField("top"), acc.getField("run")).as("top_gram")))
  }

  /** Deterministic uniform-in-[0,1) hash of an id with a salt — the sampling
    * primitive. Routed through md5 so external engines replicate it exactly. */
  def hashUniform(id: Column, salt: String): Column =
    graft.expr.Md5Hash60.expr(concat(lit(salt), id.cast("string")))
      .cast("double") / lit((1L << 60).toDouble)

  /** Deterministic stratified sampling: keep a row iff its salted id-hash falls below
    * the stratum's rate. Rates are a small driver-side map compiled into a when-chain
    * (no join, no broadcast); unknown strata fall back to `defaultRate`. Membership
    * depends only on (salt, id, stratum) — never on row order, partitioning, or
    * corpus size — so a sample stays stable as the corpus grows and across engines,
    * the property that matters when re-sampling 100 TB incrementally. */
  def stratifiedSampleFlag(id: Column, stratum: Column, rates: Map[String, Double],
                           defaultRate: Double = 0.0,
                           salt: String = "samp:"): Column = {
    val u = hashUniform(id, salt)
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate): Column) {
      case (acc, (k, r)) => when(stratum === k, lit(r)).otherwise(acc)
    }
    u < rate
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, the A-ES key method): each row gets key `ln(u) / w` for the
    * salted hash-uniform `u` and weight `w`; the `k` LARGEST keys are exactly a
    * weight-proportional sample without replacement. The hash-uniform makes the
    * sample a pure function of (salt, id, weight) — stable across engines,
    * re-runs, partitioning, and corpus growth, the samp1 property extended to
    * weighted draws. Keys are rounded to 9dp with an id tiebreak so the top-k
    * SET is deterministic and SQL-portable; selection is a TakeOrdered-shaped
    * global top-k (never a single-partition window) via the rank-window form
    * that Catalyst rewrites to a partial group limit.
    *
    * Returns the k selected rows with their `sample_key`. Zero/negative
    * weights NEVER win: they are filtered out before the cap, so when fewer
    * than k rows carry positive weight the sample is exactly those rows. */
  def weightedSample(df: DataFrame, idCol: String, weight: Column, k: Int,
                     salt: String = "wsamp:"): DataFrame = {
    val u = hashUniform(col(idCol), salt)
    val key = when(weight > 0, round(log(u) / weight, 9)).otherwise(lit(null))
    capPerGroup(
      df.withColumn("sample_key", key).filter(col("sample_key").isNotNull),
      lit(1), k, col("sample_key"), col(idCol))
  }

  /** Deterministic shuffle-and-shard — the materialization step every training
    * pipeline runs last: assign each document to one of `nShards` shards by a
    * salted hash-uniform (shards are iid samples of the corpus, the property
    * data loaders rely on), and give it a position within its shard by a
    * SECOND independent salted hash (the "global shuffle" — adjacent source
    * documents land far apart). Both coordinates are pure functions of
    * (salts, id): re-running on a grown corpus never moves an existing
    * document's shard, and engines/resumes agree bit-for-bit.
    *
    * Scale shape: shard assignment is scan-side arithmetic; the position
    * window partitions by shard — `nShards` is chosen ≫ executor count in
    * production, so partitions are corpus/nShards sized and the sort is the
    * write-side sort the shard files need anyway. */
  def shardAssign(df: DataFrame, idCol: String, nShards: Int,
                  salt: String = "shard:"): DataFrame = {
    val shard = pmod(
      conv(substring(md5(concat(lit(salt), col(idCol).cast("string"))), 1, 15),
        16, 10).cast("long"), lit(nShards.toLong))
    val posKey = conv(substring(
      md5(concat(lit(salt), lit("pos:"), col(idCol).cast("string"))), 1, 15),
      16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_pk"), col(idCol))
    df.withColumn("shard", shard)
      .withColumn("_pk", posKey)
      .withColumn("pos", row_number().over(w))
      .drop("_pk")
  }

  /** Per-group document cap — the RefinedWeb/C4-style per-domain limit: keep at
    * most `n` rows per `group`, preferring higher `rank` with a deterministic
    * `tiebreak`. ONE window shuffle on the group key; the `rn <= n` filter is
    * recognized by Catalyst's WindowGroupLimit rule, which inserts a PARTIAL
    * group-limit below the exchange — each map task forwards at most `n` rows per
    * group, so a mega-domain (the skew case that matters at 100 TB) ships
    * n × mapTasks rows, never its full row set, and the post-shuffle sort is
    * bounded the same way. Verified in the samp3 plan (WindowGroupLimitExec in
    * Partial then Final mode). */
  def capPerGroup(df: DataFrame, group: Column, n: Int,
                  rank: Column, tiebreak: Column): DataFrame =
    df.withColumn("_rn", row_number().over(
        Window.partitionBy(group).orderBy(rank.desc, tiebreak)))
      .filter(col("_rn") <= n).drop("_rn")

  /** Token-budget corpus materialization (samp10, VERDICT r14 #4) — the
    * production training-data selection step document-count sampling (samp2/
    * samp8/samp9) approximates: fill each SOURCE's token budget exactly, in a
    * deterministic shuffled order, and account for what was filled.
    *
    * Rules (all deterministic, engine-portable):
    *   - Order: each doc's position in its source's stream is the salted
    *     60-bit md5 key of its id (the samp1/shardAssign primitive, INTEGER
    *     compare — no float in the sort key), ties to the smaller id.
    *   - Boundary-doc rule: a doc is kept iff the cumulative token count of
    *     its source's stream INCLUDING it is ≤ the budget. The budget is a
    *     hard ceiling; the first doc that would cross it — the BOUNDARY doc
    *     — and everything after it in stream order are excluded (cumulative
    *     sums are monotone, so the kept set is a contiguous PREFIX of the
    *     shuffled stream — the property resumable data loaders rely on).
    *     Sources absent from `budgets` get `defaultBudget` (0 = drop).
    *   - Growth stability: a doc's (key, tokens) never changes, so adding
    *     docs that land AFTER a source's boundary never changes its kept
    *     set, and picks before the first inserted key never change. (An
    *     insertion BEFORE the boundary legitimately shifts the tail — an
    *     exact budget cannot both stay full and keep displaced picks;
    *     TextSpec pins both halves of this contract.)
    *
    * Scale shape: the cumulative sum is a TWO-LEVEL distributed prefix sum,
    * not a per-source window — `Window.partitionBy(source)` would put each
    * source's entire stream in ONE task (sources are few and huge at 100 TB,
    * the opposite of shardAssign's many-small-shards case). Level 1 buckets
    * docs by the TOP bits of the order key (bucket order == key order by
    * construction), so the heavy window partitions by (source, bucket) at
    * ~n/2^bucketBits rows each; level 2 prefix-sums the per-bucket totals on
    * a (sources × buckets)-row table and joins the offsets back — one extra
    * tiny shuffle instead of a corpus-wide single-task sort.
    *
    * Returns (kept, ledger): `kept` = the input rows + (n_tokens,
    * cum_tokens); `ledger` = one row per source — (budget, n_kept,
    * tokens_filled, boundary_id, boundary_tokens), boundary null when the
    * source ran out of docs under budget. */
  def tokenBudgetFill(df: DataFrame, idCol: String, sourceCol: String,
                      textCol: String, budgets: Map[String, Long],
                      defaultBudget: Long = 0L, salt: String = "tbudget:",
                      bucketBits: Int = 8): (DataFrame, DataFrame) = {
    require(bucketBits >= 0 && bucketBits <= 20, "bucketBits in [0, 20]")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget): Column) {
      case (acc, (s, b)) => when(col(sourceCol) === s, lit(b)).otherwise(acc)
    }
    val keyed = df
      .withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("_key",
        graft.expr.Md5Hash60.expr(concat(lit(salt), col(idCol).cast("string"))))
    val ranked = bucketedCumTokens(keyed, sourceCol, idCol, bucketBits)
      .withColumn("_budget", budget)
    val kept = ranked.filter(col("cum_tokens") <= col("_budget"))
      .drop("_key", "_bkt", "_cumb", "_off", "_budget")
    val ledger = ranked.groupBy(col(sourceCol))
      .agg(max(col("_budget")).as("budget"),
        count(when(col("cum_tokens") <= col("_budget"), lit(1))).as("n_kept"),
        coalesce(sum(when(col("cum_tokens") <= col("_budget"), col("n_tokens"))),
          lit(0L)).as("tokens_filled"),
        // the boundary doc = first excluded in stream order (min by key, id)
        min(when(col("cum_tokens") > col("_budget"),
          struct(col("_key"), col(idCol).as("id"), col("n_tokens")))).as("_b"))
      .select(col(sourceCol), col("budget"), col("n_kept"), col("tokens_filled"),
        col("_b.id").as("boundary_id"), col("_b.n_tokens").as("boundary_tokens"))
    (kept, ledger)
  }

  /** The two-level distributed prefix sum shared by [[tokenBudgetFill]] and
    * [[tokenBudgetEpochPlan]]: expects `_key` (a 60-bit uniform order key) and
    * `n_tokens` on the input; appends `cum_tokens` = the inclusive running sum
    * of `n_tokens` within `sourceCol` ordered by (`_key`, id). Level 1 buckets
    * by the top key bits (bucket order == key order by construction) so the
    * heavy window partitions by (source, bucket) at ~n/2^bucketBits rows each;
    * level 2 prefix-sums the per-bucket totals on a (sources × buckets)-row
    * table and joins the offsets back — one tiny extra shuffle instead of a
    * corpus-wide single-task sort, because `Window.partitionBy(source)` would
    * put each source's ENTIRE stream in one task (sources are few and huge at
    * 100 TB). Leaves `_bkt` on the output (callers drop it). */
  private def bucketedCumTokens(keyed0: DataFrame, sourceCol: String,
                                idCol: String, bucketBits: Int): DataFrame = {
    require(bucketBits >= 0 && bucketBits <= 20, "bucketBits in [0, 20]")
    val keyed = keyed0.withColumn("_bkt", shiftright(col("_key"), 60 - bucketBits))
    val w1 = Window.partitionBy(col(sourceCol), col("_bkt"))
      .orderBy(col("_key"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w2 = Window.partitionBy(col(sourceCol)).orderBy(col("_bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = keyed.groupBy(col(sourceCol), col("_bkt"))
      .agg(sum(col("n_tokens")).as("_btot"))
      .select(col(sourceCol), col("_bkt"),
        coalesce(sum(col("_btot")).over(w2), lit(0L)).as("_off"))
    keyed
      .withColumn("_cumb", sum(col("n_tokens")).over(w1))
      .join(offsets, Seq(sourceCol, "_bkt"))
      .withColumn("cum_tokens", col("_off") + col("_cumb"))
      .drop("_cumb", "_off")
  }

  /** Token-budget materialization WITH repetition — the epoch plan production
    * data mixes use when a source's corpus is SMALLER than its token budget
    * (the usual case for high-quality sources: books, wiki, reference code).
    * Instead of stopping at one pass like [[tokenBudgetFill]], each source
    * repeats for whole epochs and tops up with a partial epoch:
    *
    *   - `full_epochs` = min(budget DIV total_tokens, maxEpochs) — integral
    *     division, every doc seen exactly that many times;
    *   - the PARTIAL epoch (skipped when the epoch cap bites) fills the
    *     remainder budget − full_epochs·total_tokens with [[tokenBudgetFill]]'s
    *     prefix/boundary rule, under epoch-(full_epochs+1)'s OWN deterministic
    *     shuffle — the order key is salted `"e<epoch>:"`, so each epoch
    *     re-shuffles independently (a partial second epoch does not replay the
    *     first epoch's head, the property repetition-aware loaders rely on);
    *   - `maxEpochs` caps repetition (over-repeating a small source is a
    *     memorization risk); a capped source reports tokens_filled < budget
    *     and a NULL boundary — the cap, not a boundary doc, is why it stopped.
    *
    * Unlike [[tokenBudgetFill]], this is a SNAPSHOT plan: per-source totals
    * feed the full-epoch arithmetic, so growing the corpus legitimately
    * changes full_epochs/remainder — recompute the plan per materialization
    * (determinism contract: same input ⇒ same plan, bit-exact cross-engine).
    *
    * Scale shape: totals are a sources-row aggregate broadcast back; the
    * partial epoch rides the same two-level prefix sum; no row is ever
    * physically replicated — the output is the input rows + (n_tokens,
    * n_epochs ≥ 1), and the ledger carries the accounting. A 100-TB
    * materializer consumes `n_epochs` as the repeat factor downstream.
    *
    * Returns (plan, ledger): `plan` = docs with n_epochs ≥ 1; `ledger` = one
    * row per source — (budget, total_tokens, full_epochs, n_partial,
    * tokens_filled, boundary_id, boundary_tokens). */
  def tokenBudgetEpochPlan(df: DataFrame, idCol: String, sourceCol: String,
                           textCol: String, budgets: Map[String, Long],
                           maxEpochs: Int = 4, defaultBudget: Long = 0L,
                           salt: String = "tbudget:", bucketBits: Int = 8)
      : (DataFrame, DataFrame) = {
    require(maxEpochs >= 1, "maxEpochs >= 1")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget): Column) {
      case (acc, (s, b)) => when(col(sourceCol) === s, lit(b)).otherwise(acc)
    }
    val tok = df
      .withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("_budget", budget)
    // per-source plan arithmetic: a sources-row aggregate, broadcast back
    val totals = tok.groupBy(col(sourceCol))
      .agg(sum(col("n_tokens")).as("total_tokens"), max(col("_budget")).as("_b"))
      .withColumn("full_epochs",
        when(col("total_tokens") > 0,
          least(expr("_b DIV total_tokens"), lit(maxEpochs.toLong)))
          .otherwise(lit(0L)))
      .withColumn("_rem",
        when(col("full_epochs") >= maxEpochs, lit(0L))
          .otherwise(col("_b") - col("full_epochs") * col("total_tokens")))
      .select(col(sourceCol), col("total_tokens"), col("full_epochs"), col("_rem"))
    // partial-epoch stream: epoch-(full+1)'s own shuffle ("e<epoch>:" salt)
    val keyed = tok
      .join(broadcast(totals), Seq(sourceCol))
      .withColumn("_key", graft.expr.Md5Hash60.expr(concat(
        lit(salt), lit("e"), (col("full_epochs") + 1).cast("string"), lit(":"),
        col(idCol).cast("string"))))
    val ranked = bucketedCumTokens(keyed, sourceCol, idCol, bucketBits)
    val inPartial = col("cum_tokens") <= col("_rem")
    val plan = ranked
      .withColumn("n_epochs",
        col("full_epochs") + when(inPartial, lit(1L)).otherwise(lit(0L)))
      .filter(col("n_epochs") >= 1)
      .drop("_key", "_bkt", "_budget", "_rem", "total_tokens",
        "full_epochs", "cum_tokens")
    val ledger = ranked.groupBy(col(sourceCol))
      .agg(max(col("_budget")).as("budget"),
        max(col("total_tokens")).as("total_tokens"),
        max(col("full_epochs")).as("full_epochs"),
        count(when(inPartial, lit(1))).as("n_partial"),
        (max(col("full_epochs")) * max(col("total_tokens")) +
          coalesce(sum(when(inPartial, col("n_tokens"))), lit(0L)))
          .as("tokens_filled"),
        // boundary = first excluded doc of the PARTIAL stream; null when the
        // epoch cap (not the budget) stopped the fill
        min(when(!inPartial && col("full_epochs") < maxEpochs,
          struct(col("_key"), col(idCol).as("id"), col("n_tokens")))).as("_b"))
      .select(col(sourceCol), col("budget"), col("total_tokens"),
        col("full_epochs"), col("n_partial"), col("tokens_filled"),
        col("_b.id").as("boundary_id"), col("_b.n_tokens").as("boundary_tokens"))
    (plan, ledger)
  }

  /** Default PII-redaction rules, applied in order: emails first (so their digit
    * runs don't half-match later rules), then URLs, IPv4 literals, and long digit
    * runs (ids, phone-ish numbers). Patterns stay inside the Java-regex / RE2 common
    * subset so external engines (and the SQL oracle) replicate them verbatim. */
  val DefaultRedactions: Seq[(String, String)] = Seq(
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("https?://[^\\s]+", "<URL>"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("\\b\\d{6,}\\b", "<NUM>"))

  /** Rule-based PII redaction — the text-scrubbing pass every training corpus runs
    * before anything else sees the data. A fold of codegen'd `regexp_replace`s (one
    * pass per rule, scan-local, no UDF); rule ORDER is semantic, see
    * [[DefaultRedactions]]. */
  def redact(text: Column, rules: Seq[(String, String)] = DefaultRedactions): Column =
    rules.foldLeft(text) { case (acc, (p, r)) => regexp_replace(acc, p, r) }

  /** Per-stratum corpus mixture sampling — hit a target domain mixture (e.g. 40%
    * web / 30% code / 30% books) by down-sampling every stratum to the largest total
    * the corpus can supply at those proportions: scale = min over strata of
    * (available_s / weight_s); keep-rate_s = weight_s * scale / available_s (the
    * binding stratum keeps everything). `counts` are the per-stratum row counts — a
    * k-row driver-side aggregate, like centroid seeding; membership then reuses the
    * deterministic salted-hash primitive, so the mix is stable across runs/engines.
    * Returns the per-stratum keep rates for [[stratifiedSampleFlag]]. */
  def mixtureRates(counts: Map[String, Long], weights: Map[String, Double]): Map[String, Double] = {
    require(weights.nonEmpty && weights.values.forall(_ > 0), "weights must be positive")
    val known = weights.keySet.intersect(counts.keySet)
    require(known.nonEmpty, "no stratum in common between counts and weights")
    val scale = known.map(s => counts(s) / weights(s)).min
    weights.map { case (s, w) =>
      s -> counts.get(s).filter(_ > 0).map(n => math.min(1.0, w * scale / n)).getOrElse(0.0)
    }
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken — "Winnowing: Local
    * Algorithms for Document Fingerprinting", SIGMOD 2003): the minimum hash of every
    * `w`-window of k-gram hashes, deduplicated and sorted. Any substring match of
    * >= w+k-1 tokens between two documents is guaranteed to share a fingerprint, at
    * ~1/w the storage of full k-gram sets — the classic near-dup sketch between exact
    * hashing and MinHash. Pure HOF expression, no UDF, no shuffle. */
  def winnowingFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    // native sliding-min selection (monotonic deque, codegen'd) — bit-identical
    // to the composed slice/array_min form it replaced (WinnowSelectSpec); the
    // HOF form was O(tokens x w) interpreted allocation, the d13 cost term
    graft.expr.WinnowSelect.expr(kgramHashes(text, k), w)

  /** Positional winnowing fingerprints — `array<struct<fp, pos>>` where `pos` is
    * the 0-based token index of the selected k-gram; the input span-REMOVAL
    * needs (detection only needs the values). Same deque selection. */
  def winnowingFingerprintsPos(text: Column, k: Int = 5, w: Int = 4): Column =
    graft.expr.WinnowSelectPos.expr(kgramHashes(text, k), w)

  /** TF-IDF top-`kTerms` keyword extraction per document — the classic corpus-
    * statistics op (topic tagging, keyword-based sampling, index keys). Score =
    * tf * ln(N / df), smoothed by nothing (a term present in every document scores
    * exactly 0); scores are rounded to 6 decimals BEFORE ranking so the ordering is
    * engine-portable (`ln` is the one non-IEEE-exact step; 1-ulp libm differences
    * die in the rounding, the w13 lesson applied in reverse), ties broken by term.
    *
    * Scale shape: explode -> groupBy(doc, term) with map-side partial aggregation
    * (the explode firehose combines before it shuffles); df via a SECOND partial
    * aggregation of the (doc, term) pairs to a vocabulary-sized table; the join
    * back is a shuffle join on term — the vocabulary of a web corpus (typo long
    * tail, URLs) is NOT broadcastable at 100 TB, and stopword-grade terms make
    * skewed keys, which is precisely what AQE skew-join splitting handles; top-k
    * per doc plans as a partial WindowGroupLimit below the exchange (samp3). N is
    * derived from the SAME persisted pair table (count of distinct doc ids), not a
    * second corpus scan — the samp2 single-pass rule. Release contract: the result
    * references the pinned pair table; harness clears per query, library callers
    * unpersist after consuming (BASELINE.md r8). */
  def tfIdfTopK(docs: DataFrame, idCol: String, textCol: String,
                kTerms: Int): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = pairs.select(col(idCol)).distinct().count()
    val dfTbl = pairs.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = pairs.join(dfTbl, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(nDocs.toDouble) / col("df")), 6))
    capPerGroup(scored, col(idCol), kTerms, col("tfidf"), col("term"))
      .select(col(idCol), col("term"), col("tfidf"))
  }

  /** Unigram-LM document quality score (the CCNet recipe, Wenzek et al. 2020,
    * reduced to its order statistics): train a unigram LM on the corpus ITSELF
    * (MLE — the scored corpus is the training corpus, so every token is
    * in-vocabulary and no smoothing mass is needed) and score each document by its
    * mean negative log-probability per token instance. Low = common-token fluent
    * text; high = rare-token-dense (noise, codey, or genuinely exotic). Curation
    * pipelines bucket on this score for keep/drop/routing decisions.
    *
    * Numeric portability: per-token `-ln(c/N)` is rounded to 6 decimals and cast
    * to DECIMAL(12,6) BEFORE any cross-row arithmetic (t11's rule — 1-ulp libm
    * differences die in the rounding), so the weighted sum is exact decimal
    * addition (order-independent) and the op carries an exact SQL oracle.
    *
    * Scale shape = t11's: explode → (doc,term) partial-agg → term-count table
    * joined back on term (shuffle join — a web corpus vocabulary is not
    * broadcastable at 100 TB; AQE skew-join splits the stopword keys), one
    * groupBy(doc). The corpus total N comes from the SAME persisted pair table,
    * not a second scan. Returns (id, n_tokens, lm_score). */
  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totalN = pairs.agg(sum(col("tf"))).head().getLong(0)
    val termCounts = pairs.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    pairs.join(termCounts, "term")
      .withColumn("_nlogp",
        round(-log(col("c").cast("double") / lit(totalN.toDouble)), 6)
          .cast("decimal(12,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"), sum(col("_nlogp") * col("tf")).as("_s"))
      .select(col(idCol), col("n_tokens"),
        round(col("_s").cast("double") / col("n_tokens"), 4).as("lm_score"))
  }

  /** Canonical URL form for URL-level dedup (the standard Common-Crawl curation
    * key): lower-cased scheme and host, `www.` and scheme-default port stripped,
    * trailing path slashes trimmed, tracking parameters (`utm_*`, `fbclid`,
    * `gclid`, `ref`) removed, surviving query params SORTED (param order is not
    * semantic), fragment dropped. Pure regexp/HOF column expression — canonicalize
    * at scan speed, no UDF; every step has an exact DuckDB twin so URL-dedup
    * queries carry a SQL oracle. */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val after = regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://", "")
    val hostPort = lower(regexp_extract(after, "^([^/?#]*)", 1))
    val host0 = regexp_replace(hostPort, "^www\\.", "")
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    val path = regexp_replace(regexp_extract(after, "^[^/?#]*([^?#]*)", 1), "/+$", "")
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="))
    val q = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }

  /** URL-level keep-first dedup over [[canonicalizeUrl]]: one row per canonical
    * URL with the smallest source id kept and the duplicate count — one
    * fingerprint-grade groupBy shuffle, the d1 shape on the URL key. */
  /** C4 cleaning rules (Raffel et al. 2020 §2.2, the public C4 recipe minus the
    * word blocklist). Line level — keep lines that end in terminal punctuation
    * (`. ! ? "` or a closing curly quote), carry at least `minLineWords`
    * whitespace words, and do not contain "javascript" (case-insensitive).
    * Page level — a page is dropped when fewer than `minKeptLines` lines
    * survive, when it contains "lorem ipsum" (case-insensitive), or when it
    * contains a curly brace (code). Returns EVERY input doc with the cleaned
    * text, kept-line count, and the page verdict — dropped pages are rows, not
    * absences, so removal is auditable; callers filter on `page_kept`.
    *
    * Scale shape: completely shuffle-free — the line pass is a higher-order
    * `filter` over the split array inside one projection (no explode, no
    * reassembly groupBy); every rule is a codegen'd string predicate. */
  def c4Clean(df: DataFrame, idCol: String, textCol: String,
              minLineWords: Int = 5, minKeptLines: Int = 3): DataFrame = {
    val keepLine = (l: Column) =>
      trim(l).rlike("[.!?\"”']$") &&
        size(filter(split(trim(l), "\\s+"), w => length(w) > 0)) >= minLineWords &&
        !lower(l).contains("javascript")
    val kept = filter(split(col(textCol), "\n"), keepLine)
    df.select(col(idCol),
        array_join(kept, "\n").as("text_clean"),
        size(kept).cast("long").as("n_lines_kept"),
        (size(kept) >= minKeptLines &&
          !lower(col(textCol)).contains("lorem ipsum") &&
          !col(textCol).contains("{")).as("page_kept"))
  }

  /** Exponentially-smoothed sampling weights over a group column (the XLM-R /
    * mBERT multilingual rule, Conneau et al. 2020: q_l ∝ p_l^alpha with
    * alpha < 1 — upsample the tail, downsample the head). Returns one row per
    * group with its corpus share `p`, smoothed sampling probability `q`, and
    * the resulting boost factor `q/p` (> 1 means the group is oversampled).
    *
    * Scale shape: ONE corpus pass (the partial-agg groupBy on the group key);
    * the two normalizing totals are window sums over the group-cardinality
    * counts table — tens of rows in one partition, never the corpus (a
    * cross-join-with-agg formulation would rescan the corpus per total). */
  def alphaSampleWeights(df: DataFrame, groupCol: String,
                         alpha: Double = 0.3): DataFrame = {
    val w1 = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_docs"))
      .withColumn("_p", col("n_docs") / sum(col("n_docs")).over(w1))
      .withColumn("_w", pow(col("_p"), alpha))
      .withColumn("_q", col("_w") / sum(col("_w")).over(w1))
      .select(col(groupCol), col("n_docs"),
        round(col("_p"), 6).as("p"),
        round(col("_q"), 6).as("q"),
        round(col("_q") / col("_p"), 6).as("boost"))
  }

  /** Intra-document chunking on sentence boundaries for a fixed context window —
    * the long-document prep step ([[graft.text.PackingOps]] packs whole docs
    * ACROSS documents; this splits WITHIN one). Sentences are RE2-portable
    * `[^.!?]+[.!?]*` segments (no lookbehind — identical semantics in Java
    * regex and DuckDB); each sentence lands in chunk
    * `floor(tokens_before_it / maxTokens)` — deterministic offset-stride
    * chunking, NOT greedy best-fit (greedy needs a sequential reset scan; the
    * offset form is one posexplode + one per-doc window cumsum and chunks
    * overflow by at most one sentence).
    *
    * Scale shape: one posexplode, ONE window shuffle on the doc id (cumsum +
    * the reassembly groupBy share it under AQE). */
  def chunkBySentences(df: DataFrame, idCol: String, textCol: String,
                       maxTokens: Int): DataFrame = {
    val sentArr = filter(
      transform(regexp_extract_all(col(textCol), lit("[^.!?]+[.!?]*"), lit(0)),
        s => trim(s)),
      s => length(s) > 0)
    val sents = df.select(col(idCol), posexplode(sentArr))
      .toDF(idCol, "_pos", "_sent")
      .withColumn("_ntok", tokenCount(col("_sent")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    sents
      .withColumn("_before", coalesce(sum(col("_ntok")).over(w), lit(0L)))
      .withColumn("chunk_id", floor(col("_before") / maxTokens))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(count(lit(1)).as("n_sentences"), sum(col("_ntok")).as("n_tokens"),
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("_pos"), col("_sent")))),
            s => s.getField("_sent"))).as("chunk_text"))
  }

  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("n_dups"))

  /** Adjacent-bigram pairs of the lowered token stream as `struct(a, b)` — the
    * zip of the token array against its own 1-shift (no sequence(), whose
    * descending-range edge at size<2 differs across engines); 0/1-token
    * documents yield an empty array. */
  def bigramPairs(text: Column): Column = {
    val tk = tokens(lower(text))
    val n1 = greatest(size(tk) - 1, lit(0))
    zip_with(slice(tk, lit(1), n1), slice(tk, lit(2), n1),
      (a, b) => struct(a.as("a"), b.as("b")))
  }

  /** Unigrams + bigrams of the lowered token stream, as one array (the DSIR
    * feature space); a 0/1-token document contributes its unigrams only. */
  def uniBigrams(text: Column): Column = {
    val tk = tokens(lower(text))
    concat(tk, transform(bigramPairs(text),
      p => concat(p.getField("a"), lit(" "), p.getField("b"))))
  }

  /** Interpolated Kneser-Ney bigram LM quality score (Kneser & Ney 1995;
    * Chen & Goodman 1999 §3 — the smoothing CCNet-class perplexity filters
    * actually use, upgraded from [[unigramLmScore]]'s unigram MLE). Self-trained
    * on the corpus:
    * `P(b|a) = max(c(ab)-δ,0)/c(a·) + (δ·N1+(a·)/c(a·)) · (N1+(·b)/N1+(··))`
    * with discount `δ`; every count is an exact integer aggregate, so with the
    * per-instance `-ln P` rounded to 6dp decimals the cross-row sums are
    * order-independent and the op carries an exact SQL oracle. Returns
    * `(id, n_bigrams, kn_score)` — mean negative log-likelihood per bigram
    * instance (lower = more fluent under the corpus model); documents with
    * fewer than two tokens carry no bigrams and are absent, the t13 contract.
    *
    * Scale shape: ONE corpus explode feeds the (doc, bigram) pair table
    * (persisted, the t13 rule); all model tables (bigram counts, left-context
    * totals, continuation counts) derive from it without rescanning; the score
    * join is bigram-keyed (a web corpus bigram vocabulary is not broadcastable —
    * AQE skew-join splits stopword-pair keys), and the N1+(··) scalar rides a
    * 1-row broadcast cross join. */
  /** Train the KN bigram model alone: the `(a, b, nll)` table
    * [[graft.streaming.StreamingOps.knScoreStream]] serves against
    * (vocabulary-sized — hash-joined stream-static, not broadcast). */
  def knBigramModel(docs: DataFrame, textCol: String,
                    discount: Double = 0.75): DataFrame = {
    val bg = docs.select(explode(bigramPairs(col(textCol))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fromCtx = bg.groupBy(col("a"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fwd"))
    val cont = bg.groupBy(col("b")).agg(count(lit(1)).as("n1rev"))
    val types = bg.agg(count(lit(1)).as("nbig"))
    val p =
      (greatest(col("c12") - discount, lit(0.0)) / col("c1")) +
        ((lit(discount) * col("n1fwd")) / col("c1")) *
          (col("n1rev") / col("nbig"))
    bg.join(fromCtx, Seq("a")).join(cont, Seq("b")).crossJoin(broadcast(types))
      .select(col("a"), col("b"), round(-log(p), 6).cast("decimal(12,6)").as("nll"))
  }

  def knBigramScore(docs: DataFrame, idCol: String, textCol: String,
                    discount: Double = 0.75): DataFrame = {
    val pairs = docs
      .select(col(idCol), explode(bigramPairs(col(textCol))).as("p"))
      .select(col(idCol), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col(idCol), col("a"), col("b")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bg = pairs.groupBy(col("a"), col("b")).agg(sum(col("tf")).as("c12"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager population (r15, the mm10 lesson): fromCtx/cont/types feed three
    // concurrently-built broadcast joins — lazy, each re-ran the corpus
    // bigram explode; one count() pins bg (and pairs en route) in one pass
    bg.count()
    val fromCtx = bg.groupBy(col("a"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fwd"))
    val cont = bg.groupBy(col("b")).agg(count(lit(1)).as("n1rev"))
    val types = bg.agg(count(lit(1)).as("nbig"))
    val p =
      (greatest(col("c12") - discount, lit(0.0)) / col("c1")) +
        ((lit(discount) * col("n1fwd")) / col("c1")) *
          (col("n1rev") / col("nbig"))
    pairs
      .join(bg, Seq("a", "b"))
      .join(fromCtx, Seq("a"))
      .join(cont, Seq("b"))
      .crossJoin(broadcast(types))
      .withColumn("_nll", round(-log(p), 6).cast("decimal(12,6)"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"), sum(col("_nll") * col("tf")).as("_s"))
      .select(col(idCol), col("n_bigrams"),
        round(col("_s").cast("double") / col("n_bigrams"), 4).as("kn_score"))
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"). Features are
    * unigram+bigram counts hashed into `buckets` buckets (md5-derived 60-bit
    * hash, engine-portable); the target distribution is estimated from the rows
    * matching `targetPred`, the raw distribution from the whole corpus, both
    * add-`smoothing` smoothed. A document's importance weight is the sum over
    * its gram INSTANCES of `ln(p_target(bucket) / p_raw(bucket))` — documents
    * whose hashed-gram profile looks like the target domain score high and are
    * kept preferentially when resampling.
    *
    * Exactness: per-bucket log-ratios are rounded to 6dp and summed as
    * decimals, so cross-row addition is order-independent and the op carries an
    * exact SQL oracle (the t11/t13 rule).
    *
    * Scale shape: one corpus explode feeding BOTH the bucket-stats aggregate
    * and the per-doc sum (persisted, the t13 pattern); the stats table is
    * exactly `buckets` rows — it broadcasts back regardless of corpus size, and
    * the normalizing totals ride a 1-row broadcast cross join. Shuffles: the
    * stats groupBy and the per-doc groupBy (both partial-agg map-side). */
  /** BPE merge training (Sennrich et al. 2016, "Neural Machine Translation of
    * Rare Words with Subword Units" — the tokenizer-training step of an LLM data
    * pipeline). Learns `nMerges` byte-pair merges over the corpus: words are
    * whitespace tokens of the lowered text ending in `endOfWord`; each round
    * counts adjacent symbol pairs weighted by word frequency, merges the
    * argmax pair (count desc, then lexicographic pair — deterministic), and
    * rewrites the vocabulary. Returns the merge table
    * `(rank, left, right, pair_count)`.
    *
    * Scale shape: the corpus is touched ONCE (the word-frequency groupBy);
    * every round after that runs over the DISTINCT-WORD vocabulary (Heaps-law
    * small relative to the corpus, kept distributed — classic trainers hold it
    * single-node in memory). Per round: one vocab-pair partial-agg shuffle +
    * a top-L collect (model-sized driver traffic, the e6/e8t rule); the merge
    * rewrite is a per-row HOF fold (greedy left-to-right, non-overlapping).
    * Vocab lineage is cut per round with `localCheckpoint` (the d7 rule) so
    * the rounds never replay round 1.
    *
    * BATCHED ROUNDS (r11): a production 32k-merge vocabulary cannot afford
    * 32k sequential Spark jobs — wall-clock dies on scheduling latency, not
    * data. Each round therefore selects up to `batch` merges from the ranked
    * pair table and applies them in ONE rewrite, PROVABLY identical to
    * running them as consecutive sequential rounds. The selection walks the
    * ranking `(n desc, a, b)` as a PREFIX and stops at the first candidate
    * that could diverge from the sequential schedule:
    *  - shares a symbol with an already-selected pair (its count, or the
    *    selected pair's occurrences, would have changed);
    *  - its `a`, `b`, or concatenation `a+b` string-equals a selected pair's
    *    symbol or concatenation (a merge-created symbol must never re-match a
    *    batched rule — sequential rounds would see the new adjacency, the
    *    one-pass fold would not, and vice versa);
    *  - its count is not STRICTLY above the bound on any pair a prior selected
    *    merge can create or grow: merging (a_i, b_i) only creates pairs
    *    (x, a_i b_i) with count <= the old count(x, a_i) and (a_i b_i, y)
    *    with count <= the old count(b_i, y), so the bound is the max count
    *    over collected pairs adjacent to a selected symbol — plus the L-th
    *    collected count when the table was truncated (an uncollected pair
    *    can hide anything up to that).
    * Within a batch the selected pairs are symbol-disjoint and created
    * symbols match no rule, so the single fold pass applies them exactly as
    * consecutive greedy passes would; the prefix property guarantees the
    * sequential argmax at each intermediate round is exactly the next
    * selected pair. The first candidate is always selected, so a round makes
    * progress even when the head of the ranking is all-interacting (worst
    * case degenerates to the sequential schedule, never diverges from it).
    * TextOpsSpec pins batched == sequential on a crafted interacting corpus. */
  def bpeTrain(docs: DataFrame, textCol: String, nMerges: Int,
               endOfWord: String = "</w>", batch: Int = 32): DataFrame = {
    val spark = docs.sparkSession
    val words = docs.select(explode(tokens(lower(col(textCol)))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    var vocab = words
      .select(col("freq"),
        concat(split(col("w"), ""), array(lit(endOfWord))).as("syms"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val mBatch = math.min(math.max(batch, 1), nMerges - r)
      val limitL = math.max(64, 4 * mBatch)
      val n1 = greatest(size(col("syms")) - 1, lit(0))
      val top = vocab
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), n1), slice(col("syms"), lit(2), n1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(limitL).collect()
      if (top.isEmpty) exhausted = true
      else {
        val ranked = top.map(t => (t.getString(0), t.getString(1), t.getLong(2)))
        val truncGuard = if (top.length == limitL) ranked.last._3 else Long.MinValue
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        val createdSet = scala.collection.mutable.Set.empty[String]
        var bound = Long.MinValue
        var stop = false
        for (cand @ (a, b, n) <- ranked if !stop) {
          val conflict = sel.nonEmpty && (
            n <= bound ||
            used(a) || used(b) || createdSet(a) || createdSet(b) ||
            used(a + b) || createdSet(a + b))
          if (conflict || sel.size >= mBatch) stop = true
          else {
            sel += cand
            used += a; used += b; createdSet += (a + b)
            // bound on any pair this merge can create: pairs ending in `a`
            // or starting with `b` among the collected table, or anything
            // hiding below the collection cut
            val adjMax = ranked.iterator
              .filter(p => (p._2 == a || p._1 == b) && p != cand)
              .map(_._3).foldLeft(truncGuard)(math.max)
            bound = math.max(bound, adjMax)
          }
        }
        sel.zipWithIndex.foreach { case ((a, b, n), i) => merges += ((r + 1 + i, a, b, n)) }
        // greedy left-to-right merge of every selected (a,b), non-overlapping:
        // fold the symbol array; a tail element equal to an `a` followed by its
        // `b` collapses into `ab`. Rules are symbol-disjoint and created
        // symbols match no rule, so one pass == consecutive per-rule passes.
        val mergedSyms = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, s) => sel.foldLeft(concat(acc, array(s))) { case (els, (a, b, _)) =>
            when(
              size(acc) > 0 && element_at(acc, -1) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(els)
          })
        val next = vocab.select(col("freq"), mergedSyms.as("syms")).localCheckpoint()
        vocab.unpersist(blocking = false)
        vocab = next
        r += sel.size
      }
    }
    vocab.unpersist(blocking = false)
    import spark.implicits._
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** Apply a learned BPE merge list to one text column: each word's symbol
    * stream is rewritten by every merge in rank order (the greedy fold of
    * [[bpeTrain]]); returns the array of subword tokens.
    *
    * Runs as the NATIVE [[graft.expr.BpeSegmentNative]] expression — the merge
    * table rides as ONE reference object and each word segments by the
    * rank-priority loop, so a 32k-merge production vocabulary costs one plan
    * node instead of 32k chained HOF folds (plan analysis alone dies at that
    * depth). Identical output for every rank-consistent table (what any BPE
    * trainer emits; BpeApplySpec pins it to the chained-HOF fold form it replaced). */
  def bpeSegment(text: Column, merges: Seq[(String, String)],
                 endOfWord: String = "</w>"): Column =
    graft.expr.BpeSegmentNative.expr(text, merges, endOfWord)

  /** Trained character-trigram language identification (the Cavnar-Trenkle
    * n-gram family, as a self-trained add-1 multinomial over char trigrams —
    * the upgrade of [[langIdLite]]'s marker heuristic to a real classifier).
    * Per language: `P(tri|lang) = (c(tri,lang) + 1) / (total(lang) + B)` with
    * `B` = the corpus trigram vocabulary size; a document's score under a
    * language is the sum of 6dp-rounded `ln P` over its trigram INSTANCES
    * (decimal sums → exact SQL oracle), prediction = argmax (ties to the
    * lexicographically first language). Returns
    * `(id, langCol, pred_lang, score)`; documents under 3 chars carry no
    * trigrams and are absent.
    *
    * Scale shape: the model is (corpus trigram vocab × languages) rows — char
    * trigram vocabularies are naturally bounded for ALPHABETIC corpora (≪ word
    * vocabularies), so the model broadcasts; the only corpus-sized shuffles
    * are the model-count aggregate and the per-(doc, lang) score aggregate.
    * THE BOUNDED-VOCAB ASSUMPTION HAS A BOUNDARY: CJK corpora push distinct
    * char trigrams toward |charset|³-flavored counts, and (vocab × langs) can
    * reach millions of rows — beyond `maxBroadcastGridRows` the grid joins as
    * a SHUFFLE join (tri-keyed, co-partitioned with the instance table)
    * instead of a broadcast, trading one exchange for not shipping a
    * multi-GB model to every executor. Output is identical either way
    * (TextOpsSpec pins the forced-fallback path). */
  def charTrigramLangId(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String,
                        maxBroadcastGridRows: Long = 10000000L): DataFrame = {
    // native one-pass trigram histogram (r12): the per-character explode +
    // per-(doc,tri) shuffle the composed form paid is gone — the expression
    // emits |distinct trigrams per doc| pre-counted rows at scan speed
    // (graft.expr.CharTrigramCounts; parity with the substr form pinned in
    // CharTrigramCountsSpec, oracle unchanged)
    val inst = docs
      .select(col(idCol), col(langCol),
        explode(graft.expr.CharTrigramCounts.expr(lower(col(textCol)))).as("_tc"))
      .select(col(idCol), col(langCol),
        col("_tc.tri").as("tri"), col("_tc.tf").as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = inst.groupBy(col("tri"), col(langCol).as("_ml"))
      .agg(sum(col("tf")).as("c"))
    val totals = counts.groupBy(col("_ml")).agg(sum(col("c")).as("total"))
    val vocabB = counts.select(col("tri")).distinct()
      .agg(count(lit(1)).as("bsz"))
    // full (vocab x lang) grid so unseen-in-language trigrams carry the add-1
    // floor instead of silently vanishing from the sum
    val grid = counts.select(col("tri")).distinct()
      .crossJoin(totals)
      .join(counts, Seq("tri", "_ml"), "left")
      .crossJoin(broadcast(vocabB))
      .select(col("tri"), col("_ml"),
        round(log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
          (col("total") + col("bsz"))), 6).cast("decimal(12,6)").as("_lp"))
    // grid-size probe rides the persisted instance table (one tiny job); the
    // broadcast is only planned when the model actually fits the assumption
    val dims = counts
      .agg(count_distinct(col("tri")).as("v"), count_distinct(col("_ml")).as("l"))
      .head()
    val gridRows = dims.getLong(0) * dims.getLong(1)
    val modelSide = if (gridRows <= maxBroadcastGridRows) broadcast(grid) else grid
    val scored = inst
      .join(modelSide, Seq("tri"))
      .groupBy(col(idCol), col(langCol), col("_ml"))
      .agg(sum(col("_lp") * col("tf")).as("_s"))
    // r15 optimization round: the per-doc argmax was a row_number window
    // (exchange + SORT of the docs×langs score table); a min(struct) aggregate
    // picks the identical winner — (-_s, _ml) ascending IS (_s desc, _ml asc),
    // decimal negation is exact, and _s rides along as the third field — with
    // a map-side partial agg and NO sort anywhere (guide §2.3 "aggregate
    // before you shuffle"; same family as the w6 sort removal).
    scored
      .groupBy(col(idCol), col(langCol))
      .agg(min(struct((-col("_s")).as("_ns"), col("_ml").as("_ml"),
        col("_s").as("_sv"))).as("_best"))
      .select(col(idCol), col(langCol), col("_best._ml").as("pred_lang"),
        round(col("_best._sv").cast("double"), 4).as("score"))
  }

  /** The DSIR feature-hash bucket of one gram (md5-derived 60-bit, portable). */
  def dsirBucket(g: Column, buckets: Int): Column =
    pmod(conv(substring(md5(g), 1, 15), 16, 10).cast("long"), lit(buckets.toLong))

  /** Per-bucket smoothed target/raw log-ratios from a (b, c_all, c_t) stats
    * table — the learned DSIR model (`buckets` rows; broadcastable anywhere). */
  private def dsirStatsToWeights(stats: DataFrame, buckets: Int,
                                 smoothing: Double): DataFrame = {
    val totals = stats.agg(sum(col("c_all")).as("n_all"), sum(col("c_t")).as("n_t"))
    val sB = smoothing * buckets
    stats.crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(((col("c_t") + smoothing) / (col("n_t") + sB)) /
                  ((col("c_all") + smoothing) / (col("n_all") + sB))), 6)
          .cast("decimal(12,6)").as("_lw"))
  }

  /** Train the DSIR bucket-weight table alone (one corpus pass): the `buckets`-row
    * artifact [[graft.streaming.StreamingOps.dsirScoreStream]] serves against. */
  def dsirBucketWeights(docs: DataFrame, textCol: String, targetPred: Column,
                        buckets: Int = 512, smoothing: Double = 1.0): DataFrame = {
    val stats = docs
      .select(targetPred.cast("boolean").as("_tgt"),
        explode(uniBigrams(col(textCol))).as("g"))
      .groupBy(dsirBucket(col("g"), buckets).as("b"))
      .agg(count(lit(1)).as("c_all"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("c_t"))
    dsirStatsToWeights(stats, buckets, smoothing)
  }

  /** The add-smoothing FLOOR log-ratio a never-seen bucket would score:
    * `ln(((0+s)/(n_t+sB)) / ((0+s)/(n_all+sB))) = ln((n_all+sB)/(n_t+sB))`.
    * Pass this as `oovLogWeight` to
    * [[graft.streaming.StreamingOps.dsirScoreStream]] so live-feed grams that
    * hash into buckets absent from the training corpus score the same value a
    * zero-count bucket would have trained to. One two-long aggregate over the
    * gram stream; rounded to 6dp to match the weight table's decimal scale. */
  def dsirOovLogWeight(docs: DataFrame, textCol: String, targetPred: Column,
                       buckets: Int = 512, smoothing: Double = 1.0): Double = {
    val r = docs
      .select(targetPred.cast("boolean").as("_tgt"),
        explode(uniBigrams(col(textCol))).as("g"))
      .agg(count(lit(1)).as("n_all"),
        sum(when(col("_tgt"), 1L).otherwise(0L)).as("n_t"))
      .head()
    val sB = smoothing * buckets
    val raw = math.log((r.getLong(0) + sB) / (r.getLong(1) + sB))
    BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 512,
                  smoothing: Double = 1.0): DataFrame = {
    val ex = docs
      .select(col(idCol), targetPred.cast("boolean").as("_tgt"),
        explode(uniBigrams(col(textCol))).as("g"))
      .withColumn("b", dsirBucket(col("g"), buckets))
      .drop("g")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager population (r15, the mm10 lesson): the stats-side broadcast build
    // and the per-doc probe are concurrent jobs — lazy, both re-ran the explode
    ex.count()
    val stats = ex.groupBy(col("b")).agg(
      count(lit(1)).as("c_all"),
      sum(when(col("_tgt"), 1L).otherwise(0L)).as("c_t"))
    val bw = dsirStatsToWeights(stats, buckets, smoothing)
    ex.join(broadcast(bw), "b")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("_lw")).as("_s"))
      .select(col(idCol), col("n_grams"),
        round(col("_s").cast("double"), 4).as("dsir_weight"))
  }

  /** BM25 top-k lexical retrieval (Robertson & Zaragoza 2009, the Okapi
    * formulation with the non-negative `ln(1 + (N - df + 0.5)/(df + 0.5))` idf).
    * The retrieval primitive a curation pipeline needs for eval-set mining and
    * decontamination triage: score every document against each query's terms,
    * return the top `k` per query. Per-term contributions are rounded to 6dp
    * decimals (order-independent sums → exact SQL oracle); ranking is on the
    * 4dp-rounded score with a doc-id tiebreak, so the top-k set is
    * deterministic and engine-portable.
    *
    * Scale shape: queries are the small side by construction — the distinct
    * query-term set broadcasts into the (doc,term) pair table, pruning it to
    * docs containing at least one query term BEFORE any wide join; document
    * frequencies for just those terms come from the same persisted pair table
    * and broadcast too (≤ |query vocabulary| rows); N/avgdl ride a 1-row
    * broadcast cross join. The only doc-keyed shuffle joins pruned postings to
    * doc lengths; the final per-(query,doc) groupBy and per-query top-k window
    * partition by query — never a corpus-wide single partition. */
  def bm25Retrieve(docs: DataFrame, idCol: String, textCol: String,
                   queries: DataFrame, qidCol: String, qTextCol: String,
                   k: Int = 3, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // outside these ranges `_contrib` overflows its decimal(8,6) and, with ANSI
    // off, silently becomes NULL
    require(k >= 1 && k1 >= 0 && b >= 0 && b <= 1,
      s"bm25Retrieve needs k >= 1, k1 >= 0 and 0 <= b <= 1, got k=$k k1=$k1 b=$b")
    val tk = tokens(lower(col(textCol)))
    // corpus stats: one narrow scan into a 1-row aggregate, no wide shuffle.
    // Token-less docs are excluded (they carry no postings) so n_docs/avgdl
    // match a postings-derived formulation exactly. r15: the count rides
    // [[tokenCount]] (a regexp_count, no token array, no lower() — token
    // COUNT is case-invariant), so the stats pass no longer re-tokenizes the
    // corpus; the values are identical by the tokenCount contract.
    val stats = docs.select(tokenCount(col(textCol)).cast("long").as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val qterms = queries.select(col(qidCol),
      explode(array_distinct(tokens(lower(col(qTextCol))))).as("term"))
    // postings scan: doc length rides the scan inline (size of the token array —
    // no corpus-wide doc-length groupBy, no dl join), and the query-term filter
    // lands scan-side via broadcast hash join BEFORE the single corpus shuffle
    // (the per-(doc,term) partial agg over query-term hits only)
    val pruned = docs.select(col(idCol), tk.as("_tk"))
      .select(col(idCol), size(col("_tk")).cast("long").as("dl"),
        explode(col("_tk")).as("term"))
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
      .groupBy(col(idCol), col("dl"), col("term")).agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // eager population (r15, the mm10 lesson): dfreq's broadcast build and the
    // final probe are concurrently-submitted AQE jobs — a lazy cache let both
    // re-run the whole postings build (corpus tokenize + explode + shuffle)
    pruned.count()
    // document frequencies for just the query terms (≤ |query vocab| keys)
    val dfreq = pruned.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // r16 (guide §1.2 step 2, §2.3, measured at 100×): the per-term idf and the
    // per-(doc,term) contribution used to be computed AFTER the qterms fan-out —
    // a posting shared by q queries paid the log/round/decimal chain q times, and
    // the stage was 96% of e10's warm wall (StageProbe: 756 s CPU over ~25 M
    // fan-out rows; cold rep 17× worse again while the JIT chewed the huge
    // generated method). idf now rides the ≤|query vocab|-row dfreq table and
    // _contrib is computed ONCE per posting (pruned-cache-sized), so the
    // fan-out join only ships (term, id, _contrib) into the final decimal sum.
    // Bit-identical by construction: idf/contrib are pure functions of
    // (df, n_docs) and (tf, dl, avgdl, idf) — same expressions, same input
    // values, evaluated on the same rows pre- vs post-join — and the decimal
    // group-sum is order-independent.
    val idf = dfreq.crossJoin(broadcast(stats))
      .withColumn("_idf",
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)), 6))
      .select(col("term"), col("_idf"), col("avgdl"))
    // decimal(8,6), not (14,6) — provably lossless narrowing (guide §2.3):
    // 0 ≤ _idf = round(log1p((n_docs-df+0.5)/(df+0.5)), 6) ≤ log(1+2·2^63) < 44.3
    // for ANY long n_docs, and the tf/(tf+·) factor is in (0,1], so
    // |_contrib| < 45 — decimal(8,6) holds it exactly (same 6dp value the
    // (14,6) cast produced). The point is the SUM below: sum(decimal(8,6))
    // has result type decimal(18,6), which stays on Spark's compact-long
    // Decimal fast path, where sum(decimal(14,6)) → decimal(24,6) forced a
    // java.math.BigDecimal allocation per fan-out row in the hash agg — the
    // top CPU site of the whole query in the 100× thread-dump profile
    // (BigDecimal.valueOf/add + Decimal.changePrecision under
    // hashAgg_doAggregate_sum).
    val contrib = pruned
      .join(broadcast(idf), "term")
      .withColumn("_contrib",
        round(col("_idf") * col("tf") /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))), 6)
          .cast("decimal(8,6)"))
      .select(col("term"), col(idCol), col("_contrib"))
    val scored = contrib.join(broadcast(qterms), "term")
      .groupBy(col(qidCol), col(idCol))
      .agg(sum(col("_contrib")).as("_s"))
      .withColumn("score", round(col("_s").cast("double"), 4))
    graft.ann.AnnOps.topK(scored, qidCol, idCol, col("score").desc, k)
      .select(col(qidCol), col(idCol), col("score"), col("rank"))
  }

  // ──────────────────── trained linear quality classifier ────────────────────

  /** (doc, bucket, x, y) feature pairs for the linear classifier: md5-hashed
    * unigram buckets (the [[dsirBucket]] portable hash), x = bucket count ×
    * buckets / doc token count as a 9dp decimal — the doc's bucket DISTRIBUTION
    * scaled so each present bucket's feature is O(1), giving vocabulary weights
    * and the bias the same conditioning (unscaled relative frequencies ~1/B
    * left the bias 64× better-conditioned and it ate the whole fit) — label y
    * as 0/1, plus the BIAS folded in as constant feature (b = -1, x = 1) so
    * training is one uniform join→agg chain with no separate bias path (and
    * token-less docs still carry a row). */
  private def classifierPairs(docs: DataFrame, idCol: String, textCol: String,
                              label: Column, buckets: Int): DataFrame = {
    val labeled = docs.select(col(idCol).as("_doc"), label.cast("int").as("_y"),
      col(textCol).as("_text"))
    val counts = labeled
      .select(col("_doc"), col("_y"), explode(tokens(lower(col("_text")))).as("_tok"))
      .select(col("_doc"), col("_y"), dsirBucket(col("_tok"), buckets).as("_b"))
      .groupBy(col("_doc"), col("_y"), col("_b")).agg(count(lit(1)).as("_cnt"))
    val feat = counts
      .withColumn("_ntok", sum(col("_cnt")).over(Window.partitionBy(col("_doc"))))
      .select(col("_doc"), col("_y"), col("_b"),
        round(col("_cnt").cast("double") * lit(buckets.toDouble) /
            col("_ntok").cast("double"), 9)
          .cast("decimal(12,9)").as("_x"))
    val bias = labeled.select(col("_doc"), col("_y"), lit(-1L).as("_b"),
      lit(1).cast("decimal(12,9)").as("_x"))
    // ONE up-front hash-shuffle on doc, SORTED within partitions (r15): the
    // cached table advertises both hashpartitioning(_doc) and the _doc sort
    // order, so every round's per-doc margin WINDOW in [[classifierTrain]]
    // runs with zero exchange and zero per-round sort — per round only the
    // bucket-cardinality gradient partials move (without this, each of the
    // `rounds` iterations re-shuffled or re-sorted the pair table; the union
    // alone would discard the feature window's partitioning guarantee)
    feat.unionByName(bias).repartition(col("_doc")).sortWithinPartitions(col("_doc"))
  }

  /** `rounds` full-batch gradient steps over a [[classifierPairs]] table; returns
    * the weight table (_b, _w) with _b = -1 the bias. Every step is engine-exact:
    * margins are exact decimal sums of 6dp-weight × 9dp-feature products, the
    * activation is the RATIONAL sigmoid `0.5 + 0.5·z/(1+|z|)` (same fixed-point
    * loss shape as the logistic but pure IEEE arithmetic — no libm exp, so the
    * SQL oracle replays training bit-exactly, unlike the documented w13/clim1
    * libm boundary), gradient sums ride 18dp decimals (order-independent), and
    * the weight step rounds to 6dp. */
  private def classifierTrain(pairs: DataFrame, rounds: Int, lr: Double): DataFrame = {
    // r15 optimization-round restructure, measured not guessed: the former
    // DataFrame-resident weight loop spent its time on per-round DRIVER overhead,
    // not data — ~6 jobs per round (broadcast-exchange build, AQE stages, the
    // localCheckpoint materialization, and the 1-row doc-count distinct that
    // re-executed inside EVERY round's checkpoint job) plus ~0.2 s/round of
    // planning gap (job-level probe at sf0.1: 63 jobs, job-sum 3.9 s, planning
    // gap 1.9 s warm). The model is ≤ buckets+1 rows — the definition of
    // model-sized — so the weights now live on the DRIVER (the e8t kmeansTrain
    // precedent) and each round is ONE job: scan the cached pair table, look
    // the weight up in a map literal, per-doc margin as a WINDOW riding the
    // cache's (_doc partitioning, _doc sort) — zero exchange, zero sort, one
    // pass where the old errs-agg + join-back shape scanned the cache twice
    // and re-sorted it per round — then the ≤ buckets+1 gradient partials
    // collect.
    //
    // Bit-exactness vs the engine-resident form (the DuckDB oracle replays the
    // whole run, so every step must match to the last bit):
    //  - margin: same order-independent exact decimal sum (window vs groupBy);
    //  - _y is constant per doc (= the old MIN(_y));
    //  - gradient: collected as java.math.BigDecimal — exact; Spark's
    //    CAST(decimal AS DOUBLE) is BigDecimal.doubleValue — replicated;
    //  - step: lr * (g / n) in IEEE double in the SAME operation order, then
    //    Spark's round(double, 6) = BigDecimal.valueOf(d).setScale(6, HALF_UP)
    //    — replicated literally (Scala's BigDecimal(d) has valueOf semantics);
    //    the old double→decimal(12,6) cast after the round is value-identity
    //    because distinct 6dp values are ≥ 1e-6 apart while the double ulp at
    //    this magnitude is ≪ 0.5e-6;
    //  - update: scale-6 BigDecimal subtraction — exact, as before.
    val spark = pairs.sparkSession
    import java.math.{BigDecimal => JBD, RoundingMode}
    // one setup job: bucket id set (≤ buckets+1) + exact doc count
    val setup = pairs.agg(collect_set(col("_b")), count_distinct(col("_doc"))).head()
    val bucketIds: Array[Long] = setup.getSeq[Long](0).toArray.sorted
    val nDocs = setup.getLong(1)
    var w: Map[Long, JBD] = bucketIds.map(_ -> new JBD("0.000000")).toMap
    val wdoc = Window.partitionBy(col("_doc"))
    for (_ <- 1 to rounds) {
      val wmap = map(bucketIds.toSeq.flatMap(b =>
        Seq(lit(b), lit(w(b)).cast("decimal(12,6)"))): _*)
      val gRows = pairs
        .withColumn("_w", element_at(wmap, col("_b")))
        .withColumn("_m", sum(col("_w") * col("_x")).over(wdoc))
        .withColumn("_z", col("_m").cast("double"))
        .withColumn("_p",
          round(lit(0.5) + lit(0.5) * (col("_z") / (lit(1.0) + abs(col("_z")))), 9)
            .cast("decimal(10,9)"))
        .withColumn("_e", col("_p") - col("_y"))
        .groupBy(col("_b")).agg(sum(col("_e") * col("_x")).as("_g"))
        .collect() // ≤ buckets+1 rows — model-sized by construction
      val g: Map[Long, JBD] = gRows.map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      w = w.map { case (b, wv) =>
        val gd = g.get(b).filter(_ != null).map(_.doubleValue).getOrElse(0.0)
        val step = JBD.valueOf(lr * (gd / nDocs.toDouble))
          .setScale(6, RoundingMode.HALF_UP)
        b -> wv.subtract(step)
      }
    }
    val rows = bucketIds.toSeq.map(b => org.apache.spark.sql.Row(b, w(b)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_b",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("_w",
          org.apache.spark.sql.types.DecimalType(12, 6), nullable = false))))
  }

  /** Trained hashed-feature linear classifier — the fastText-shaped quality /
    * language filter of curation pipelines (Joulin et al. 2017's linear core
    * over hashed bag-of-words; the CCNet/GPT-3 "quality classifier" slot),
    * trained IN the engine by distributed full-batch gradient descent and
    * returned as the (bucket, w) weight table (bucket = -1 is the bias).
    *
    * Scale shape (r15): the (doc, bucket, x, y) pair table is corpus-linear,
    * built once, persisted hash-partitioned AND sorted on the doc id; each
    * round is ONE linear job — weight lookup in a ≤ buckets+1 map literal,
    * per-doc margin as a zero-exchange zero-sort window over the cache, then
    * the per-bucket gradient partials (the round's only shuffle, map-side
    * combined to ≤ buckets+1 rows per task) collect to the driver, which is
    * model-sized AT ANY corpus size. The weights live on the driver between
    * rounds (the kmeansTrain precedent) — no per-round broadcast exchange, no
    * per-round checkpoint, no lineage growth. */
  def linearClassifierWeights(docs: DataFrame, idCol: String, textCol: String,
                              label: Column, buckets: Int = 64, rounds: Int = 3,
                              lr: Double = 0.5): DataFrame = {
    val pairs = classifierPairs(docs, idCol, textCol, label, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    classifierTrain(pairs, rounds, lr)
      .select(col("_b").as("bucket"), col("_w").cast("double").as("w"))
  }

  /** Train [[linearClassifierWeights]]'s model and score every document with it:
    * (id, y, score, pred) where score is the 6dp-rounded final margin and pred
    * the sign test on the EXACT decimal margin. Train-then-apply as one lazy
    * plan over one persisted pair table. */
  def linearClassifierScores(docs: DataFrame, idCol: String, textCol: String,
                             label: Column, buckets: Int = 64, rounds: Int = 3,
                             lr: Double = 0.5): DataFrame = {
    val pairs = classifierPairs(docs, idCol, textCol, label, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = classifierTrain(pairs, rounds, lr)
    pairs.join(broadcast(w), "_b")
      .groupBy(col("_doc"))
      .agg(min(col("_y")).as("y"), sum(col("_w") * col("_x")).as("_m"))
      .select(col("_doc").as(idCol), col("y"),
        round(col("_m").cast("double"), 6).as("score"),
        (col("_m") > 0).cast("int").as("pred"))
  }
}
