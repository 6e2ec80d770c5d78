package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import StreamingOps._

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit private def s: org.apache.spark.sql.SparkSession = spark

  test("streaming hourly aggregation finalizes windows under the watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val agg = hourlyAgg(input.toDF().toDF("t", "k", "v"), "t", Seq("k"), "v")
    val q = agg.writeStream.format("memory").queryName("hourly_test")
      .outputMode("append").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 00:05:00"), "a", 1.0),
        (Timestamp.valueOf("2024-01-01 00:45:00"), "a", 2.0))
      q.processAllAvailable()
      // advance the watermark far past hour 0 so it emits
      input.addData((Timestamp.valueOf("2024-01-01 06:00:00"), "a", 9.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT k, hour_ts, n, first_v, sum_v FROM hourly_test").collect()
      assert(rows.length == 1)
      val r = rows.head
      assert(r.getString(0) == "a" && r.getLong(2) == 2)
      assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 3.0)
    } finally q.stop()
  }

  test("streaming de-accumulation carries gauge state, zeroes resets, flags small drops") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val out = StreamingOps.deaccumulate(input.toDS(), resetThreshold = 10.0)
    val q = out.writeStream.format("memory").queryName("deacc_test")
      .outputMode("append").start()
    try {
      input.addData(Obs("g", 1, 10.0), Obs("g", 2, 12.5))
      q.processAllAvailable()
      // continues from state 12.5; the drop 15.0 -> 1.0 (< -resetThreshold) is a
      // reservoir reset -> incr 0; the small drop 2.0 -> 1.5 is suspect -> null + flag
      input.addData(Obs("g", 3, 15.0), Obs("g", 4, 1.0), Obs("g", 5, 2.0), Obs("g", 6, 1.5))
      q.processAllAvailable()
      val rows = spark.sql("SELECT ts, incr, flagged FROM deacc_test ORDER BY ts")
        .as[(Long, Option[Double], Boolean)].collect()
      assert(rows.toSeq == Seq(
        (1L, Some(0.0), false), (2L, Some(2.5), false), (3L, Some(2.5), false),
        (4L, Some(0.0), false), (5L, Some(1.0), false), (6L, None, true)))
    } finally q.stop()
  }

  test("streaming streak detector emits closed runs across batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val out = streakDetector(input.toDS())
    val q = out.writeStream.format("memory").queryName("streak_test")
      .outputMode("append").start()
    try {
      input.addData(Obs("a", 1, 5.0), Obs("a", 2, 5.0), Obs("a", 3, 5.0))
      q.processAllAvailable()
      // run continues across the batch boundary, closes when the value changes
      input.addData(Obs("a", 4, 5.0), Obs("a", 5, 7.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, value, count FROM streak_test").as[(String, Double, Long)].collect()
      assert(rows.toSeq == Seq(("a", 5.0, 4L)))
    } finally q.stop()
  }

  test("streaming sessionize closes a session only when a later event exceeds the gap") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val out = StreamingOps.sessionize(input.toDS(), gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      input.addData(Obs("a", 100, 1.0), Obs("a", 130, 1.0), Obs("b", 100, 1.0))
      q.processAllAvailable()
      // a: 130 -> 500 exceeds the 60s gap: session [100,130] closes, new one opens;
      // b's lone session stays open (never emitted)
      input.addData(Obs("a", 500, 1.0), Obs("a", 520, 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT key, startTs, endTs, n FROM sess_test")
        .as[(String, Long, Long, Long)].collect()
      assert(rows.toSeq == Seq(("a", 100L, 130L, 2L)))
      // the open session closes when a sufficiently-late event arrives
      input.addData(Obs("a", 1000, 1.0))
      q.processAllAvailable()
      val rows2 = spark.sql("SELECT key, startTs, endTs, n FROM sess_test ORDER BY startTs")
        .as[(String, Long, Long, Long)].collect()
      assert(rows2.toSeq == Seq(("a", 100L, 130L, 2L), ("a", 500L, 520L, 2L)))
    } finally q.stop()
  }

  test("streaming exact dedup emits only the first doc per fingerprint") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.dedupExact(
      input.toDF().toDF("t", "id", "text"), "text", "t")
    val q = out.writeStream.format("memory").queryName("sdedup_test")
      .outputMode("append").start()
    try {
      input.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, "The quick  FOX"),
        (Timestamp.valueOf("2024-01-01 00:01:00"), 2L, "the quick fox"),
        (Timestamp.valueOf("2024-01-01 00:02:00"), 3L, "something else"))
      q.processAllAvailable()
      // a later duplicate inside the watermark horizon is also dropped
      input.addData((Timestamp.valueOf("2024-01-01 00:10:00"), 4L, "THE QUICK fox"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM sdedup_test").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming sessionize folds reachable late events and never inverts bounds") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val out = StreamingOps.sessionize(input.toDS(), gapSeconds = 60)
    val q = out.writeStream.format("memory").queryName("sess_late_test")
      .outputMode("append").start()
    try {
      input.addData(Obs("a", 1000, 1.0), Obs("a", 1030, 1.0))
      q.processAllAvailable()
      // late but within 60s of session start: folds in (start moves back, not last)
      input.addData(Obs("a", 950, 1.0))
      q.processAllAvailable()
      // far-late event: emitted as a singleton, open session untouched
      input.addData(Obs("a", 100, 1.0))
      q.processAllAvailable()
      // close the open session
      input.addData(Obs("a", 5000, 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT startTs, endTs, n FROM sess_late_test ORDER BY startTs")
        .as[(Long, Long, Long)].collect()
      assert(rows.forall { case (s, e, _) => e >= s })
      assert(rows.toSeq == Seq((100L, 100L, 1L), (950L, 1030L, 3L)))
    } finally q.stop()
  }

  test("streaming simhash near-dedup suppresses near-identical docs, keeps distinct ones") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, String)]
    val out = StreamingOps.nearDedupSimhash(
      input.toDF().toDF("t", "id", "text"), "text", "t")
    val q = out.writeStream.format("memory").queryName("snear_test")
      .outputMode("append").start()
    try {
      val base = "the quick brown fox jumps over the lazy dog again and again"
      input.addData(
        (Timestamp.valueOf("2024-01-01 00:00:00"), 1L, base),
        (Timestamp.valueOf("2024-01-01 00:01:00"), 2L, base + " "),  // same tokens
        (Timestamp.valueOf("2024-01-01 00:02:00"), 3L, "completely different content here entirely"))
      q.processAllAvailable()
      val ids = spark.sql("SELECT id FROM snear_test").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 3L))
    } finally q.stop()
  }

  test("streaming spike detector confirms 1-pt spikes across batch boundaries") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[Obs]
    val out = StreamingOps.spikeDetector(input.toDS(), Map("s" -> 5.0))
    val q = out.writeStream.format("memory").queryName("spike_test")
      .outputMode("append").start()
    try {
      // flat series with a single 1-pt excursion at ts=3; the confirming
      // points (ts=4,5) arrive in a LATER batch - state must carry the buffer
      input.addData(Obs("s", 1, 10.0), Obs("s", 2, 10.0), Obs("s", 3, 30.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM spike_test").count() == 0) // undecided yet
      input.addData(Obs("s", 4, 10.0), Obs("s", 5, 10.0))
      q.processAllAvailable()
      val hits = spark.sql("SELECT key, ts, value FROM spike_test")
        .as[(String, Long, Double)].collect()
      assert(hits.toSeq == Seq(("s", 3L, 30.0)))
      // a monotone ramp of equally large jumps is NOT a spike (no sign flip)
      input.addData(Obs("s", 6, 20.0), Obs("s", 7, 30.0), Obs("s", 8, 40.0),
        Obs("s", 9, 50.0), Obs("s", 10, 60.0))
      q.processAllAvailable()
      assert(spark.sql("SELECT * FROM spike_test").count() == 1)
    } finally q.stop()
  }

  test("streaming incremental dedup matches arriving docs against the standing corpus") {
    implicit val sq = spark.sqlContext
    val words = "spark sql batch stream data table row column sort hash scan merge".split(" ")
    val rng = new scala.util.Random(5)
    def doc(n: Int): String = Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")
    val base = doc(100)
    val tweaked = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 20 == 0) "changed" else w }.mkString(" ")
    val corpus = Seq((100L, base), (101L, doc(90))).toDF("cid0", "text")
    val bandTable = corpusBandTable(corpus, "cid0", "text")
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = incrementalDedupStream(
      input.toDF().toDF("id", "t", "text"), bandTable, "id", "text", "t",
      threshold = 0.4)
    val q = out.writeStream.format("memory").queryName("incdedup_test")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:10"), tweaked),
        (2L, Timestamp.valueOf("2024-01-01 00:00:20"), doc(80)))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, matched_id, jaccard FROM incdedup_test")
        .as[(Long, Long, Double)].collect().toSeq
      // the tweaked doc matches corpus doc 100 exactly once (bands collapsed);
      // the fresh doc matches nothing
      assert(rows.map(r => (r._1, r._2)) == Seq((1L, 100L)))
      assert(rows.head._3 > 0.4)
    } finally q.stop()
  }

  test("dsirScoreStream: arriving docs score exactly as the batch op's weights imply") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sq = spark.sqlContext
    // target dialect (x y z) vs off-target (p q r), the TextOpsSpec fixture
    val corpus = ((1 to 20).map(i => (i.toLong, "x y z x y z", true)) ++
      (21 to 40).map(i => (i.toLong, "p q r p q r", false)))
      .toDF("id", "text", "is_tgt")
    val bw = TextOps.dsirBucketWeights(corpus, "text", col("is_tgt"), buckets = 64)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.dsirScoreStream(
      input.toDF().toDF("id", "t", "text"), bw, "id", "text", "t", buckets = 64)
    val q = out.writeStream.format("memory").queryName("dsir_stream_test")
      .outputMode("append").start()
    try {
      input.addData(
        (100L, Timestamp.valueOf("2024-01-01 00:00:10"), "x y z x y"),
        (101L, Timestamp.valueOf("2024-01-01 00:00:20"), "p q r p q"))
      // advance the watermark past the first batch so the agg rows emit
      input.addData((999L, Timestamp.valueOf("2024-01-01 02:00:00"), "x"))
      q.processAllAvailable()
      val byId = spark.sql(
        "SELECT id, n_grams, dsir_weight FROM dsir_stream_test WHERE id < 999")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(byId.keySet == Set(100L, 101L))
      assert(byId(100L)._1 == 9L) // 5 unigrams + 4 bigrams
      // target-dialect doc outscores the off-target doc, same as the batch op
      assert(byId(100L)._2 > byId(101L)._2)
    } finally q.stop()
  }

  test("dsirScoreStream: all-unseen-gram docs still emit, scored at the OOV floor") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sq = spark.sqlContext
    val corpus = ((1 to 20).map(i => (i.toLong, "x y z x y z", true)) ++
      (21 to 40).map(i => (i.toLong, "p q r p q r", false)))
      .toDF("id", "text", "is_tgt")
    val bw = TextOps.dsirBucketWeights(corpus, "text", col("is_tgt"), buckets = 64)
    val trained = bw.select("b").as[Long].collect().toSet
    // deterministically pick a word whose unigram bucket misses every trained
    // bucket (the md5 hash is fixed, so the pick is stable across runs)
    val oovWord = (1 to 200).map(i => s"oov$i").find { w =>
      val b = corpus.sparkSession.range(1)
        .select(TextOps.dsirBucket(lit(w), 64).as("b")).as[Long].head()
      !trained.contains(b)
    }.get
    val floor = TextOps.dsirOovLogWeight(corpus, "text", col("is_tgt"), buckets = 64)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.dsirScoreStream(
      input.toDF().toDF("id", "t", "text"), bw, "id", "text", "t", buckets = 64,
      oovLogWeight = floor)
    val q = out.writeStream.format("memory").queryName("dsir_oov_test")
      .outputMode("append").start()
    try {
      input.addData((100L, Timestamp.valueOf("2024-01-01 00:00:10"), oovWord))
      input.addData((999L, Timestamp.valueOf("2024-01-01 02:00:00"), "x"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT id, n_grams, dsir_weight FROM dsir_oov_test WHERE id < 999")
        .as[(Long, Long, Double)].collect()
      // pre-fix, the inner join dropped the doc entirely; now it emits one
      // row whose single gram scores exactly the add-smoothing floor
      assert(rows.length == 1)
      assert(rows.head._2 == 1L)
      assert(math.abs(rows.head._3 - BigDecimal(floor)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    } finally q.stop()
  }

  test("knScoreStream: seen bigrams score from the model, unseen fall back to OOV") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sq = spark.sqlContext
    val corpus = Seq((1L, "a b a b"), (2L, "a c"), (3L, "a b a c b a"))
      .toDF("id", "text")
    val model = TextOps.knBigramModel(corpus, "text")
    val abNll = model.filter(col("a") === "a" && col("b") === "b")
      .select(col("nll").cast("double")).head().getDouble(0)
    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.knScoreStream(
      input.toDF().toDF("id", "t", "text"), model, "id", "text", "t")
    val q = out.writeStream.format("memory").queryName("kn_stream_test")
      .outputMode("append").start()
    try {
      input.addData(
        (100L, Timestamp.valueOf("2024-01-01 00:00:10"), "a b"),
        (101L, Timestamp.valueOf("2024-01-01 00:00:20"), "z z z"))
      input.addData((999L, Timestamp.valueOf("2024-01-01 02:00:00"), "a b"))
      q.processAllAvailable()
      val byId = spark.sql(
        "SELECT id, n_bigrams, kn_score FROM kn_stream_test WHERE id < 999")
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      // one seen bigram -> exactly the model's rounded nll
      assert(byId(100L) == ((1L, math.rint(abNll * 10000) / 10000)))
      // two unseen bigrams -> the OOV fallback mean
      assert(byId(101L) == ((2L, 20.0)))
    } finally q.stop()
  }

  test("linearScoreStream: arriving docs classify as the batch model; OOV and empty docs emit") {
    import spark.implicits._
    import graft.text.TextOps
    implicit val sq = spark.sqlContext
    val docs = (Seq("alpha beta gamma delta", "beta gamma alpha alpha",
        "delta alpha beta beta gamma", "gamma gamma alpha delta").map((_, 1)) ++
      Seq("zebra yak xenon walrus", "yak xenon zebra zebra",
        "walrus zebra yak yak xenon", "xenon xenon zebra walrus", "walrus yak").map((_, 0)))
      .zipWithIndex.map { case ((t, y), i) => (i.toLong, t, y) }
      .toDF("id", "text", "y_in")
    val w = TextOps.linearClassifierWeights(docs, "id", "text",
      col("y_in") === 1, buckets = 32, rounds = 10, lr = 0.05)
    val batch = TextOps.linearClassifierScores(docs, "id", "text",
      col("y_in") === 1, buckets = 32, rounds = 10, lr = 0.05)
      .as[(Long, Int, Double, Int)].collect().map(r => r._1 -> (r._3, r._4)).toMap

    val input = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingOps.linearScoreStream(
      input.toDF().toDF("id", "t", "text"), w, "id", "text", "t", buckets = 32)
    val q = out.writeStream.format("memory").queryName("lin_stream_test")
      .outputMode("append").start()
    try {
      input.addData(
        (0L, Timestamp.valueOf("2024-01-01 00:00:10"), "alpha beta gamma delta"),
        (4L, Timestamp.valueOf("2024-01-01 00:00:20"), "zebra yak xenon walrus"),
        (200L, Timestamp.valueOf("2024-01-01 00:00:30"), "quux corge grault"), // all OOV
        (201L, Timestamp.valueOf("2024-01-01 00:00:40"), "   "))               // token-less
      input.addData((999L, Timestamp.valueOf("2024-01-01 02:00:00"), "x"))
      q.processAllAvailable()
      val byId = spark.sql(
        "SELECT id, n_tokens, score, pred FROM lin_stream_test WHERE id < 999")
        .as[(Long, Long, Double, Int)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(byId.keySet == Set(0L, 4L, 200L, 201L))
      // streaming margin == batch margin up to the batch op's 9dp feature rounding
      assert(math.abs(byId(0L)._2 - batch(0L)._1) < 1e-5)
      assert(math.abs(byId(4L)._2 - batch(4L)._1) < 1e-5)
      assert(byId(0L)._3 == batch(0L)._2 && byId(4L)._3 == batch(4L)._2)
      assert(byId(0L)._3 == 1 && byId(4L)._3 == 0)
      val biasW = w.filter(col("bucket") === -1L).select("w").as[Double].head()
      // unseen-token doc: every token counts; hashed features have no true OOV —
      // each token scores its bucket's weight (0 when the training corpus never
      // occupied it). Replay the margin from the weight table directly.
      val wMap = w.as[(Long, Double)].collect().toMap
      val oovBuckets = Seq("quux", "corge", "grault").toDF("tok")
        .select(TextOps.dsirBucket(col("tok"), 32).as("b")).as[Long].collect()
      val expOov = biasW + 32.0 * oovBuckets.map(wMap.getOrElse(_, 0.0)).sum / 3
      assert(byId(200L)._1 == 3L)
      assert(math.abs(byId(200L)._2 - math.rint(expOov * 1e6) / 1e6) < 1e-9)
      // token-less doc still emits at the bias
      assert(byId(201L) == ((0L, math.rint(biasW * 1e6) / 1e6,
        if (biasW > 0) 1 else 0)))
    } finally q.stop()
  }

  test("annServeStream: streamed queries return exactly the batch ivfTopK result") {
    import spark.implicits._
    import graft.ann.AnnOps
    implicit val sq = spark.sqlContext
    val centroids = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0))
    val rng = new scala.util.Random(7)
    val corpus = (0L until 30L).map { i =>
      val base = centroids((i % 3).toInt)
      (i, base.map(_ + rng.nextGaussian() * 0.3))
    }.toDF("cid", "cv")
    val queries = Seq(
      (100L, Seq(0.9, 0.1, 0.05, 0.0)),
      (101L, Seq(0.0, 0.2, 0.9, 0.1))).toDF("qid", "qv")
    val batch = AnnOps.ivfTopK(corpus, "cid", "cv", queries, "qid", "qv",
      centroids, nProbe = 2, k = 4)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._4) -> (r._2, r._3)).toMap

    val input = MemoryStream[(Long, Timestamp, Seq[Double])]
    val out = StreamingOps.annServeStream(
      input.toDF().toDF("qid", "t", "qv"), corpus,
      "qid", "qv", "t", "cid", "cv", centroids, nProbe = 2, k = 4)
    val q = out.writeStream.format("memory").queryName("ann_serve_test")
      .outputMode("append").start()
    try {
      input.addData(
        (100L, Timestamp.valueOf("2024-01-01 00:00:10"), Seq(0.9, 0.1, 0.05, 0.0)),
        (101L, Timestamp.valueOf("2024-01-01 00:00:20"), Seq(0.0, 0.2, 0.9, 0.1)))
      input.addData((999L, Timestamp.valueOf("2024-01-01 02:00:00"), Seq(1.0, 0.0, 0.0, 0.0)))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT qid, rank, cid, cos FROM ann_serve_test WHERE qid < 999")
        .as[(Long, Int, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(streamed.size == 8) // 2 queries x k=4
      assert(streamed == batch)
    } finally q.stop()
  }

  test("annServeStream: cell skew at the cap stays batch-exact with group-bounded state") {
    import spark.implicits._
    import graft.ann.AnnOps
    implicit val sq = spark.sqlContext
    // adversarial cell-size skew: cell 0 holds 300 of 310 vectors (the shape
    // the IVF cap contract exists for); cells 1/2 hold 5 each
    val centroids = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0),
      Seq(0.0, 0.0, 1.0, 0.0))
    val rng = new scala.util.Random(13)
    val corpus = ((0L until 300L).map { i =>
      (i, centroids(0).map(_ + rng.nextGaussian() * 0.2))
    } ++ (300L until 310L).map { i =>
      (i, centroids(1 + (i % 2).toInt).map(_ + rng.nextGaussian() * 0.2))
    }).toDF("cid", "cv")
    // qMega probes the mega cell; qSmall's nProbe=1 nearest is a small cell,
    // so its candidate set is 5 rows no matter how big cell 0 grows
    val queries = Seq((1L, Seq(0.95, 0.05, 0.0, 0.0)),
      (2L, Seq(0.0, 0.97, 0.1, 0.0))).toDF("qid", "qv")
    val batch = AnnOps.ivfTopK(corpus, "cid", "cv", queries, "qid", "qv",
      centroids, nProbe = 1, k = 3)
      .as[(Long, Long, Double, Int)].collect()
      .map(r => (r._1, r._4) -> (r._2, r._3)).toMap
    val input = MemoryStream[(Long, Timestamp, Seq[Double])]
    val out = StreamingOps.annServeStream(
      input.toDF().toDF("qid", "t", "qv"), corpus,
      "qid", "qv", "t", "cid", "cv", centroids, nProbe = 1, k = 3)
    val q = out.writeStream.format("memory").queryName("ann_skew_test")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:10"), Seq(0.95, 0.05, 0.0, 0.0)),
        (2L, Timestamp.valueOf("2024-01-01 00:00:20"), Seq(0.0, 0.97, 0.1, 0.0)))
      q.processAllAvailable()
      input.addData((999L, Timestamp.valueOf("2024-01-01 02:00:00"),
        Seq(1.0, 0.0, 0.0, 0.0)))
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT qid, rank, cid, cos FROM ann_skew_test WHERE qid < 999")
        .as[(Long, Int, Long, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
      assert(streamed.size == 6) // 2 queries x k=3, skew notwithstanding
      assert(streamed == batch)
      // bounded-state pin: aggregation state rows track OPEN (query,time)
      // groups (the watermark-advancer is the only one still open), never the
      // corpus or the mega cell — candidate buffers die with their group
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"state rows $stateRows should be open groups only")
    } finally q.stop()
  }

  test("streaming keyframe detector == batch mm5 flags across a mid-video batch split") {
    implicit val sq = spark.sqlContext
    import graft.multimodal.MultimodalOps
    // real fixture frames -> the BATCH kernels (walk -> decode -> raster ->
    // native dHash) produce the hashes; the stream twin must reproduce the
    // batch lag-window flags on the in-order feed
    val vids = Seq(3L, 8L)
    val rows = vids.map(v =>
      MultimodalOps.MediaRow(v, "video", MultimodalOps.mm5FixtureVideo(v), Map.empty))
      .toDS()
    val hashes = MultimodalOps.videoGrayRasters(rows)
      .select(org.apache.spark.sql.functions.col("id").as("videoId"),
        org.apache.spark.sql.functions.col("frame_idx").cast("long").as("frameIdx"),
        MultimodalOps.dHash(org.apache.spark.sql.functions.col("gray")).as("dh"))
      .select(org.apache.spark.sql.functions.col("videoId"),
        org.apache.spark.sql.functions.col("frameIdx"),
        org.apache.spark.sql.functions.col("dh.hi").as("hi"),
        org.apache.spark.sql.functions.col("dh.lo").as("lo"))
      .as[StreamingOps.FrameHash].collect().sortBy(f => (f.videoId, f.frameIdx))
    // batch truth: frame 0 or hamming > 10 vs previous frame
    val batchFlags = hashes.groupBy(_.videoId).flatMap { case (v, fs) =>
      fs.sortBy(_.frameIdx).sliding(2).flatMap {
        case Array(a, b) =>
          val ham = java.lang.Long.bitCount(a.hi ^ b.hi) +
            java.lang.Long.bitCount(a.lo ^ b.lo)
          Seq((v, b.frameIdx) -> (if (ham > 10) 1 else 0))
        case _ => Seq.empty
      } ++ Seq((v, 0L) -> 1)
    }.toMap
    val input = MemoryStream[StreamingOps.FrameHash]
    val out = StreamingOps.keyframeStream(input.toDS())
    val q = out.writeStream.format("memory").queryName("keyframe_test")
      .outputMode("append").start()
    try {
      // split MID-VIDEO: frames 0-2 of each video in batch 1, 3-5 in batch 2
      input.addData(hashes.filter(_.frameIdx < 3).toSeq: _*)
      q.processAllAvailable()
      input.addData(hashes.filter(_.frameIdx >= 3).toSeq: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT videoId, frameIdx, isKeyframe FROM keyframe_test")
        .as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      assert(streamed.size == vids.size * 6)
      assert(streamed == batchFlags, "streaming flags drifted from the batch lag window")
      // the shot boundary at frame 3 must have survived the batch split
      vids.foreach(v => assert(streamed((v, 3L)) == 1, s"video $v shot boundary lost"))
      // within-shot frames are not keyframes
      vids.foreach(v => assert(streamed((v, 1L)) == 0 && streamed((v, 4L)) == 0))
      // bounded state: one row per video
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == vids.size.toLong)
    } finally q.stop()
  }

  test("videoHashStream: last emission == batch videoHash64 across a mid-feed split (r14)") {
    implicit val sq = spark.sqlContext
    import graft.multimodal.MultimodalOps
    val rows = Seq(2L, 5L).map(v =>
      MultimodalOps.MediaRow(v, "video", MultimodalOps.mm6FixtureAvi(v), Map.empty))
      .toDS()
    val kf = MultimodalOps.videoKeyframeHashes(MultimodalOps.videoGrayRasters(rows))
    val batchVh = MultimodalOps.videoHash64(kf)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val feed = kf.select(col("id").as("videoId"), col("frame_idx").as("frameIdx"),
        col("hi"), col("lo"))
      .as[StreamingOps.FrameHash].collect().sortBy(f => (f.videoId, f.frameIdx))
    val input = MemoryStream[StreamingOps.FrameHash]
    val q = StreamingOps.videoHashStream(input.toDS())
      .writeStream.format("memory").queryName("vh_stream")
      .outputMode("append").start()
    try {
      // split MID-VIDEO: first keyframe of each video in batch 1, rest in batch 2
      input.addData(feed.filter(_.frameIdx == 0).toSeq: _*)
      q.processAllAvailable()
      input.addData(feed.filter(_.frameIdx != 0).toSeq: _*)
      q.processAllAvailable()
      val last = spark.sql(
          "SELECT videoId, nkf, hi, lo FROM vh_stream")
        .as[(Long, Long, Long, Long)].collect()
        .groupBy(_._1).map { case (v, rs) => v -> rs.maxBy(_._2) }
      last.foreach { case (v, (_, nkf, hi, lo)) =>
        assert(batchVh(v) == ((hi, lo, nkf)),
          s"video $v: streamed ($hi,$lo,$nkf) != batch ${batchVh(v)}")
      }
      assert(last.keySet == Set(2L, 5L))
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows == 2L, "state must be one row per video")
    } finally q.stop()
  }

  test("property: keyframeStream == held-frame model under any batch split and shuffle (r14)") {
    // The bounded-state approximation's EXACT semantics (VERDICT r13 #6),
    // pinned as a property instead of one split case: for ANY assignment of
    // frames to micro-batches and ANY within-batch arrival order, the stream
    // equals the sequential model "sort each (video, batch) slice by
    // frameIdx; compare every frame to the HELD state; state advances only
    // forward (frameIdx >= lastIdx)". Cross-batch stragglers thus compare
    // against the newer held frame and never rewind state — O(videos) state.
    implicit val sq = spark.sqlContext
    (0 until 5).foreach { trial =>
      val rng = new scala.util.Random(4200 + trial)
      val frames: Seq[StreamingOps.FrameHash] =
        (0 until 1 + rng.nextInt(2)).flatMap { v =>
          val n = 3 + rng.nextInt(4)
          var hi = rng.nextLong() & 0xffffffffL
          var lo = rng.nextLong() & 0xffffffffL
          (0 until n).map { f =>
            if (f > 0 && rng.nextBoolean()) { // within-shot: flip <= 3 bits
              (0 until rng.nextInt(4)).foreach { _ =>
                if (rng.nextBoolean()) hi ^= 1L << rng.nextInt(32)
                else lo ^= 1L << rng.nextInt(32) }
            } else if (f > 0) { // shot cut: fresh hash
              hi = rng.nextLong() & 0xffffffffL; lo = rng.nextLong() & 0xffffffffL
            }
            StreamingOps.FrameHash(v.toLong, f.toLong, hi, lo)
          }
        }
      val nBatches = 1 + rng.nextInt(3)
      val assign = frames.map(_ => rng.nextInt(nBatches))
      val batches = (0 until nBatches).map(b =>
        rng.shuffle(frames.zip(assign).collect { case (f, a) if a == b => f }))
      // sequential reference model
      val st = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
      batches.foreach(_.groupBy(_.videoId).toSeq.sortBy(_._1).foreach {
        case (v, fs) => fs.sortBy(_.frameIdx).foreach { f =>
          st.get(v) match {
            case None =>
              expected += ((v, f.frameIdx, 0L, 1))
              st(v) = (f.frameIdx, f.hi, f.lo)
            case Some((li, shi, slo)) =>
              val ham = java.lang.Long.bitCount(shi ^ f.hi) +
                java.lang.Long.bitCount(slo ^ f.lo)
              expected += ((v, f.frameIdx, ham.toLong, if (ham > 10) 1 else 0))
              if (f.frameIdx >= li) st(v) = (f.frameIdx, f.hi, f.lo)
          }
        }
      })
      val input = MemoryStream[StreamingOps.FrameHash]
      val q = StreamingOps.keyframeStream(input.toDS())
        .writeStream.format("memory").queryName(s"kf_prop_$trial")
        .outputMode("append").start()
      try {
        batches.foreach { b =>
          if (b.nonEmpty) { input.addData(b: _*); q.processAllAvailable() }
        }
        val got = spark.sql(
            s"SELECT videoId, frameIdx, hamming, isKeyframe FROM kf_prop_$trial")
          .as[(Long, Long, Long, Int)].collect()
        assert(got.sorted.toSeq == expected.sorted.toSeq,
          s"trial $trial: stream diverged from the held-frame model\n" +
            s"got ${got.sorted.mkString(",")}\nexp ${expected.sorted.mkString(",")}")
      } finally q.stop()
    }
  }

  test("tokenBudgetStream: prefix/boundary rule holds across batch splits; closed stays closed (r15)") {
    implicit val sq = spark.sqlContext
    import StreamingOps.BudgetDoc
    val input = MemoryStream[BudgetDoc]
    // budgets: "a" 10 tokens, "b" 5, "c" absent -> default 0 (never emits)
    val out = StreamingOps.tokenBudgetStream(
      input.toDS(), Map("a" -> 10L, "b" -> 5L))(spark)
    val q = out.writeStream.format("memory").queryName("tbudget_stream")
      .outputMode("append").start()
    try {
      // batch 1: a fills 4+3=7 (both emit); b fills 5 exactly; c drops
      input.addData(
        BudgetDoc(1L, "a", 100L, 4L), BudgetDoc(2L, "a", 200L, 3L),
        BudgetDoc(10L, "b", 100L, 5L), BudgetDoc(20L, "c", 100L, 1L))
      q.processAllAvailable()
      // batch 2: a's id 3 (4 tokens) would cross 10 -> boundary, CLOSES "a";
      // id 4 (1 token) would still fit but arrives after the boundary -> out.
      // b is exactly full: id 11 crosses and closes it.
      input.addData(
        BudgetDoc(3L, "a", 300L, 4L), BudgetDoc(4L, "a", 400L, 1L),
        BudgetDoc(11L, "b", 200L, 1L))
      q.processAllAvailable()
      // batch 3: nothing ever emits from a closed source
      input.addData(BudgetDoc(5L, "a", 500L, 1L), BudgetDoc(12L, "b", 300L, 1L))
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT id, source, nTokens, cumTokens FROM tbudget_stream")
        .as[(Long, String, Long, Long)].collect().sortBy(_._1)
      assert(got.toSeq == Seq(
        (1L, "a", 4L, 4L), (2L, "a", 3L, 7L), (10L, "b", 5L, 5L)),
        got.mkString(", "))
    } finally q.stop()
  }

  test("codeDedupStream: wide-radius catalog matches across batches, multi-band pairs emit once (r15)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // catalog: 10 -> code 0, 11 -> a far code (bit 7 of each byte set)
    val catalog = Seq((10L, 0L, 0L), (11L, 0x80808080L, 0x80808080L))
      .toDF("id", "hi", "lo")
    val bandsWide = StreamingOps.codeBandTable(catalog, "id", "hi", "lo",
      maxHamming = 6)
    val input = MemoryStream[(Long, Timestamp, Long, Long)]
    val out = StreamingOps.codeDedupStream(
      input.toDF().toDF("id", "t", "hi", "lo"), bandsWide,
      "id", "hi", "lo", "t", maxHamming = 6)
    val q = out.writeStream.format("memory").queryName("code_dedup_stream")
      .outputMode("append").start()
    try {
      // 20: 5 bits from catalog 10 (inside radius 6, outside the narrow 3);
      // 21: exact dup of 10 — every band collides, must emit ONE row;
      // 22: 12 bits from everything -> silent
      input.addData(
        (20L, Timestamp.valueOf("2024-01-01 00:00:00"), 0x1fL, 0L),
        (21L, Timestamp.valueOf("2024-01-01 00:00:01"), 0L, 0L))
      q.processAllAvailable()
      input.addData((22L, Timestamp.valueOf("2024-01-01 00:00:02"),
        0x0f0f0000L, 0x0f000000L))
      q.processAllAvailable()
      val got = spark.sql(
          "SELECT id, matched_id, hamming FROM code_dedup_stream")
        .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      assert(got.toSeq == Seq((20L, 10L, 5L), (21L, 10L, 0L)), got.mkString(", "))
    } finally q.stop()
  }
}
