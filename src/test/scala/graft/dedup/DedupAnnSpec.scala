package graft.dedup

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ann.AnnOps

class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  private val words =
    "spark sql batch stream data table row column sort hash scan merge key value fast slow".split(" ")
  private def doc(rng: scala.util.Random, n: Int): String =
    Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ")

  test("exact dedup keeps smallest id per duplicate group and is idempotent") {
    val df = Seq((1L, "a b c"), (2L, "a  b c "), (3L, "x y z"), (4L, "A B C"))
      .toDF("id", "text")
    val out = DedupOps.exactDedup(df, "id", "text")
    // whitespace + case normalization folds 1,2,4 together; min id survives
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(DedupOps.exactDedup(out, "id", "text").count() == out.count())
  }

  test("minhash signature agreement approximates Jaccard") {
    val rng = new scala.util.Random(7)
    val base = doc(rng, 120)
    val perturbed = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 10 == 0) words(rng.nextInt(words.length)) else w }
      .mkString(" ")
    val df = Seq((1L, base), (2L, perturbed)).toDF("id", "text")
    val sigj = df.select(col("id"),
        DedupOps.minhashSignatureFromHashes(DedupOps.hashedShingles(col("text"), 3), k = 128)
          .as("sig"),
        DedupOps.shingles(col("text"), 3).as("sh"))
      .collect()
    val s1 = sigj.find(_.getLong(0) == 1L).get
    val s2 = sigj.find(_.getLong(0) == 2L).get
    val sig1 = s1.getSeq[Long](1); val sig2 = s2.getSeq[Long](1)
    val sh1 = s1.getSeq[String](2).toSet; val sh2 = s2.getSeq[String](2).toSet
    val trueJ = sh1.intersect(sh2).size.toDouble / sh1.union(sh2).size
    val estJ = sig1.zip(sig2).count { case (a, b) => a == b }.toDouble / sig1.size
    assert(math.abs(trueJ - estJ) < 0.15, s"true=$trueJ est=$estJ")
  }

  test("LSH candidate pairs find planted near-duplicates") {
    val rng = new scala.util.Random(11)
    val docs = (0L until 40L).map(i => (i, doc(rng, 80))) ++
      Seq((100L, "alpha beta gamma delta " * 20), (101L, "alpha beta gamma delta " * 20))
    val df = docs.toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDups(df, "doc_id", "text", threshold = 0.8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 101L)))
  }

  test("simhash: similar docs have small Hamming distance, dissimilar large") {
    val rng = new scala.util.Random(3)
    val base = doc(rng, 200)
    val near = base.split(" ").updated(0, "zzz").mkString(" ")
    val far = Seq.fill(200)("qqq" + rng.nextInt(1000)).mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "text")
      .select(col("id"), DedupOps.simhash32(col("text")).as("h"))
    val h = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 6)
    assert(ham(h(1L), h(3L)) > 6)
  }

  test("ANN LSH recall >= 0.9 vs brute force on planted neighbors") {
    val rng = new scala.util.Random(5)
    val dim = 16
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    // 30 query centers; each center plants 4 near neighbors (center + noise)
    val centers = (0 until 30).map(_ => unit())
    val corpus = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 4).map { j =>
        val v = c.zip(Array.fill(dim)(rng.nextGaussian() * 0.05)).map { case (a, b) => a + b }
        (ci.toLong * 10 + j, v)
      }
    }
    val corpusDf = corpus.toDF("cid", "cv")
    val queryDf = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("qid", "qv")
    val k = 3
    val brute = AnnOps.bruteForceTopK(corpusDf, "cid", "cv", queryDf, "qid", "qv", k)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val lsh = AnnOps.lshTopK(corpusDf, "cid", "cv", queryDf, "qid", "qv", k,
        nPlanes = 8, dim = dim)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = brute.map { case (q, want) =>
      lsh.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.9, s"mean recall $meanRecall")
    // the probed queries are the bucket join's build side whatever the size estimates
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(threshold)
    spark.conf.set(threshold, "-1")
    try {
      val plan = AnnOps.lshTopK(corpusDf, "cid", "cv", queryDf, "qid", "qv", k,
        nPlanes = 8, dim = dim).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") && plan.contains("BuildRight") &&
        !plan.contains("SortMergeJoin"), plan)
    } finally saved.fold(spark.conf.unset(threshold))(spark.conf.set(threshold, _))
  }

  test("IVF assignment routes vectors to their nearest centroid") {
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val df = Seq((1L, Array(0.9, 0.1)), (2L, Array(0.1, 0.9))).toDF("id", "v")
    val got = df.select(col("id"), AnnOps.ivfAssign(col("v"), centroids).as("cid"))
      .as[(Long, Int)].collect().toMap
    assert(got(1L) == 0 && got(2L) == 1)
  }

  test("md5 and xxhash64 strategies find the same near-dup pairs") {
    val rng = new scala.util.Random(3)
    val base = (0L until 20L).map(i => (i, doc(rng, 60)))
    // strong near-copies (one token changed of 60, shingle Jaccard ~0.9): at that
    // similarity banded LSH finds the pair with P > 0.999 under ANY uniform hash, so
    // the two strategies must agree on the full verified-pair set. (Borderline-J pairs
    // are legitimately hash-dependent — equivalence holds by design, not bit-for-bit.)
    val copies = base.take(10).map { case (i, d) =>
      (i + 100L, d.split(" ").zipWithIndex.map { case (w, j) =>
        if (j == 30) "REPLACED" else w
      }.mkString(" "))
    }
    val df = (base ++ copies).toDF("doc_id", "text")
    def pairs(st: DedupOps.HashStrategy) =
      DedupOps.minhashNearDups(df, "doc_id", "text", threshold = 0.8, strategy = st)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
    val planted = (0L until 10L).map(i => (i, i + 100L)).toSet
    val md5Pairs = pairs(DedupOps.Md5Portable)
    val xxPairs = pairs(DedupOps.XxHash64Fast)
    assert(planted.subsetOf(md5Pairs), s"md5 missed ${planted -- md5Pairs}")
    assert(planted.subsetOf(xxPairs), s"xx missed ${planted -- xxPairs}")
    assert(md5Pairs == xxPairs, s"md5=$md5Pairs xx=$xxPairs")
  }

  test("embedding near-dup recall >= 0.9 on planted perturbed copies") {
    val rng = new scala.util.Random(11)
    val dim = 32
    val base = (0L until 60L).map(i => (i, Array.fill(dim)(rng.nextGaussian())))
    // planted near-copies: tiny Gaussian jitter, cos ~0.995
    val planted = base.take(30).map { case (i, v) =>
      (i + 1000L, v.map(x => x + rng.nextGaussian() * 0.05))
    }
    val df = (base ++ planted).toDF("id", "v")
      .withColumn("v", col("v").cast("array<double>"))
    val pairs = DedupOps.embeddingNearDups(df, "id", "v",
        threshold = 0.9, nPlanes = 24, bands = 3, dim = dim)
      .as[(Long, Long, Double)].collect()
    val found = pairs.collect { case (a, b, _) if b == a + 1000L => a }.toSet
    assert(found.size >= 27, s"recall ${found.size}/30") // >= 0.9
    // no false positives: random 32-dim pairs never reach cos 0.9
    assert(pairs.forall { case (a, b, _) => b == a + 1000L })
  }

  test("int8 quantization: bounded reconstruction error, near-1 cosine, constant-safe") {
    val rng = new scala.util.Random(5)
    val vecs = (0L until 40L).map(i => (i, Array.fill(16)(rng.nextGaussian()))) :+
      (99L, Array.fill(16)(2.5)) // constant vector edge case
    val df = vecs.toDF("id", "v").withColumn("v", col("v").cast("array<double>"))
      .withColumn("q", AnnOps.quantizeInt8(col("v")))
      .withColumn("dq", AnnOps.dequantizeInt8(col("q")))
    val rows = df.select(col("id"), col("v"), col("dq"),
        col("q.mn").as("mn"), col("q.mx").as("mx"))
      .as[(Long, Seq[Double], Seq[Double], Double, Double)].collect()
    rows.foreach { case (id, v, dq, mn, mx) =>
      val bound = if (mx == mn) 1e-12 else (mx - mn) / 510.0 + 1e-9
      v.zip(dq).foreach { case (a, b) =>
        assert(math.abs(a - b) <= bound, s"id=$id err ${math.abs(a - b)} > $bound")
      }
    }
    val cos = df.select(AnnOps.cosine(col("v"), col("dq"))).as[Double].collect()
    assert(cos.forall(_ >= 0.999))
  }

  test("IVF top-k finds in-cell neighbors and respects nProbe") {
    val centroids = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    val corpus = Seq(
      (1L, Array(1.0, 0.1)), (2L, Array(1.0, 0.2)),   // cell 0
      (3L, Array(0.1, 1.0)), (4L, Array(0.3, 1.0)),   // cell 1
      (5L, Array(-1.0, 0.1))                          // cell 2
    ).toDF("cid", "cv")
    val queries = Seq((10L, Array(0.9, 0.5))).toDF("qid", "qv")
    // nProbe=2 probes cells 0 and 1; the cell-2 vector must be invisible
    val got = AnnOps.ivfTopK(corpus, "cid", "cv", queries, "qid", "qv",
        centroids, nProbe = 2, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.map(_._2).toSet == Set(1L, 2L, 3L, 4L))
    // ranking matches exact cosine order within the probed cells
    val cos = got.map(_._3)
    assert(cos.sameElements(cos.sorted.reverse))
  }

  test("connected components: min-label clusters over a near-dup edge list") {
    import spark.implicits._
    // components: {1,2,3} (triangle), {10,11,12,13} (chain), {20,21} (pair)
    val edges = Seq((2L, 1L), (2L, 3L), (1L, 3L), (11L, 10L), (12L, 11L),
      (13L, 12L), (21L, 20L)).toDF("id1", "id2")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      12L -> 10L, 13L -> 10L, 20L -> 20L, 21L -> 20L)
    assert(DedupOps.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap == want)
    assert(LabelPropagation.connectedComponents(edges).as[(Long, Long)].collect().toMap == want)
  }

  test("connected components converge on a long chain within maxIter") {
    import spark.implicits._
    // a 12-node path: worst-case diameter for the label-propagation reference
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("id1", "id2")
    for (got <- Seq(DedupOps.connectedComponentsStar(edges),
        LabelPropagation.connectedComponents(edges)).map(_.as[(Long, Long)].collect().toMap))
      assert(got.size == 12 && got.values.forall(_ == 1L))
  }

  test("decontaminate drops normalized matches against the reference set") {
    import spark.implicits._
    val corpus = Seq((1L, "The  QUICK fox"), (2L, "unique doc one"), (3L, "held out item"))
      .toDF("id", "text")
    val ref = Seq((90L, "the quick fox"), (91L, "held   OUT item")).toDF("id", "text")
    val kept = DedupOps.decontaminate(corpus, ref, "text")
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(2L)) // 1 and 3 match after normalization
  }

  test("kmeans step assigns to max-cosine centroid and averages members exactly") {
    import spark.implicits._
    // two orthogonal directions; members are scaled copies (same cosine)
    val rows = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)), (3L, Seq(4.0f, 0.0f)),
      (4L, Seq(0.0f, 3.0f)), (5L, Seq(0.0f, 5.0f)))
      .toDF("vec_id", "v")
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val got = graft.ann.AnnOps.kmeansStep(rows, "v", cents)
      .select(col("cid"), col("n"), element_at(col("centroid"), 1).as("c1"),
        element_at(col("centroid"), 2).as("c2"))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((0L, 3L, 7.0 / 3, 0.0), (1L, 2L, 0.0, 4.0)))
  }

  test("PQ round-trip: decode matches the chosen centroids and sse is the true error") {
    import spark.implicits._
    val cbs = AnnOps.pqCodebooks(m = 4, k = 8, subDim = 4, seed = 11L)
    val rnd = new scala.util.Random(3)
    val rows = (1L to 50L).map(i => (i, Seq.fill(16)(rnd.nextGaussian()))).toDF("id", "v")
    val got = rows
      .withColumn("pq", AnnOps.pqEncode(col("v"), cbs))
      .withColumn("dec", graft.ann.AnnHofReference.pqDecode(col("pq.codes"), cbs))
      .select(col("id"), col("v"), col("pq.codes").as("codes"),
        col("pq.sse").as("sse"), col("dec"))
      .as[(Long, Seq[Double], Seq[Int], Double, Seq[Double])].collect()
    got.foreach { case (_, v, codes, sse, dec) =>
      assert(codes.length == 4 && dec.length == 16)
      // decode really is the per-subspace chosen centroid
      codes.zipWithIndex.foreach { case (c, s) =>
        assert(dec.slice(s * 4, s * 4 + 4) == cbs(s)(c))
      }
      // sse equals the recomputed reconstruction error
      val err = v.zip(dec).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(err - sse) < 1e-9)
      // chosen code is the argmin over its codebook
      codes.zipWithIndex.foreach { case (c, s) =>
        val sub = v.slice(s * 4, s * 4 + 4)
        val dists = cbs(s).map(cb => sub.zip(cb).map { case (a, b) => (a - b) * (a - b) }.sum)
        assert(dists(c) == dists.min)
      }
    }
  }

  test("IVF-ADC cluster recall >= 0.9 on planted neighbors") {
    val rng = new scala.util.Random(9)
    val dim = 16
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = (0 until 20).map(_ => unit())
    val corpus = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 4).map { j =>
        val v = c.zip(Array.fill(dim)(rng.nextGaussian() * 0.05)).map { case (a, b) => a + b }
        (ci.toLong * 10 + j, v)
      }
    }
    val corpusDf = corpus.toDF("cid", "cv")
    val queryDf = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("qid", "qv")
    // cells: 8 random unit directions; codebooks: k-means-trained per subspace on
    // the corpus subvectors (as the pqEncode doc prescribes for production) — an
    // untrained random codebook quantizes too coarsely for ADC to rank neighbors
    val cells = (0 until 8).map(_ => unit().toSeq)
    def trainCodebook(sub: Seq[Array[Double]], k: Int): Seq[Seq[Double]] = {
      // stride-sampled init: consecutive subvectors are same-cluster near-copies,
      // a take(k) init would collapse to ~4 distinct centroids
      var cents = sub.indices.by(sub.size / k).take(k).map(i => sub(i).toSeq)
      (0 until 5).foreach { _ =>
        val assign = sub.groupBy(v => cents.indices.minBy(ci =>
          v.zip(cents(ci)).map { case (a, b) => (a - b) * (a - b) }.sum))
        cents = cents.indices.map(ci => assign.get(ci) match {
          case Some(vs) => vs.transpose.map(xs => xs.sum / xs.size).toSeq
          case None => cents(ci)
        })
      }
      cents
    }
    val cbs = (0 until 4).map { s =>
      trainCodebook(corpus.map(_._2.slice(s * 4, s * 4 + 4)), 16)
    }
    val k = 3
    // quantization collapses a cluster's near-copies onto the same PQ codes, so exact
    // top-3-of-4 agreement with brute force is unattainable BY DESIGN (ties rank by
    // id); the meaningful guarantee for a quantized index is CLUSTER recall: every
    // returned neighbor comes from the query's planted cluster
    val adc = AnnOps.ivfPqTopK(corpusDf, "cid", "cv", queryDf, "qid", "qv",
        cells, cbs, nProbe = 4, k = k)
      .select("qid", "cid").as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    val recalls = centers.indices.map { q =>
      val cluster = (0 until 4).map(j => q.toLong * 10 + j).toSet
      adc.getOrElse(q.toLong, Set.empty).count(cluster).toDouble / k
    }
    val meanRecall = recalls.sum / recalls.size
    assert(meanRecall >= 0.9, s"mean cluster recall $meanRecall")
  }

  test("paragraph dedup strips corpus-wide boilerplate, keeps first occurrence") {
    val sep = "\n\n"
    val docs = Seq(
      (1L, s"cookie banner${sep}unique alpha content"),
      (2L, s"cookie banner${sep}unique beta content"),
      (3L, s"COOKIE   Banner"), // normalization folds with doc 1's banner -> doc vanishes
      (4L, s"unique gamma content${sep}cookie banner${sep}tail part"))
      .toDF("id", "text")
    val out = DedupOps.dedupParagraphs(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == s"cookie banner${sep}unique alpha content") // first keeps it
    assert(out(2L) == "unique beta content")
    assert(!out.contains(3L), "all-duplicate document must disappear")
    assert(out(4L) == s"unique gamma content${sep}tail part") // order preserved
  }

  test("contamination score: planted n-gram overlap fractions") {
    val ref = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // every 5-gram contained -> 1.0
      (2L, "one two three four five six seven"), // disjoint -> 0.0
      (3L, "alpha beta gamma delta epsilon nine ten") // 1 of 3 grams -> 1/3
    ).toDF("id", "text")
    val got = DedupOps.contaminationScore(corpus, ref, "id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.0)
    assert(approx(got(3L), 0.333333, 1e-9)) // round(1/3, 6dp)
  }

  test("trained IVF/PQ (kmeansTrain + pqTrain) recall >= untrained at equal nProbe") {
    val rng = new scala.util.Random(17)
    val dim = 16
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val centers = (0 until 20).map(_ => unit())
    val corpus = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 4).map { j =>
        val v = c.zip(Array.fill(dim)(rng.nextGaussian() * 0.05)).map { case (a, b) => a + b }
        (ci.toLong * 10 + j, v.toSeq)
      }
    }
    val corpusDf = corpus.toDF("cid", "cv")
    val queryDf = centers.zipWithIndex.map { case (c, i) => (i.toLong, c.toSeq) }.toDF("qid", "qv")
    // untrained = the e8 shape: axis-aligned unit cells + seeded Gaussian codebooks
    val untrainedCells = (0 until 8).map(i => Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0))
    val untrainedCbs = AnnOps.pqCodebooks(m = 4, k = 16, subDim = 4, seed = 7L)
    // trained = the e8t shape: spherical k-means cells from a stride-sampled init,
    // per-subspace Lloyd-trained codebooks from the untrained init
    val strideInit = corpus.indices.by(corpus.size / 8).take(8).map(i => corpus(i)._2)
    val trainedCells = AnnOps.kmeansTrain(corpusDf, "cv", strideInit, iters = 4)
    val trainedCbs = AnnOps.pqTrain(corpusDf, "cv", m = 4, k = 16, subDim = 4,
      init = untrainedCbs, iters = 3)
    val k = 3
    def clusterRecall(cells: Seq[Seq[Double]], cbs: Seq[Seq[Seq[Double]]]): Double = {
      val got = AnnOps.ivfPqTopK(corpusDf, "cid", "cv", queryDf, "qid", "qv",
          cells, cbs, nProbe = 2, k = k)
        .select("qid", "cid").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      centers.indices.map { q =>
        val cluster = (0 until 4).map(j => q.toLong * 10 + j).toSet
        got.getOrElse(q.toLong, Set.empty).count(cluster).toDouble / k
      }.sum / centers.size
    }
    val (u, t) = (clusterRecall(untrainedCells, untrainedCbs),
      clusterRecall(trainedCells, trainedCbs))
    assert(t >= u, s"trained recall $t < untrained $u")
    assert(t >= 0.9, s"trained recall $t below 0.9")
  }

  test("pqTrain reduces reconstruction error vs the untrained codebooks") {
    import spark.implicits._
    val rng = new scala.util.Random(13)
    val rows = (1L to 200L).map(i => (i, Seq.fill(16)(rng.nextGaussian()))).toDF("id", "v")
    val untrained = AnnOps.pqCodebooks(m = 4, k = 8, subDim = 4, seed = 31L)
    val trained = AnnOps.pqTrain(rows, "v", m = 4, k = 8, subDim = 4,
      init = untrained, iters = 4)
    def meanSse(cbs: Seq[Seq[Seq[Double]]]): Double =
      rows.select(AnnOps.pqEncode(col("v"), cbs).getField("sse").as("s"))
        .agg(avg(col("s"))).as[Double].collect().head
    val (u, t) = (meanSse(untrained), meanSse(trained))
    assert(t < u * 0.8, s"trained sse $t not < 0.8 x untrained $u")
    // k-means never increases the objective between our measured endpoints
    assert(t > 0.0)
  }

  test("duplicated spans: offset-independent detection, disjoint docs unflagged") {
    // 55-token run (>= k+w-1 = 50 at k=20/w=31) at DIFFERENT offsets: a prefix
    // of doc 1 but mid-document in doc 2 — winnowing's content-defined selection
    // must still collide (a fixed-stride window scheme would not)
    val run = (1 to 55).map(i => s"sharedtok$i").mkString(" ")
    val filler = (1 to 40).map(i => s"pad$i").mkString(" ")
    val df = Seq(
      (1L, s"$run trailing content here"),
      (2L, s"$filler $run different tail"),
      (3L, (1 to 90).map(i => s"unique$i").mkString(" "))).toDF("id", "text")
    val out = DedupOps.duplicatedSpans(df, "id", "text")
      .select(col("id"), col("n_shared_spans")).as[(Long, Long)].collect().toMap
    assert(out(1L) > 0, "doc 1 should share a span")
    assert(out(2L) > 0, "doc 2 should share a span despite the offset")
    assert(out(3L) == 0, "disjoint doc must not be flagged")
    // below the guarantee threshold: a 10-token shared run stays invisible at k=20
    val shortRun = (1 to 10).map(i => s"tiny$i").mkString(" ")
    val df2 = Seq(
      (1L, s"$shortRun ${(1 to 60).map(i => s"a$i").mkString(" ")}"),
      (2L, s"${(1 to 60).map(i => s"b$i").mkString(" ")} $shortRun")).toDF("id", "text")
    val out2 = DedupOps.duplicatedSpans(df2, "id", "text")
      .agg(sum(col("n_shared_spans"))).as[Long].collect().head
    assert(out2 == 0, "sub-threshold runs must not collide at k=20")
  }

  test("bloom decontamination equals the exact anti-join; empty ref passes through") {
    val corpus = (1 to 200).map(i => (i.toLong, s"Document body number $i"))
      .toDF("id", "text")
    val ref = Seq(7L, 42L, 199L).map(i => (i, s"document   BODY  number $i"))
      .toDF("rid", "text") // normalization must still match them
    val exact = DedupOps.decontaminate(corpus, ref, "text")
      .select("id").as[Long].collect().toSet
    val bloom = DedupOps.decontaminateBloom(corpus, ref, "text",
      expectedItems = 100L, fpp = 0.01)
      .select("id").as[Long].collect().toSet
    assert(bloom == exact)
    assert(!bloom.contains(7L) && !bloom.contains(42L) && !bloom.contains(199L))
    assert(bloom.size == 197)
    // tight filter (high collision pressure) still yields the exact result —
    // false positives are verified away, false negatives cannot exist
    val tight = DedupOps.decontaminateBloom(corpus, ref, "text",
      expectedItems = 3L, fpp = 0.5)
      .select("id").as[Long].collect().toSet
    assert(tight == exact)
    // empty reference: corpus unchanged
    val none = DedupOps.decontaminateBloom(corpus, ref.limit(0), "text")
    assert(none.count() == 200L)
  }

  test("span removal: keeper and disjoint docs unchanged, dup loses shared grams") {
    val run = (1 to 55).map(i => s"sharedtok$i").mkString(" ")
    val filler = (1 to 40).map(i => s"pad$i").mkString(" ")
    val df = Seq(
      (1L, s"$run trailing content here"),
      (2L, s"$filler $run different tail"),
      (3L, (1 to 90).map(i => s"unique$i").mkString(" "))).toDF("id", "text")
    val out = DedupOps.removeDuplicatedSpans(df, "id", "text")
      .select(col("id"), col("text"), col("n_tokens_dropped"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // keeper (lowest id) and the disjoint doc pass through byte-identical
    assert(out(1L) == ((s"$run trailing content here", 0L)))
    assert(out(3L)._2 == 0L)
    assert(out(3L)._1 == (1 to 90).map(i => s"unique$i").mkString(" "))
    // the duplicate loses shared grams but keeps its own filler and tail
    val (t2, dropped2) = out(2L)
    assert(dropped2 >= 20L, s"dropped $dropped2")
    assert(t2.contains("pad1") && t2.contains("pad40"))
    assert(t2.contains("different tail"))
    assert(!t2.contains(" " + (18 to 42).map(i => s"sharedtok$i").mkString(" ") + " "),
      "the core of the shared run must be gone")
    // removal is conservative: never drops more tokens than the shared run holds
    assert(dropped2 <= 55L)
  }

  test("semantic dedup drops the higher-id twin, keeps singletons, caps cells") {
    val centroids = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    val df = Seq(
      (1L, Seq(1.0, 0.1, 0.0, 0.0)),   // cell 0
      (2L, Seq(0.99, 0.11, 0.01, 0.0)), // cell 0, near-twin of 1
      (3L, Seq(0.1, 1.0, 0.0, 0.0)),   // cell 1, singleton-ish
      (4L, Seq(1.0, 0.09, -0.01, 0.0)) // cell 0, near-twin of 1 too
    ).toDF("vid", "v")
    val out = DedupOps.semanticDedup(df, "vid", "v", centroids, threshold = 0.99)
      .orderBy(col("vid"))
      .select(col("vid"), col("kept_as")).as[(Long, Long)].collect().toSeq
    // 2 and 4 are dropped against survivor 1; 3 survives (different cell)
    assert(out == Seq((2L, 1L), (4L, 1L)), s"got $out")
    // maxCellSize drops the oversized cell entirely: nothing reported from it
    val capped = DedupOps.semanticDedup(df, "vid", "v", centroids,
      threshold = 0.99, maxCellSize = 2)
    assert(capped.count() == 0, "cell over the cap must produce no pairs")
  }

  test("semantic dedup over kmeansTrain centroids (the production k-sizing path)") {
    val rng = new scala.util.Random(53)
    val base = (1L to 200L).map(i => (i, Seq.fill(16)(rng.nextGaussian())))
    // scaled twins: identical direction -> same trained cell, cosine ~ 1
    val twins = base.take(20).map { case (i, v) => (i + 1000L, v.map(_ * 1.001)) }
    val df = (base ++ twins).toDF("vid", "v")
    val init = base.take(8).map(_._2)
    val cents = AnnOps.kmeansTrain(df, "v", init, iters = 3)
    val out = DedupOps.semanticDedup(df, "vid", "v", cents, threshold = 0.999)
      .select(col("vid"), col("kept_as")).as[(Long, Long)].collect().toMap
    assert(out.keySet == twins.map(_._1).toSet,
      s"exactly the planted twins must drop, got ${out.keySet}")
    assert(out.forall { case (vid, kept) => kept == vid - 1000L },
      "each twin must resolve to its original")
  }

  test("semanticDedupAuto: sqrt(n) k-sizing, trained cells, cap-violation metric") {
    val rng = new scala.util.Random(91)
    val base = (1L to 256L).map(i => (i, Seq.fill(16)(rng.nextGaussian())))
    val twins = base.take(25).map { case (i, v) => (i + 1000L, v.map(_ * 1.0005)) }
    val df = (base ++ twins).toDF("vid", "v")
    val (dropped, stats) = DedupOps.semanticDedupAuto(df, "vid", "v", threshold = 0.999)
    val s = stats.collect().head
    // k = ceil(sqrt(281)) = 17; healthy Gaussian corpus -> no capped cells
    assert(s.getAs[Long]("n") == 281L)
    assert(s.getAs[Int]("k") == 17)
    assert(s.getAs[Long]("n_cells_capped") == 0L)
    assert(s.getAs[Long]("n_vecs_excluded") == 0L)
    val out = dropped.select(col("vid"), col("kept_as")).as[(Long, Long)].collect().toMap
    assert(out.keySet == twins.map(_._1).toSet,
      s"exactly the planted twins must drop, got ${out.keySet}")
    // pathological distribution (all vectors one direction) -> the overflow metric
    // fires instead of silently confining the quadratic
    val collapsed = (1L to 300L).map(i => (i, Seq(1.0, 1e-6 * i, 0.0, 0.0)))
      .toDF("vid", "v")
    val (_, stats2) = DedupOps.semanticDedupAuto(collapsed, "vid", "v",
      threshold = 0.999, cellOverflowFactor = 0.001)
    val s2 = stats2.collect().head
    assert(s2.getAs[Long]("n_vecs_excluded") > 0L)
    assert(s2.getAs[Long]("n_cells_capped") > 0L)
  }

  test("semanticDedupAuto: table assignment == literal, same output") {
    val rng = new scala.util.Random(67)
    val base = (1L to 220L).map(i => (i, Seq.fill(16)(rng.nextGaussian())))
    val twins = base.take(18).map { case (i, v) => (i + 1000L, v.map(_ * 1.0007)) }
    val df = (base ++ twins).toDF("vid", "v")
    val init = base.take(9).map(_._2)
    val cents = AnnOps.kmeansTrain(df, "v", init, iters = 2)
    val centsDf = cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cid", "centroid")
    // assignment parity directly, including ties-to-higher-cid determinism
    val aLit = df.select(col("vid"),
      AnnOps.ivfAssign(col("v"), cents).as("_cell"))
    val aTab = AnnOps.ivfAssignByJoin(df, "vid", "v", centsDf).select("vid", "_cell")
    assert(aLit.exceptAll(aTab).count() == 0 && aTab.exceptAll(aLit).count() == 0)
    // auto: forcing the table path (tableAssignK = 1 < k) keeps output identical
    // to the literal path (tableAssignK huge)
    val (dLit, sLit) = DedupOps.semanticDedupAuto(df, "vid", "v", threshold = 0.999,
      tableAssignK = Int.MaxValue)
    val (dTab, sTab) = DedupOps.semanticDedupAuto(df, "vid", "v", threshold = 0.999,
      tableAssignK = 1)
    assert(dLit.orderBy("vid").collect().toSeq == dTab.orderBy("vid").collect().toSeq)
    assert(sLit.collect().toSeq == sTab.collect().toSeq)
  }

  test("kmeansTrainTable == kmeansTrain bit-identically on the same init (r15)") {
    // the table-form trainer (VERDICT r14 #3: centroids as a k-row DataFrame,
    // assignment via the broadcast-join argmax, update via the same decimal
    // sums) must reproduce the literal trainer EXACTLY — same doubles, not
    // approximately — including the empty-cell keep-previous rule
    val rng = new scala.util.Random(41)
    // all-POSITIVE vectors: assignment is cosine (scale-invariant), so the
    // only reliable never-wins plant for the empty-cell check is a centroid
    // whose cosine with every vector is negative — the all-negative direction
    val df = (1L to 150L).map(i => (i, Seq.fill(12)(math.abs(rng.nextGaussian()))))
      .toDF("vid", "v")
    val init = (1L to 6L).map(i => Seq.fill(12)(math.abs(rng.nextGaussian()))) :+
      Seq.fill(12)(-1.0)
    val lit = AnnOps.kmeansTrain(df, "v", init, iters = 4)
    val initDf = init.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cid", "centroid")
    val tab = AnnOps.kmeansTrainTable(df, "vid", "v", initDf, dim = 12, iters = 4)
      .orderBy("cid").collect().map(_.getSeq[Double](1).toSeq).toSeq
    assert(tab == lit, "table trainer drifted from the literal trainer")
    assert(tab(6) == init(6), "empty cell must keep its previous centroid")
    assert(lit(6) == init(6), "fixture: cell 6 must actually stay empty")
  }

  test("line-frequency dedup removes EVERY occurrence of a common line, keeps blanks") {
    val banner = "click here to subscribe"
    val df = Seq(
      (1L, s"alpha unique one\n$banner\n\nbody of doc one"),
      (2L, s"$banner\nbody of doc two"),
      (3L, "totally unique document three"),
      (4L, banner)) // every content line is boilerplate -> empty text survives as a row
      .toDF("id", "text")
    val out = DedupOps.dedupLinesByFrequency(df, "id", "text", minDocFreq = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getAs[Long]("n_lines_removed"), r.getAs[Long]("n_lines_kept")))
      .toMap
    // the banner vanishes from docs 1, 2 AND 4 (no keep-first); the blank line in
    // doc 1 is structure and survives
    assert(out(1L) == (("alpha unique one\n\nbody of doc one", 1L, 3L)))
    assert(out(2L) == (("body of doc two", 1L, 1L)))
    assert(out(3L) == (("totally unique document three", 0L, 1L)))
    assert(out(4L) == (("", 1L, 0L)))
    // case/whitespace-normalized variants count as the same line
    val df2 = Seq((1L, "Click  HERE to subscribe"), (2L, banner)).toDF("id", "text")
    val out2 = DedupOps.dedupLinesByFrequency(df2, "id", "text", minDocFreq = 2)
    assert(out2.agg(sum("n_lines_removed")).as[Long].head() == 2L)
  }

  test("ivfRangeSearch at full probes equals brute-force range; plan is shuffle-free") {
    import org.apache.spark.sql.functions.col
    val rng = new scala.util.Random(3)
    val vecs = (0L until 60L).map(i =>
      (i, Seq.tabulate(8)(_ => rng.nextGaussian()))).toDF("vid", "v")
    val centroids = (0 until 4).map(i => Seq.tabulate(8)(j => if (j == i) 1.0 else 0.0))
    val corpus = vecs.select(col("vid").as("cid"), col("v").as("cv"))
    val queries = vecs.filter(col("vid") < 5).select(col("vid").as("qid"), col("v").as("qv"))
    val got = AnnOps.ivfRangeSearch(corpus, "cid", "cv", queries, "qid", "qv",
        centroids, nProbe = 4, minCos = 0.3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    val brute = corpus.crossJoin(queries)
      .withColumn("cos", AnnOps.cosine(col("cv"), col("qv")))
      .filter(col("cos") >= 0.3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(got == brute) // nProbe = all cells -> exact range semantics
    val plan = AnnOps.ivfRangeSearch(corpus, "cid", "cv", queries, "qid", "qv",
      centroids, nProbe = 2, minCos = 0.3).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"range search must not shuffle:\n$plan")
  }

  test("incremental near-dedup: shard drops vs corpus and earlier shard docs only") {
    val rng = new scala.util.Random(11)
    val base = doc(rng, 120)
    val tweak = base.split(" ").zipWithIndex
      .map { case (w, i) => if (i % 25 == 0) "changed" else w }.mkString(" ")
    val other = doc(rng, 110)
    val corpus = Seq((1L, base), (2L, doc(rng, 100)), (3L, other), (4L, other))
      .toDF("doc_id", "text") // 3 and 4 are corpus-internal dups: must NOT be reported
    val shard = Seq((10L, tweak), (11L, doc(rng, 90)), (12L, tweak))
      .toDF("doc_id", "text") // 10 matches corpus 1; 12 matches 10 (and corpus 1)
    val out = DedupOps.incrementalNearDups(corpus, shard, "doc_id", "text",
        threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet == Set(10L, 12L), s"got ${out.keySet}")
    assert(out(10L)._1 == 1L && out(10L)._3) // best match is the corpus doc
    // 12 is identical to 10 (j = 1.0) -> beats the corpus match, vs_corpus = false
    assert(out(12L)._1 == 10L && out(12L)._2 == 1.0 && !out(12L)._3)
  }

  test("quality-aware cluster resolution keeps the best-quality member, ties to lower id") {
    val clusters = Seq((10L, 1L), (11L, 1L), (12L, 1L), (20L, 2L), (21L, 2L))
      .toDF("id", "cluster")
    val quality = Seq((10L, 5.0), (11L, 9.0), (12L, 9.0), (20L, 3.0), (21L, 3.0))
      .toDF("id", "q")
    val out = DedupOps.resolveClustersByQuality(clusters, quality, "id", "q")
      .filter(col("keep")).select("id").as[Long].collect().sorted.toSeq
    // cluster 1: 11 and 12 tie at q=9 -> lower id 11; cluster 2: 20/21 tie -> 20
    assert(out == Seq(11L, 20L))
  }

  test("residual IVF-PQ: k per query, deterministic, duplicate vectors tie by id") {
    val dim = 16
    val centroids = (0 until 4).map(i => Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0))
    val cbs = graft.ann.AnnOps.pqCodebooks(m = 2, k = 4, subDim = 8, seed = 3L)
    val vecs = (0 until 30).map { i =>
      (i.toLong, Seq.tabulate(dim)(j => math.sin(i * 7 + j * 3) * 0.5))
    } :+ ((100L, Seq.tabulate(dim)(j => math.sin(0 * 7 + j * 3) * 0.5))) // dup of 0
    val df = vecs.toDF("id", "v")
    val corpus = df.select(col("id").as("cid"), col("v").as("cv"))
    val queries = df.filter(col("id") === 0L)
      .select(col("id").as("qid"), col("v").as("qv"))
    val out = graft.ann.AnnOps.ivfPqResidualTopK(
      corpus, "cid", "cv", queries, "qid", "qv", centroids, cbs, nProbe = 2, k = 40)
      .orderBy("rank").collect()
    assert(out.nonEmpty && out.map(_.getInt(3)).toSeq == (1 to out.length).toSeq)
    // the query vector and its duplicate share identical residual codes ->
    // IDENTICAL adc (ADC is code-determined), adjacent ranks, lower id first
    val byId = out.map(r => r.getLong(1) -> ((r.getDouble(2), r.getInt(3)))).toMap
    assert(byId.contains(0L) && byId.contains(100L), byId.keySet.toString)
    assert(byId(0L)._1 == byId(100L)._1, "dup pair must share the exact adc")
    // equal raw adc orders by id asc (other vectors may share the same codes —
    // 16 code combos for 31 vectors — so adjacency is not guaranteed)
    assert(byId(0L)._2 < byId(100L)._2, "tie resolves to the lower id first")
    // determinism
    val again = graft.ann.AnnOps.ivfPqResidualTopK(
      corpus, "cid", "cv", queries, "qid", "qv", centroids, cbs, nProbe = 2, k = 40)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(again == out.map(_.getLong(1)).toSeq)
  }

  test("sourceSimilarity: mirrored collections read 1.0, disjoint read 0.0") {
    val rng = new scala.util.Random(9)
    val a = (0 until 15).map(i => (s"srcA", doc(rng, 50) + s" tailA$i"))
    val mirror = a.map { case (_, t) => ("srcB", t) } // same doc set, new label
    val c = (0 until 15).map(i => ("srcC", Seq.fill(50)("qq" + rng.nextInt(99)).mkString(" ")))
    val df = (a ++ mirror ++ c).toDF("source", "text")
    val out = DedupOps.sourceSimilarity(df, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("srcA", "srcB")) == 1.0, out.toString)
    assert(out(("srcA", "srcC")) == 0.0 && out(("srcB", "srcC")) == 0.0)
    assert(out.size == 3)
  }

  test("bucket-cap ledgers report what the pair ops silently drop (no silent caps)") {
    val rng = new scala.util.Random(17)
    // 6 identical docs -> every band bucket they share holds 6 members; with
    // maxBucketSize=4 the pair op drops them ALL (silently, by design) and the
    // ledger must say so
    val viral = "subscribe to our newsletter for updates " * 10
    val docs = (0L until 6L).map(i => (i, viral)) ++
      (10L until 20L).map(i => (i, doc(rng, 60)))
    val df = docs.toDF("doc_id", "text")
    val pairs = DedupOps.minhashNearDups(df, "doc_id", "text",
      threshold = 0.8, maxBucketSize = 4)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 < 6L && p._2 < 6L), "over-cap bucket leaked pairs")
    val led = DedupOps.minhashCapStats(df, "doc_id", "text", maxBucketSize = 4)
      .collect().head
    assert(led.getAs[Long]("n_buckets_capped") >= 8L, led.toString) // all 8 bands
    assert(led.getAs[Long]("n_members_excluded") >= 48L, led.toString) // 6 docs x 8 bands
    assert(led.getAs[Long]("max_bucket") >= 6L)
    // uncapped corpus: ledger all-clear
    val clear = DedupOps.minhashCapStats(df, "doc_id", "text", maxBucketSize = 500)
      .collect().head
    assert(clear.getAs[Long]("n_buckets_capped") == 0L)
    assert(clear.getAs[Long]("n_members_excluded") == 0L)
    // simhash twin: identical docs share ALL 4 bands
    val sled = DedupOps.simhashCapStats(df, "doc_id", "text", maxBucketSize = 4)
      .collect().head
    assert(sled.getAs[Long]("n_buckets_capped") >= 4L, sled.toString)
    // embedding twin: identical vectors share every hyperplane band
    val vecs = (0L until 6L).map(i => (i, Seq.fill(64)(0.5))) ++
      (10L until 14L).map(i => (i, Seq.tabulate(64)(j => rng.nextGaussian())))
    val eled = DedupOps.embeddingCapStats(vecs.toDF("id", "v"), "id", "v",
      maxBucketSize = 4).collect().head
    assert(eled.getAs[Long]("n_buckets_capped") >= 3L, eled.toString)
  }

  test("every banded pair op and cap ledger refuses maxBucketSize < 2") {
    // a cap below 2 admits no bucket, so the op would answer with no pairs at all
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d f")).toDF("doc_id", "text")
    val vecs = Seq((1L, Seq.fill(64)(0.5)), (2L, Seq.fill(64)(0.5))).toDF("id", "v")
    val codes = Seq((1L, 0L, 0L), (2L, 0L, 1L)).toDF("id", "hi", "lo")
    val kf = Seq((1L, 0L, 0L, 0L), (2L, 0L, 0L, 1L)).toDF("id", "frame_idx", "hi", "lo")
    val calls: Seq[(String, () => Any)] = Seq(
      "minhashNearDups" -> (() => DedupOps.minhashNearDups(docs, "doc_id", "text",
        maxBucketSize = 1)),
      "incrementalNearDups" -> (() => DedupOps.incrementalNearDups(docs, docs,
        "doc_id", "text", maxBucketSize = 1)),
      "simhashNearDups" -> (() => DedupOps.simhashNearDups(docs, "doc_id", "text",
        maxBucketSize = 1)),
      "embeddingNearDups" -> (() => DedupOps.embeddingNearDups(vecs, "id", "v",
        maxBucketSize = 1)),
      "videoNearDupsFromKeyframes" -> (() =>
        graft.multimodal.MultimodalOps.videoNearDupsFromKeyframes(kf, maxBucketSize = 1)),
      "hamming64Pairs" -> (() => DedupOps.hamming64Pairs(codes, "id", "hi", "lo",
        maxBucketSize = 1)),
      "hamming64IncrementalNearDups" -> (() => DedupOps.hamming64IncrementalNearDups(
        codes, codes, "id", "hi", "lo", maxBucketSize = 1)),
      "minhashCapStats" -> (() => DedupOps.minhashCapStats(docs, "doc_id", "text",
        maxBucketSize = 1)),
      "simhashCapStats" -> (() => DedupOps.simhashCapStats(docs, "doc_id", "text",
        maxBucketSize = 1)),
      "embeddingCapStats" -> (() => DedupOps.embeddingCapStats(vecs, "id", "v",
        maxBucketSize = 1)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("maxBucketSize"), s"$name: ${e.getMessage}")
    }
  }

  test("every search op refuses k < 1 and nProbe < 1") {
    // k = 0 would answer every query with nothing, and nProbe = 0 would give
    // every query zero candidates
    val corpus = Seq((1L, Seq.fill(64)(0.5)), (2L, Seq.fill(64)(-0.25))).toDF("cid", "cv")
    val queries = Seq((1L, Seq.fill(64)(0.5))).toDF("qid", "qv")
    val sq = corpus.select($"cid", AnnOps.quantizeInt8($"cv").as("sq"))
    val cents = Seq(Seq.fill(64)(1.0), Seq.fill(64)(-1.0))
    val books = AnnOps.pqCodebooks(m = 8, k = 4, subDim = 8)
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val textQueries = Seq((1L, "a b")).toDF("qid", "q")
    val stream = queries.withColumn("ts", lit(0L).cast("timestamp"))
    def calls(k: Int, nProbe: Int): Seq[(String, () => Any)] = Seq(
      "bruteForceTopK" -> (() =>
        AnnOps.bruteForceTopK(corpus, "cid", "cv", queries, "qid", "qv", k)),
      "lshTopK" -> (() => AnnOps.lshTopK(corpus, "cid", "cv", queries, "qid", "qv", k)),
      "ivfTopK" -> (() =>
        AnnOps.ivfTopK(corpus, "cid", "cv", queries, "qid", "qv", cents, nProbe, k)),
      "ivfRangeSearch" -> (() => AnnOps.ivfRangeSearch(corpus, "cid", "cv", queries,
        "qid", "qv", cents, nProbe, minCos = 0.5)),
      "sqTopK" -> (() => AnnOps.sqTopK(sq, "cid", "sq", queries, "qid", "qv", k)),
      "ivfSqTopK" -> (() =>
        AnnOps.ivfSqTopK(corpus, "cid", "cv", queries, "qid", "qv", cents, nProbe, k)),
      "ivfPqTopK" -> (() => AnnOps.ivfPqTopK(corpus, "cid", "cv", queries, "qid", "qv",
        cents, books, nProbe, k)),
      "ivfPqResidualTopK" -> (() => AnnOps.ivfPqResidualTopK(corpus, "cid", "cv",
        queries, "qid", "qv", cents, books, nProbe, k)),
      "bm25Retrieve" -> (() => graft.text.TextOps.bm25Retrieve(docs, "doc_id", "text",
        textQueries, "qid", "q", k)),
      "annServeStream" -> (() => graft.streaming.StreamingOps.annServeStream(stream,
        corpus, "qid", "qv", "ts", "cid", "cv", cents, nProbe, k)))
    val noProbe = Set("bruteForceTopK", "lshTopK", "sqTopK", "bm25Retrieve")
    val refusals = calls(k = 0, nProbe = 1).collect {
        case (name, call) if name != "ivfRangeSearch" => (name, "k", call)
      } ++ calls(k = 1, nProbe = 0).collect {
        case (name, call) if !noProbe(name) => (name, "nProbe", call)
      }
    assert(refusals.size == 15)
    for ((name, param, call) <- refusals) {
      val e = withClue(s"$name, $param: ")(intercept[IllegalArgumentException](call()))
      assert(e.getMessage.contains(s"$param ") && e.getMessage.contains(">= 1"),
        s"$name, $param: ${e.getMessage}")
    }
  }

  test("snapshotDiff classifies added/removed/changed/unchanged; normalization-insensitive") {
    val old = Seq((1L, "a b c"), (2L, "keep me"), (3L, "gone soon")).toDF("id", "text")
    val cur = Seq((1L, "a b  C"), // whitespace/case only -> same fingerprint
      (2L, "keep me now"), (4L, "brand new")).toDF("id", "text")
    val out = DedupOps.snapshotDiff(old, cur, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("hamming64Pairs: banded candidates == brute force at radius <= 3 (pigeonhole, r14)") {
    // 200 random 64-bit codes + planted near-pairs at every radius 0..4:
    // banding must find EXACTLY the all-pairs <= 3 set (radius-4 planted
    // pairs prove the verify filter, not the bands, draws the line)
    val rnd = new scala.util.Random(7)
    val base = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 5).flatMap { r =>
      val src = base(r * 13)._2
      var v = src
      val bits = rnd.shuffle((0 until 64).toList).take(r)
      bits.foreach(b => v ^= (1L << b))
      Seq(((1000 + r).toLong, v))
    }
    val all = base ++ planted
    // the dHash/energyHash convention: both halves as NON-NEGATIVE longs
    // (sign-extended halves would inflate bit_count(xor) by the sign bits)
    val df = all.toDF("id", "code")
      .select($"id",
        expr("shiftright(code, 32)").bitwiseAND(lit(0xffffffffL)).as("hi"),
        $"code".bitwiseAND(lit(0xffffffffL)).as("lo"))
    val got = DedupOps.hamming64Pairs(df, "id", "hi", "lo")
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      a <- all; b <- all if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2)
      if h <= 3
    } yield (a._1, b._1, h.toLong)).toSet
    assert(got == want, s"got ${got.size}, want ${want.size}")
    assert(want.exists(_._3 == 3L), "fixture must include a radius-3 pair")
  }

  test("hamming64Pairs at radius 7: 8x8 bands == brute force (pigeonhole)") {
    // the radius-0..4 harness extended to the wide layout: 200 random codes
    // + planted near-pairs at every radius 0..8 — 8x8-bit banding must find
    // EXACTLY the all-pairs <= 7 set (the radius-8 plant proves the verify
    // filter, not the bands, draws the line)
    val rnd = new scala.util.Random(11)
    val base = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 9).map { r =>
      var v = base(r * 17)._2
      rnd.shuffle((0 until 64).toList).take(r).foreach(b => v ^= (1L << b))
      ((1000 + r).toLong, v)
    }
    val all = base ++ planted
    val df = all.toDF("id", "code")
      .select($"id",
        expr("shiftright(code, 32)").bitwiseAND(lit(0xffffffffL)).as("hi"),
        $"code".bitwiseAND(lit(0xffffffffL)).as("lo"))
    val got = DedupOps.hamming64Pairs(df, "id", "hi", "lo", maxHamming = 7)
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      a <- all; b <- all if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2)
      if h <= 7
    } yield (a._1, b._1, h.toLong)).toSet
    assert(got == want, s"got ${got.size}, want ${want.size}")
    assert(want.exists(_._3 == 7L), "fixture must include a radius-7 pair")
    assert(DedupOps.hamming64Pairs(df, "id", "hi", "lo", maxHamming = 4)
      .as[(Long, Long, Long)].collect().toSet == want.filter(_._3 <= 4))
    // out-of-range radius or cap is rejected loudly on every chassis entry,
    // never answered with an empty pair set
    for (h <- Seq(-1, 8)) {
      intercept[IllegalArgumentException](DedupOps.hamming64Pairs(df, "id", "hi", "lo", h))
      intercept[IllegalArgumentException](
        DedupOps.hamming64IncrementalNearDups(df, df, "id", "hi", "lo", h))
      intercept[IllegalArgumentException](DedupOps.hamming64CapStats(df, "id", "hi", "lo", h))
      intercept[IllegalArgumentException](DedupOps.hamming64BandKeys($"hi", $"lo", h))
      intercept[IllegalArgumentException](
        graft.streaming.StreamingOps.codeBandTable(df, "id", "hi", "lo", h))
      intercept[IllegalArgumentException](
        graft.streaming.StreamingOps.codeDedupStream(df, df, "id", "hi", "lo", "id", h))
    }
    for (cap <- Seq(0, 1)) {
      intercept[IllegalArgumentException](
        DedupOps.hamming64Pairs(df, "id", "hi", "lo", maxBucketSize = cap))
      intercept[IllegalArgumentException](
        DedupOps.hamming64IncrementalNearDups(df, df, "id", "hi", "lo", maxBucketSize = cap))
      intercept[IllegalArgumentException](
        DedupOps.hamming64CapStats(df, "id", "hi", "lo", maxBucketSize = cap))
    }
  }

  test("hamming64CapStats at radius 7 audits the 8x8 band keys the pair op drops") {
    // 5 items share code 0 -> every one of the 8 bands has a 5-member bucket;
    // at cap 4 the pair op must drop ALL pairs and the ledger must report
    // exactly 8 capped buckets x 5 members
    import spark.implicits._
    val df = (0L until 5L).map(i => (i, 0L, 0L)).toDF("id", "hi", "lo")
    assert(DedupOps.hamming64Pairs(df, "id", "hi", "lo", maxHamming = 7,
      maxBucketSize = 4).count() == 0L)
    val led = DedupOps.hamming64CapStats(df, "id", "hi", "lo", maxHamming = 7,
      maxBucketSize = 4).collect().head
    assert(led.getAs[Long]("n_buckets_capped") == 8L, led.toString)
    assert(led.getAs[Long]("n_members_excluded") == 40L, led.toString)
  }

  test("hamming64 band layout follows the radius: 4x16 up to 3, 8x8 above") {
    // 5 identical codes at cap 4: the ledger counts one over-cap bucket per
    // band, so the bucket and member totals read off the layout the pair op
    // joins on at that radius
    val df = (0L until 5L).map(i => (i, 0L, 0L)).toDF("id", "hi", "lo")
    def ledger(h: Int) = {
      val r = DedupOps.hamming64CapStats(df, "id", "hi", "lo", maxHamming = h,
        maxBucketSize = 4).collect().head
      (r.getAs[Long]("n_buckets_capped"), r.getAs[Long]("n_members_excluded"))
    }
    assert(ledger(3) == ((4L, 20L)))
    assert(ledger(7) == ((8L, 40L)))
    // the default radius emits exactly the four 16-bit keys (the plan pipe8
    // and mm7 run): bands lo[0:16], lo[16:32], hi[0:16], hi[16:32]
    val code = Seq((0x12345678L, 0x9abcdef0L)).toDF("hi", "lo")
    val keys = code.select(DedupOps.hamming64BandKeys($"hi", $"lo")).head.getSeq[String](0)
    assert(keys == Seq(s"0:${0xdef0}", s"1:${0x9abc}", s"2:${0x5678}", s"3:${0x1234}"))
    val wide = code.select(DedupOps.hamming64BandKeys($"hi", $"lo", 7)).head.getSeq[String](0)
    assert(wide == Seq(0xf0, 0xde, 0xbc, 0x9a, 0x78, 0x56, 0x34, 0x12)
      .zipWithIndex.map { case (v, b) => s"$b:$v" })
  }

  test("hamming64IncrementalNearDups: new items only, best match, d19's new-new rule (r14)") {
    // corpus: 10 (code 0), 11 (code 1 bit). shard: 20 (code 0 -> ties 10/11,
    // keeps min-hamming 10), 21 (code with bit 40 -> matches all at <=2,
    // best = corpus 10 at hamming 1), 22 (far code -> no match),
    // 23 (equals 20's code: new-new pair owned by larger id 23, vs_corpus false)
    val mk = (id: Long, code: Long) =>
      (id, (code >>> 32) & 0xffffffffL, code & 0xffffffffL)
    val corpus = Seq(mk(10L, 0L), mk(11L, 1L)).toDF("id", "hi", "lo")
    val shard = Seq(mk(20L, 0L), mk(21L, 1L << 40), mk(22L, 0x0f0f0f0fL),
      mk(23L, 0L)).toDF("id", "hi", "lo")
    val out = DedupOps.hamming64IncrementalNearDups(corpus, shard, "id", "hi", "lo")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(20L) == ((10L, 0L, true)))  // tie at hamming 0 -> smaller id
    assert(out(21L) == ((10L, 1L, true)))  // best of {10:1, 11:2, 20:1...} -> (1, min id)
    assert(!out.contains(22L))             // no match within radius
    assert(out(23L) == ((10L, 0L, true)))  // 10 beats shard-peer 20 on id tiebreak
    assert(!out.contains(10L) && !out.contains(11L), "corpus rows must not emit")
  }

  test("hamming64IncrementalNearDups at radius 6: banded == brute best-match") {
    // 200 random codes + plants at every radius 0..8, every 10th id the new
    // drop: the wide banding must reproduce the brute-force incremental
    // contract exactly at radius 6 (4-10 is where real re-encodes land; the
    // radius-7/8 plants prove the verify filter draws the line)
    val rnd = new scala.util.Random(19)
    val base = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 9).map { r =>
      var v = base(r * 11)._2
      rnd.shuffle((0 until 64).toList).take(r).foreach(b => v ^= (1L << b))
      ((1000 + r * 10).toLong, v) // all plants are new-drop ids (% 10 == 0)
    }
    val all = base ++ planted
    val df = all.toDF("id", "code")
      .select($"id",
        expr("shiftright(code, 32)").bitwiseAND(lit(0xffffffffL)).as("hi"),
        $"code".bitwiseAND(lit(0xffffffffL)).as("lo"))
    val got = DedupOps.hamming64IncrementalNearDups(
        df.filter($"id" % 10 =!= 0), df.filter($"id" % 10 === 0),
        "id", "hi", "lo", maxHamming = 6)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val codes = all.toMap
    val newIds = all.map(_._1).filter(_ % 10 == 0)
    val want = newIds.flatMap { a =>
      val cands = all.filter { case (b, _) =>
        b != a && (b % 10 != 0 || b < a) &&
          java.lang.Long.bitCount(codes(a) ^ codes(b)) <= 6 }
      if (cands.isEmpty) None
      else {
        val (bid, bcode) = cands.minBy { case (b, c) =>
          (java.lang.Long.bitCount(codes(a) ^ c), b) }
        Some(a -> ((bid, java.lang.Long.bitCount(codes(a) ^ bcode).toLong,
          bid % 10 != 0)))
      }
    }.toMap
    assert(got == want, s"got ${got.size}, want ${want.size}")
    assert(want.exists(_._2._2 >= 4L), "fixture must exercise the wide radius")
  }

  test("sqTopK: scores are the exact integer-fold expansion; planted neighbor ranks 1 (r15)") {
    val rnd = new scala.util.Random(13)
    val dim = 16
    val base = (0L until 40L).map(i => i -> Seq.fill(dim)(rnd.nextGaussian()))
    val query = Seq.fill(dim)(rnd.nextGaussian())
    // plant: 100 ~= the query scaled up (dominates every dot product),
    // 101 = a constant vector (mx == mn -> all-zero codes, score = mn * sum(q))
    val all = base :+ (100L -> query.map(_ * 10.0)) :+ (101L -> Seq.fill(dim)(2.5))
    val corpus = all.toDF("cid", "v")
      .select($"cid", AnnOps.quantizeInt8($"v").as("sq"))
    val queries = Seq((0L, query)).toDF("qid", "qv")
    val got = AnnOps.sqTopK(corpus, "cid", "sq", queries, "qid", "qv", k = all.size)
      .as[(Long, Long, Double, Int)].collect()
    assert(got.length == all.size)
    // brute replay of the expansion, same float-op order, same 6dp round
    def expand(v: Seq[Double]): Double = {
      val mn = v.min; val mx = v.max
      val codes = v.map(x =>
        if (mx == mn) 0 else (math.round((x - mn) / (mx - mn) * 255) - 128).toInt)
      val s1 = query.zip(codes).foldLeft(0.0) { case (a, (q, c)) => a + q * (c + 128).toDouble }
      val s2 = query.foldLeft(0.0)(_ + _)
      BigDecimal((mx - mn) / 255.0 * s1 + mn * s2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val wantScores = all.toMap.view.mapValues(expand).toMap
    got.foreach { case (_, cid, s, _) =>
      assert(s == wantScores(cid), s"cid $cid: got $s want ${wantScores(cid)}")
    }
    assert(got.find(_._4 == 1).get._2 == 100L, "planted neighbor must rank first")
    // ranking matches the score-desc, cid-asc order
    val ranked = got.sortBy(_._4).map(_._2).toSeq
    val wantOrder = all.map(_._1).sortBy(c => (-wantScores(c), c)).toSeq
    assert(ranked == wantOrder)
  }

  test("ivfSqTopK at full probes == flat sqTopK; fewer probes only lose, never invent (r15)") {
    val rnd = new scala.util.Random(29)
    val dim = 16
    val centroids = (0 until 4).map(i =>
      Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0))
    val corpus = (0L until 60L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("cid", "cv")
    val queries = (0L until 3L).map(i => (i, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("qid", "qv")
    val flat = AnnOps.sqTopK(
      corpus.select($"cid", AnnOps.quantizeInt8($"cv").as("sq")),
      "cid", "sq", queries, "qid", "qv", k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    val full = AnnOps.ivfSqTopK(corpus, "cid", "cv", queries, "qid", "qv",
      centroids, nProbe = 4, k = 5)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(full == flat, "full probes must equal the flat search")
    // a pruned search returns a subset of candidates, scored identically
    val pruned = AnnOps.ivfSqTopK(corpus, "cid", "cv", queries, "qid", "qv",
      centroids, nProbe = 1, k = 5)
      .as[(Long, Long, Double, Int)].collect()
    val flatScores = flat.map(r => (r._1, r._2) -> r._3).toMap
    assert(pruned.forall(r => flatScores.get((r._1, r._2)).forall(_ == r._3)))
  }
}
