package graft.text

import org.apache.spark.sql.functions._
import graft.SparkSpec

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def fps(texts: (Long, String)*): Map[Long, Seq[Long]] =
    texts.toSeq.toDF("id", "text")
      .select(col("id"), TextOps.winnowingFingerprints(col("text"), k = 5, w = 4).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap

  test("winnowing guarantee: shared run of >= w+k-1 tokens shares a fingerprint") {
    // 8-token shared run (= w+k-1) embedded in different contexts
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val m = fps(
      1L -> s"one two three $shared four five six",
      2L -> s"red green blue $shared yellow purple pink",
      3L -> "completely disjoint vocabulary with no overlap at all here")
    assert(m(1L).toSet.intersect(m(2L).toSet).nonEmpty)
    assert(m(1L).toSet.intersect(m(3L).toSet).isEmpty)
    // fingerprints are sorted and distinct
    assert(m(1L) == m(1L).distinct.sorted)
  }

  test("quality score stays in [0,1] and ranks clean prose above punctuation soup") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the forest " * 8),
      (2L, "!!! ??? ,,, ;;; ... ((( ))) !!! ??? ,,, ;;; ... ((( )))"),
      (3L, "")).toDF("id", "text")
    val m = df.select(col("id"), TextOps.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    assert(m.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(m(1L) > m(2L))
  }

  test("gopher rules: each rule fires on its constructed violator") {
    val goodProse = ("the cat and the dog have settled down with care near " +
      "the old stone house because they want quiet evenings there ") * 5 // ~110 words
    val df = Seq(
      (1L, goodProse),                                     // passes everything
      (2L, "the cat sat with me"),                         // too few words
      (3L, ("xx " * 120).trim),                            // mean word len < 3 + no required words
      (4L, goodProse + " " + ("# " * 30).trim),            // symbol ratio > 0.1
      (5L, (1 to 40).map(i => s"- item $i of the catalog that we have with care").mkString("\n")), // 100% bullet lines
      (6L, goodProse.split(" ").grouped(11).map(_.mkString(" ") + " ...").mkString("\n")), // every line ends ...
      (7L, goodProse + " " + ("12345 " * 40).trim))        // alpha fraction < 0.8
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"), TextOps.gopherRules(col("text")).as("g"))
      .select(col("doc_id"), col("g.pass"), col("g.n_words"), col("g.symbol_ratio"),
        col("g.bullet_frac"), col("g.ellipsis_frac"), col("g.alpha_frac"),
        col("g.mean_word_len"), col("g.required_hits"))
      .as[(Long, Boolean, Int, Double, Double, Double, Double, Double, Int)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2, s"clean prose must pass: ${out(1L)}")
    assert(!out(2L)._2 && out(2L)._3 < 50, "short doc fails on word count")
    assert(!out(3L)._2 && out(3L)._8 < 3.0 && out(3L)._9 < 2,
      "xx-soup fails mean word length and required words")
    assert(!out(4L)._2 && out(4L)._4 > 0.1, "hash soup fails symbol ratio")
    assert(!out(5L)._2 && out(5L)._5 > 0.9, "bullet list fails bullet fraction")
    assert(!out(6L)._2 && out(6L)._6 > 0.3, "ellipsis lines fail ellipsis fraction")
    assert(!out(7L)._2 && out(7L)._7 < 0.8, "digit soup fails alpha fraction")
  }

  test("repetition stats count duplicated and dominant n-grams") {
    // "a b a b a b": bigrams = [a b, b a, a b, b a, a b] -> n=5, all duplicated (5), top=3
    // "one two three four": 3 distinct bigrams, none duplicated
    val df = Seq((1L, "a b a b a b"), (2L, "one two three four"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextOps.repetitionStats(col("text"), 2).as("r"))
      .select(col("doc_id"), col("r.n_grams"), col("r.dup_grams"), col("r.top_gram"))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(got(1L) == ((5L, 5L, 3L)))
    assert(got(2L) == ((3L, 0L, 1L)))
    assert(got(3L) == ((0L, 0L, 0L)))  // fewer tokens than n -> no grams
  }

  test("stratified sampling is deterministic, stratum-dependent, and rate-faithful") {
    val rates = Map("en" -> 0.8, "fr" -> 0.2)
    val df = (1L to 2000L).map(i => (i, if (i % 2 == 0) "en" else "fr"))
      .toDF("id", "lang")
      .withColumn("keep", TextOps.stratifiedSampleFlag(col("id"), col("lang"), rates,
        defaultRate = 0.0))
    val kept = df.filter(col("keep")).groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    // binomial(1000, p): allow +/- 5 sigma
    assert(math.abs(kept("en") - 800.0) < 5 * math.sqrt(1000 * 0.8 * 0.2))
    assert(math.abs(kept("fr") - 200.0) < 5 * math.sqrt(1000 * 0.2 * 0.8))
    // determinism: same ids -> identical decisions on a re-evaluation
    val again = df.drop("keep")
      .withColumn("keep", TextOps.stratifiedSampleFlag(col("id"), col("lang"), rates,
        defaultRate = 0.0))
      .filter(col("keep")).groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(again == kept)
  }

  test("redact scrubs emails, urls, ips, and long digit runs in rule order") {
    val df = Seq(
      (1L, "mail bob.smith+x@corp.example.org now"),
      (2L, "see https://ex.com/a?b=12345678 and http://y.io"),
      (3L, "host 192.168.001.254 port"),
      (4L, "id 1234567 ok 12345 short"),
      (5L, "clean text stays untouched")).toDF("id", "text")
    val got = df.select(col("id"), TextOps.redact(col("text")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "mail <EMAIL> now")
    assert(got(2L) == "see <URL> and <URL>")
    assert(got(3L) == "host <IP> port")
    assert(got(4L) == "id <NUM> ok 12345 short") // < 6 digits survives
    assert(got(5L) == "clean text stays untouched")
  }

  test("chunk packing assigns windows, offsets, and straddle spans deterministically") {
    // budget 10; lang a docs (by id): 4, 8, 10, 3 tokens
    // cum-before: 0, 4, 12, 22 -> packs 0,0,1,2; offsets 0,4,2,2
    // doc 2 (8 toks at offset 4) straddles into pack 1 -> n_packs 2
    val docs = Seq(
      (1L, "a", 4L), (2L, "a", 8L), (3L, "a", 10L), (4L, "a", 3L),
      (5L, "b", 0L), (6L, "b", 25L))
      .toDF("doc_id", "lang", "n_tok")
    val got = PackingOps.chunkPackAssign(docs, Seq("lang"), "doc_id", "n_tok", 10L)
      .select(col("doc_id"), col("pack_id"), col("pack_offset"), col("n_packs"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 0L, 0L, 1L), (2L, 0L, 4L, 2L), (3L, 1L, 2L, 2L), (4L, 2L, 2L, 1L),
      (5L, 0L, 0L, 1L), (6L, 0L, 0L, 3L))) // empty doc spans 1; 25 toks span 3 windows
  }

  test("mixture rates hit the target proportions at the binding stratum") {
    val rates = TextOps.mixtureRates(
      counts = Map("web" -> 1000L, "code" -> 100L, "books" -> 50L),
      weights = Map("web" -> 0.5, "code" -> 0.3, "books" -> 0.2))
    // books binds: scale = 50/0.2 = 250 -> web 0.5*250/1000, code 0.3*250/100, books 1.0
    assert(approx(rates("web"), 0.125))
    assert(approx(rates("code"), 0.75))
    assert(approx(rates("books"), 1.0))
    // expected kept counts realize the 50/30/20 mix
    val kept = Seq(1000 * rates("web"), 100 * rates("code"), 50 * rates("books"))
    assert(approx(kept(0) / kept.sum, 0.5) && approx(kept(2) / kept.sum, 0.2))
    // a stratum missing from counts samples at 0
    assert(TextOps.mixtureRates(Map("a" -> 10L), Map("a" -> 0.5, "b" -> 0.5))("b") == 0.0)
  }

  test("approx_count_distinct tracks exact distinct within 5% (the t10 scale path)") {
    val df = (1L to 5000L).map(i => (i, s"doc body number ${i % 1300}"))
      .toDF("id", "text")
      .withColumn("fp", TextOps.fingerprint(col("text")))
    val (exact, approx) = df
      .agg(countDistinct(col("fp")).cast("double"),
        approx_count_distinct(col("fp")).cast("double"))
      .as[(Double, Double)].collect().head
    assert(exact == 1300.0)
    assert(math.abs(approx - exact) / exact <= 0.05, s"approx $approx vs exact $exact")
  }

  test("tf-idf top-k: corpus-wide terms score zero, rare terms rank first") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "banana banana banana")).toDF("id", "text")
    val out = TextOps.tfIdfTopK(docs, "id", "text", kTerms = 2)
      .as[(Long, String, Double)].collect()
      .groupBy(_._1).view
      .mapValues(_.map(r => (r._2, r._3)).toSeq.sortBy { case (term, s) => (-s, term) })
      .toMap
    val ln3 = math.log(3.0)
    // doc 1: apple tf=2 df=1 -> 2*ln(3); banana df=3 -> tfidf exactly 0
    assert(out(1L).head == ("apple", math.rint(2 * ln3 * 1e6) / 1e6))
    assert(out(1L).map(_._1).toSet == Set("apple", "banana"))
    assert(out(1L).find(_._1 == "banana").get._2 == 0.0)
    // doc 2: cherry (rare) outranks banana (everywhere)
    assert(out(2L).head._1 == "cherry")
    // doc 3: only banana, score 0, still returned (k caps, never pads)
    assert(out(3L) == Seq(("banana", 0.0)))
  }

  test("unigram LM score: rare-token docs score higher, common-token docs lower") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "the the the the"),           // only the commonest token
      (2L, "the zyxwvut"),               // one rare token
      (3L, "zyxwvut qponmlk")            // only rare tokens
    ).toDF("doc_id", "text")
    val out = TextOps.unigramLmScore(docs, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("lm_score"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L)._1 == 4 && out(2L)._1 == 2 && out(3L)._1 == 2)
    // corpus: the x5, zyxwvut x2, qponmlk x1 (N=8)
    val nl = (c: Double) => math.rint(-math.log(c / 8.0) * 1e6) / 1e6
    assert(math.abs(out(1L)._2 - math.rint(nl(5) * 1e4) / 1e4) < 1e-9)
    assert(out(1L)._2 < out(2L)._2 && out(2L)._2 < out(3L)._2)
    // exact decimal mean: (nl(5) + nl(2)) / 2 rounded to 4
    val expected2 = math.rint((nl(5) + nl(2)) / 2 * 1e4) / 1e4
    assert(math.abs(out(2L)._2 - expected2) < 1e-9)
  }

  test("canonical URL: case, www, default port, slash, tracking params, order, fragment") {
    import org.apache.spark.sql.functions.col
    val urls = Seq(
      (1L, "HTTPS://WWW.Example.com:443/a/b/?b=2&utm_source=x&a=1#frag"),
      (2L, "https://example.com/a/b?a=1&b=2"),
      (3L, "http://example.com:80/a/b?b=2&a=1&fbclid=zz"),
      (4L, "https://example.com:8443/a/b"),   // non-default port KEPT
      (5L, "https://example.com/a/b?ref=nav") // all params tracking -> no query
    ).toDF("id", "url")
    val got = urls.select(col("id"), TextOps.canonicalizeUrl(col("url")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "https://example.com/a/b?a=1&b=2")
    assert(got(2L) == "https://example.com/a/b?a=1&b=2")
    assert(got(3L) == "http://example.com/a/b?a=1&b=2")
    assert(got(4L) == "https://example.com:8443/a/b")
    assert(got(5L) == "https://example.com/a/b")
    // dedup collapses 1 and 2 (keep-first), leaves the rest singleton
    val d = TextOps.urlDedup(urls, "id", "url")
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(d("https://example.com/a/b?a=1&b=2") == ((1L, 2L)))
  }

  test("CCNet buckets: per-key terciles, head/middle/tail, both score directions") {
    import graft.text.TextOps
    // 9 docs per lang with scores 1..9: terciles at 3.667/6.333 -> 3/3/3 split
    val df = (for (l <- Seq("en", "fr"); i <- 1 to 9)
      yield (s"$l$i", l, i.toDouble)).toDF("doc_id", "lang", "score")
    val perp = TextOps.perplexityBuckets(df, Seq("lang"), "score")
      .groupBy("lang", "ccnet_bucket").count()
      .as[(String, String, Long)].collect().toSet
    assert(perp == Set(("en","head",3L),("en","middle",3L),("en","tail",3L),
      ("fr","head",3L),("fr","middle",3L),("fr","tail",3L)))
    // lowerIsBetter: score 1 (lowest perplexity) is head
    val h = TextOps.perplexityBuckets(df, Seq("lang"), "score")
      .filter($"doc_id" === "en1").select("ccnet_bucket").as[String].head()
    assert(h == "head")
    // quality direction flipped: score 9 is head
    val hq = TextOps.perplexityBuckets(df, Seq("lang"), "score",
      lowerIsBetter = false)
      .filter($"doc_id" === "en9").select("ccnet_bucket").as[String].head()
    assert(hq == "head")
    // null key forms its own group — nothing is silently dropped
    val withNull = df.union(Seq(("x1", null, 5.0), ("x2", null, 7.0))
      .toDF("doc_id", "lang", "score"))
    val out = TextOps.perplexityBuckets(withNull, Seq("lang"), "score")
    assert(out.count() == 20L)
    assert(out.filter($"lang".isNull && $"ccnet_bucket".isNotNull).count() == 2L)
  }

  test("c4Clean applies every line rule and every page rule") {
    val good = "Here is a perfectly fine sentence today."
    val df = Seq(
      // page keeps: 3 good lines survive; bad lines filtered
      (1L, s"$good\nOnly four words here.\nno punctuation line with many words\n$good\n$good"),
      // javascript line removed -> only 2 kept -> page dropped
      (2L, s"$good\nPlease enable JavaScript to view the comments today.\n$good"),
      // lorem ipsum kills the page even with enough good lines
      (3L, s"$good\n$good\n$good\nThe lorem ipsum placeholder is right here today."),
      // curly brace (code) kills the page
      (4L, s"$good\n$good\n$good\nfunction f() { return 1; }"),
      // question mark and closing quote count as terminal punctuation
      (5L, "Is this a question with enough words?\nHe said \"this quoted sentence has many words.\"\n" + good))
      .toDF("id", "text")
    val out = TextOps.c4Clean(df, "id", "text").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L)._2 == 3L && out(1L)._3)
    assert(out(1L)._1 == s"$good\n$good\n$good")
    assert(out(2L)._2 == 2L && !out(2L)._3)
    assert(out(3L)._2 == 4L && !out(3L)._3) // the lorem line itself passes line rules
    assert(!out(4L)._3)
    assert(out(5L)._2 == 3L && out(5L)._3)
  }

  test("chunkBySentences: offset-stride chunks on sentence boundaries") {
    val text = "one two three. four five six! seven eight nine? ten eleven twelve."
    val out = TextOps.chunkBySentences(Seq((1L, text)).toDF("id", "text"),
        "id", "text", maxTokens = 6)
      .orderBy("chunk_id")
      .select("chunk_id", "n_sentences", "n_tokens", "chunk_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    // 4 sentences of 3 tokens: offsets 0,3,6,9 -> chunks 0,0,1,1
    assert(out == Seq(
      (0L, 2L, 6L, "one two three. four five six!"),
      (1L, 2L, 6L, "seven eight nine? ten eleven twelve.")))
    // a sentence longer than the window stays whole (overflow by one sentence)
    val big = TextOps.chunkBySentences(
      Seq((1L, "a b c d e f g h. x y.")).toDF("id", "text"), "id", "text", 4)
      .orderBy("chunk_id").select("chunk_id", "n_tokens")
      .as[(Long, Long)].collect().toSeq
    assert(big == Seq((0L, 8L), (2L, 2L))) // second sentence starts at offset 8 -> chunk 2
  }

  test("c4Clean plans with zero exchanges (the shuffle-free claim)") {
    val df = Seq((1L, "A sentence that is long enough here.")).toDF("id", "text")
    val plan = TextOps.c4Clean(df, "id", "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"c4Clean must not shuffle:\n$plan")
  }

  test("alphaSampleWeights: alpha<1 boosts tail groups, q sums to 1") {
    val df = (1 to 90).map(i => (i.toLong, "en")) ++
      (1 to 9).map(i => (i.toLong, "es")) ++ Seq((1L, "fr"))
    val out = TextOps.alphaSampleWeights(df.toDF("id", "lang"), "lang", alpha = 0.3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("en")._1 == 90L)
    // head language downsampled, tail boosted
    assert(out("en")._4 < 1.0 && out("fr")._4 > 1.0)
    assert(out("fr")._4 > out("es")._4)
    val qSum = out.values.map(_._3).sum
    assert(math.abs(qSum - 1.0) < 1e-4)
    // alpha = 1 is proportional sampling: boost == 1 everywhere
    val prop = TextOps.alphaSampleWeights(df.toDF("id", "lang"), "lang", alpha = 1.0)
      .collect().map(_.getDouble(4))
    assert(prop.forall(b => math.abs(b - 1.0) < 1e-9))
  }

  test("uniBigrams: unigrams plus adjacent bigrams; short docs degrade cleanly") {
    import spark.implicits._
    val out = Seq((1L, "a b c"), (2L, "solo"), (3L, "  ")).toDF("id", "text")
      .select($"id", TextOps.uniBigrams($"text").as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(out(1L) == Seq("a", "b", "c", "a b", "b c"))
    assert(out(2L) == Seq("solo"))
    assert(out(3L).isEmpty)
  }

  test("dsirWeights: target-like documents outscore off-target documents") {
    import spark.implicits._
    // target domain speaks (x y z), off-target speaks (p q r); the scored pool
    // has one doc of each dialect
    val docs = ((1 to 20).map(i => (i.toLong, "x y z x y z", true)) ++
      (21 to 40).map(i => (i.toLong, "p q r p q r", false)) ++
      Seq((100L, "x y z x y", false), (101L, "p q r p q", false)))
      .toDF("id", "text", "is_tgt")
    val w = TextOps.dsirWeights(docs, "id", "text", col("is_tgt"), buckets = 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(100L) > w(101L),
      s"target-dialect doc must outscore off-target: ${w(100L)} vs ${w(101L)}")
    // every doc is scored, including the target rows themselves
    assert(w.size == 42)
    // n_grams = tokens + bigrams = 5 + 4 for the two probe docs
    val n = TextOps.dsirWeights(docs, "id", "text", col("is_tgt"), buckets = 64)
      .filter(col("id") >= 100L).collect().map(_.getLong(1)).toSeq
    assert(n == Seq(9L, 9L))
  }

  test("bm25Retrieve: self-retrieval ranks the source doc first; k respected") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha alpha common common common words"),
      (3L, "totally unrelated content lives here now"),
      (4L, "beta gamma something else entirely words")).toDF("id", "text")
    val qs = Seq((10L, "alpha beta gamma")).toDF("qid", "qtext")
    val out = TextOps.bm25Retrieve(docs, "id", "text", qs, "qid", "qtext", k = 3)
      .orderBy("rank").collect()
    assert(out.length == 3)
    assert(out.head.getLong(1) == 1L, "doc 1 carries all three query terms")
    val ranks = out.map(_.getInt(3)).toSeq
    assert(ranks == Seq(1, 2, 3))
    // doc 3 shares no term -> never retrieved
    assert(!out.map(_.getLong(1)).contains(3L))
  }

  test("bm25Retrieve rejects parameters that would overflow the score decimal") {
    import spark.implicits._
    // outside k >= 1, k1 >= 0, 0 <= b <= 1 the per-posting contribution
    // overflows decimal(8,6), which with ANSI off is a silent NULL score
    val docs = Seq((1L, "alpha beta")).toDF("id", "text")
    val qs = Seq((10L, "alpha")).toDF("qid", "qtext")
    def run(k: Int = 3, k1: Double = 1.2, b: Double = 0.75) =
      TextOps.bm25Retrieve(docs, "id", "text", qs, "qid", "qtext", k, k1, b)
    intercept[IllegalArgumentException](run(b = 1.5))
    intercept[IllegalArgumentException](run(b = -0.1))
    intercept[IllegalArgumentException](run(k1 = -1))
    intercept[IllegalArgumentException](run(k = 0))
    assert(run(k1 = 0, b = 1).count() == 1L)
  }

  test("bm25Retrieve plan: query sides broadcast; corpus crosses one wide shuffle") {
    import spark.implicits._
    val docs = (1 to 50).map(i => (i.toLong, s"alpha beta word$i tail")).toDF("id", "text")
    val qs = Seq((10L, "alpha beta")).toDF("qid", "qtext")
    val plan = TextOps.bm25Retrieve(docs, "id", "text", qs, "qid", "qtext")
      .queryExecution.executedPlan.toString
    // qterms / dfreq / stats all ride broadcasts
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$plan")
    // no corpus-wide doc-length groupBy: an exchange keyed by the doc id ALONE
    // would be the old dl shuffle (lengths now ride the scan as size(tokens));
    // the only corpus-keyed exchange is the (id, dl, term) postings partial agg
    assert("hashpartitioning\\(id#\\d+L?, \\d+\\)".r.findFirstIn(plan).isEmpty,
      s"corpus doc-length shuffle crept back in:\n$plan")
    assert(plan.contains("hashpartitioning(id#") || plan.contains(", id#"),
      s"postings agg missing:\n$plan")
  }

  test("weightedSample: k rows, weight-proportional, stable across partitioning") {
    import spark.implicits._
    val df = ((1 to 200).map(i => (i.toLong, 1.0)) :+ ((999L, 1e9)))
      .toDF("id", "w")
    val out = TextOps.weightedSample(df, "id", col("w"), k = 20)
      .select("id").as[Long].collect().toSet
    assert(out.size == 20)
    // a weight 1e9 outlier has key ln(u)/1e9 ~ 0 — it must be drawn
    assert(out.contains(999L))
    // determinism: same rows regardless of physical partitioning
    val out2 = TextOps.weightedSample(df.repartition(7), "id", col("w"), k = 20)
      .select("id").as[Long].collect().toSet
    assert(out2 == out)
    // zero/negative weights never win
    val withZero = df.withColumn("w", when($"id" === 999L, -1.0).otherwise($"w"))
    val out3 = TextOps.weightedSample(withZero, "id", col("w"), k = 20)
      .select("id").as[Long].collect().toSet
    assert(!out3.contains(999L))
  }

  test("weightedSample: fewer than k positive-weight rows -> only those rows, no NULL-key leakage") {
    import spark.implicits._
    // 3 positive-weight rows among 50; k = 10 must return exactly the 3
    val df = (1 to 50).map(i => (i.toLong, if (i <= 3) 1.0 else 0.0))
      .toDF("id", "w")
    val out = TextOps.weightedSample(df, "id", col("w"), k = 10)
      .select("id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L))
    // all-nonpositive corpus -> empty sample, not k arbitrary rows
    val none = TextOps.weightedSample(
      df.withColumn("w", lit(-1.0)), "id", col("w"), k = 10).count()
    assert(none == 0L)
  }

  test("shardAssign: positions dense per shard; assignment stable as the corpus grows") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i.toLong, "x")).toDF("id", "lang")
    val out = TextOps.shardAssign(df, "id", nShards = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(3)))
    assert(out.map(_._2).toSet.subsetOf((0L until 4L).toSet))
    // positions are 1..n dense within each shard
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).toSeq)
    }
    // growing the corpus never moves an existing doc's shard
    val bigger = (1 to 400).map(i => (i.toLong, "x")).toDF("id", "lang")
    val shards1 = out.map(r => r._1 -> r._2).toMap
    val shards2 = TextOps.shardAssign(bigger, "id", nShards = 4).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(shards1.forall { case (id, sh) => shards2(id) == sh })
  }

  test("charTrigramLangId: separable character distributions classify correctly") {
    import spark.implicits._
    val docs = ((1 to 10).map(i => (i.toLong, s"abcde edcba bead cab$i", "x")) ++
      (11 to 20).map(i => (i.toLong, s"vwxyz zyxwv wavy yvw$i", "y")) ++
      Seq((99L, "ab", "x"))) // under 3 chars -> absent
      .toDF("id", "text", "lang")
    val out = TextOps.charTrigramLangId(docs, "id", "text", "lang")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(!out.contains(99L))
    assert(out.size == 20)
    assert(out.forall { case (_, (truth, pred)) => truth == pred },
      out.filter { case (_, (t2, p)) => t2 != p }.toString)
    // CJK-vocab boundary: forcing the grid over maxBroadcastGridRows switches
    // the model join from broadcast to shuffle — identical output, and the
    // scoring join must NOT plan a broadcast of the grid
    val fb = TextOps.charTrigramLangId(docs, "id", "text", "lang",
      maxBroadcastGridRows = 1L)
    val fbMap = fb.collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(fbMap == out)
  }

  test("knBigramScore matches a rounding-faithful reference; KN semantics hold") {
    import spark.implicits._
    val corpus = Seq((1L, "a b a b"), (2L, "a c"), (3L, "a b a c b a"))
      .toDF("id", "text")
    val got = TextOps.knBigramScore(corpus, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // reference loop with the op's exact arithmetic + rounding
    def rnd(x: Double, p: Int): BigDecimal =
      BigDecimal(new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(p, java.math.RoundingMode.HALF_UP))
    val docs = Map(1L -> "a b a b", 2L -> "a c", 3L -> "a b a c b a")
    val docPairs = docs.map { case (id, t) =>
      id -> t.split(" ").sliding(2).map(w => (w(0), w(1))).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong } }
    val bg = docPairs.values.flatten
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val fc = bg.groupBy(_._1._1).map { case (a, m) =>
      a -> ((m.values.sum, m.size.toLong)) }
    val ct = bg.groupBy(_._1._2).map { case (b, m) => b -> m.size.toLong }
    val nbig = bg.size.toLong
    val exp = docPairs.map { case (id, ps) =>
      val terms = ps.toSeq.map { case ((a, b), tf) =>
        val (c1, n1fwd) = fc(a)
        val p = (math.max(bg((a, b)) - 0.75, 0.0) / c1) +
          ((0.75 * n1fwd) / c1) * (ct(b).toDouble / nbig)
        (tf, rnd(-math.log(p), 6))
      }
      val n = terms.map(_._1).sum
      val s = terms.map { case (tf, nll) => nll * tf }.sum
      id -> ((n, rnd(s.toDouble / n, 4).toDouble))
    }
    assert(got == exp, s"got $got expected $exp")
    // fluency ordering: a doc of only the corpus's most frequent bigram scores
    // lower (better) than one with the rare bigram
    assert(got(1L)._2 < got(2L)._2)
  }

  test("dsirWeights plan: the bucket-weight table joins back via broadcast") {
    import spark.implicits._
    val docs = (1 to 40).map(i => (i.toLong, s"tok$i alpha beta", i % 2 == 0))
      .toDF("id", "text", "t")
    val plan = TextOps.dsirWeights(docs, "id", "text", col("t"), buckets = 64)
      .queryExecution.executedPlan.toString
    // the `buckets`-row weight table must broadcast into the exploded gram
    // stream — a sort-merge join here would shuffle the corpus a third time
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket weights must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the 1-row totals cross join must broadcast:\n$plan")
  }

  test("bpeTrain: the Sennrich reference corpus learns the classic merges") {
    import spark.implicits._
    // low x5, lower x2, newest x6, widest x3 — the worked example from the
    // paper; ties resolve lexicographically ((e,s) before (s,t) at count 9)
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val merges = TextOps.bpeTrain(docs, "text", nMerges = 5)
      .orderBy("rank")
      .as[(Int, String, String, Long)].collect().toSeq
    assert(merges == Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "est", "</w>", 9L),
      (4, "l", "o", 7L),
      (5, "lo", "w", 7L)))
  }

  test("bpeTrain: batched rounds == sequential rounds on an interacting corpus") {
    import spark.implicits._
    // mixed shape: long chain words (interacting head merges), repeated
    // disjoint words (batchable merges), ties, and rare tails — the corpus is
    // crafted so some rounds batch several merges and others stop at one
    val words = Seq.fill(9)("banana") ++ Seq.fill(7)("bandana") ++
      Seq.fill(7)("cabbage") ++ Seq.fill(5)("deed") ++ Seq.fill(5)("feed") ++
      Seq.fill(3)("gaggle") ++ Seq.fill(3)("haggle") ++ Seq.fill(2)("lower") ++
      Seq.fill(2)("mower") ++ Seq("xyz", "zyx", "yxz")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val seq1 = TextOps.bpeTrain(docs, "text", nMerges = 40, batch = 1)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    val batched = TextOps.bpeTrain(docs, "text", nMerges = 40, batch = 8)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    assert(batched == seq1)
    // and at a batch larger than the whole merge budget
    val wide = TextOps.bpeTrain(docs, "text", nMerges = 12, batch = 64)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    assert(wide == seq1.take(12))
  }

  test("bpeTrain stops when no pairs remain; bpeSegment applies merges in order") {
    import spark.implicits._
    val tiny = Seq((1L, "ab ab")).toDF("id", "text")
    // "ab" = [a, b, </w>]: merges (a,b) -> (ab,</w>) -> exhausted at 2
    val m = TextOps.bpeTrain(tiny, "text", nMerges = 10)
      .orderBy("rank").as[(Int, String, String, Long)].collect().toSeq
    assert(m == Seq((1, "a", "b", 2L), (2, "ab", "</w>", 2L)))
    val seg = Seq((1L, "newest low")).toDF("id", "text")
      .select(TextOps.bpeSegment(col("text"),
        Seq(("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w"))).as("s"))
      .as[Seq[String]].head()
    assert(seg == Seq("n", "e", "w", "est</w>", "low", "</w>"))
  }

  test("linear classifier separates a vocabulary-disjoint corpus and exposes the bias") {
    import spark.implicits._
    // two disjoint vocabularies; labels follow the vocabulary exactly
    val pos = Seq("alpha beta gamma delta", "beta gamma alpha alpha",
      "delta alpha beta beta gamma", "gamma gamma alpha delta")
    val neg = Seq("zebra yak xenon walrus", "yak xenon zebra zebra",
      "walrus zebra yak yak xenon", "xenon xenon zebra walrus", "walrus yak")
    val docs = (pos.map((_, 1)) ++ neg.map((_, 0))).zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }.toDF("id", "text", "y_in")
    val scored = TextOps.linearClassifierScores(docs, "id", "text",
      col("y_in") === 1, buckets = 32, rounds = 10, lr = 0.05)
      .as[(Long, Int, Double, Int)].collect()
    assert(scored.length == 9)
    assert(scored.forall { case (_, y, _, pred) => y == pred },
      s"not separated: ${scored.mkString(", ")}")
    // positive-vocab scores strictly above every negative-vocab score
    val (p, n) = scored.partition(_._2 == 1)
    assert(p.map(_._3).min > n.map(_._3).max)

    val w = TextOps.linearClassifierWeights(docs, "id", "text",
      col("y_in") === 1, buckets = 32, rounds = 10, lr = 0.05)
      .as[(Long, Double)].collect().toMap
    assert(w.contains(-1L)) // the bias row
    assert(w.size <= 33)
    // an untrained model scores everything 0 and predicts the negative class
    val zero = TextOps.linearClassifierScores(docs, "id", "text",
      col("y_in") === 1, buckets = 32, rounds = 0)
      .as[(Long, Int, Double, Int)].collect()
    assert(zero.forall { case (_, _, s, pred) => s == 0.0 && pred == 0 })
  }

  test("tokenBudgetFill: prefix/boundary rule, ledger accounting, window parity (r15)") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val docs = (0L until 120L).map(i =>
      (i, if (i % 3 == 0) "a" else "s", Seq.fill(1 + rnd.nextInt(9))("tok").mkString(" ")))
      .toDF("id", "src", "text")
    val budgets = Map("a" -> 60L, "s" -> 90L)
    val (kept, ledger) = TextOps.tokenBudgetFill(docs, "id", "src", "text", budgets)
    val k = kept.select("id", "src", "n_tokens", "cum_tokens")
      .as[(Long, String, Long, Long)].collect()
    // the kept set is a contiguous PREFIX of each source's key-ordered stream
    // whose inclusive running sum stays within budget — recompute brute-force
    def key(id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"tbudget:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val rows = docs.select("id", "src", "text").as[(Long, String, String)].collect()
      .map { case (i, s, t) => (i, s, t.split("\\s+").count(_.nonEmpty).toLong) }
    val wantKept = rows.groupBy(_._2).toSeq.flatMap { case (s, ds) =>
      val ordered = ds.sortBy(d => (key(d._1), d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      ordered.zip(cums).takeWhile(_._2 <= budgets(s))
        .map { case (d, c) => (d._1, s, d._3, c) }
    }.toSet
    assert(k.toSet == wantKept, s"got ${k.length}, want ${wantKept.size}")
    // ledger: counts/sums match, boundary = first excluded in stream order
    val led = ledger.as[(String, Long, Long, Long, java.lang.Long, java.lang.Long)]
      .collect().map(r => r._1 -> r).toMap
    rows.groupBy(_._2).foreach { case (s, ds) =>
      val ordered = ds.sortBy(d => (key(d._1), d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      val keptN = cums.count(_ <= budgets(s))
      val (_, b, nk, tf, bid, btok) = led(s)
      assert(b == budgets(s) && nk == keptN && tf == cums.take(keptN).lastOption.getOrElse(0L))
      assert(bid == ordered(keptN)._1 && btok == ordered(keptN)._3,
        s"boundary mismatch for $s")
    }
    // growth stability, both halves of the contract:
    // (1) docs inserted AFTER a source's boundary never change its kept set
    val boundaryKeys = rows.groupBy(_._2).map { case (s, ds) =>
      val ordered = ds.sortBy(d => (key(d._1), d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      s -> key(ordered(cums.count(_ <= budgets(s)))._1)
    }
    val lateNew = (200L until 400L)
      .map(i => (i, if (i % 3 == 0) "a" else "s", "tok tok tok"))
      .filter { case (i, s, _) => key(i) > boundaryKeys(s) }
    assert(lateNew.nonEmpty, "fixture must supply post-boundary inserts")
    val (kept2, _) = TextOps.tokenBudgetFill(
      docs.unionByName(lateNew.toDF("id", "src", "text")),
      "id", "src", "text", budgets)
    assert(kept2.select("id", "src", "n_tokens", "cum_tokens")
      .as[(Long, String, Long, Long)].collect().toSet == wantKept,
      "post-boundary growth must not evict or add picks")
    // (2) with ARBITRARY growth, picks before the first inserted key agree
    val anyNew = (200L until 260L).map(i =>
      (i, if (i % 3 == 0) "a" else "s", "tok tok"))
    val minNewKey = anyNew.groupBy(_._2).map { case (s, ds) => s -> ds.map(d => key(d._1)).min }
    val (kept3, _) = TextOps.tokenBudgetFill(
      docs.unionByName(anyNew.toDF("id", "src", "text")),
      "id", "src", "text", budgets)
    val got3 = kept3.select("id", "src", "n_tokens", "cum_tokens")
      .as[(Long, String, Long, Long)].collect().toSet
    val prefixWant = wantKept.filter { case (i, s, _, _) => key(i) < minNewKey(s) }
    val prefixGot = got3.filter { case (i, s, _, _) =>
      i < 200L && key(i) < minNewKey(s) }
    assert(prefixGot == prefixWant, "pre-insertion prefix must be unchanged")
  }

  test("tokenBudgetEpochPlan: whole-epoch/partial/cap/exact-fill branches, ledger parity (r15)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val srcs = Array("cap", "mix", "head", "exact", "none")
    val docs = (0L until 160L).map(i =>
      (i, srcs((i % 5).toInt), Seq.fill(1 + rnd.nextInt(9))("tok").mkString(" ")))
      .toDF("id", "src", "text")
    val rows = docs.as[(Long, String, String)].collect()
      .map { case (i, s, t) => (i, s, t.split("\\s+").count(_.nonEmpty).toLong) }
    val totals = rows.groupBy(_._2).map { case (s, ds) => s -> ds.map(_._3).sum }
    val budgets = Map(
      "cap" -> totals("cap") * 10,                        // full = min(10,3) = 3, capped
      "mix" -> (totals("mix") * 2 + totals("mix") / 2),   // full = 2 + mid-stream partial
      "head" -> totals("head") / 2,                       // full = 0, partial-only
      "exact" -> totals("exact") * 2)                     // full = 2, rem = 0
    val maxE = 3
    val (plan, ledger) = TextOps.tokenBudgetEpochPlan(
      docs, "id", "src", "text", budgets, maxEpochs = maxE)
    // brute-force replay: per-epoch salted key ("e<full+1>:"), integral
    // division, remainder prefix under THAT epoch's shuffle
    def ekey(e: Long, id: Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"tbudget:e$e:$id".getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    case class Want(full: Long, rem: Long,
                    partial: Set[Long], boundary: Option[(Long, Long)])
    val want = rows.groupBy(_._2).map { case (s, ds) =>
      val tot = ds.map(_._3).sum
      val b = budgets.getOrElse(s, 0L)
      val full = math.min(b / tot, maxE.toLong)
      val rem = if (full >= maxE) 0L else b - full * tot
      val ordered = ds.sortBy(d => (ekey(full + 1, d._1), d._1))
      val cums = ordered.scanLeft(0L)(_ + _._3).tail
      val nPart = cums.count(_ <= rem)
      val boundary = if (full >= maxE) None
        else Some((ordered(nPart)._1, ordered(nPart)._3))
      s -> Want(full, rem, ordered.take(nPart).map(_._1).toSet, boundary)
    }
    val gotPlan = plan.select("id", "src", "n_tokens", "n_epochs")
      .as[(Long, String, Long, Long)].collect()
    val wantPlan = rows.flatMap { case (i, s, nt) =>
      val w = want(s)
      val ne = w.full + (if (w.partial(i)) 1L else 0L)
      if (ne >= 1) Some((i, s, nt, ne)) else None
    }.toSet
    assert(gotPlan.toSet == wantPlan, s"plan: got ${gotPlan.length}, want ${wantPlan.size}")
    assert(!gotPlan.exists(_._2 == "none"), "absent source must be dropped")
    assert(gotPlan.filter(_._2 == "cap").forall(_._4 == maxE.toLong))
    assert(gotPlan.filter(_._2 == "exact").forall(_._4 == 2L))
    assert(gotPlan.count(r => r._2 == "mix" && r._4 == 3L) > 0, "mix must have a partial")
    assert(gotPlan.count(r => r._2 == "mix" && r._4 == 2L) > 0, "mix partial must be proper")
    val led = ledger
      .as[(String, Long, Long, Long, Long, Long, java.lang.Long, java.lang.Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(led.keySet == srcs.toSet)
    want.foreach { case (s, w) =>
      val (_, b, tot, full, nPart, filled, bid, btok) = led(s)
      assert(b == budgets.getOrElse(s, 0L) && tot == totals(s) && full == w.full)
      assert(nPart == w.partial.size, s"$s n_partial")
      val partTok = rows.filter(d => d._2 == s && w.partial(d._1)).map(_._3).sum
      assert(filled == w.full * totals(s) + partTok, s"$s tokens_filled")
      (w.boundary, Option(bid)) match {
        case (Some((i, t)), Some(gi)) => assert(gi == i && btok == t, s"$s boundary")
        case (None, None)             => // capped: no boundary by design
        case other                    => fail(s"$s boundary mismatch: $other")
      }
    }
    // the capped source underfills and reports WHY (full == maxEpochs, null boundary)
    val (_, bc, totC, fullC, nPartC, filledC, bidC, _) = led("cap")
    assert(fullC == maxE.toLong && nPartC == 0L && filledC == maxE * totC &&
      filledC < bc && bidC == null)
    // the partial epoch is epoch-(full+1)'s OWN shuffle, not epoch 1's:
    // mix's partial prefix under the e3 key differs from the e1-key prefix
    val mixDocs = rows.filter(_._2 == "mix")
    val e1Order = mixDocs.sortBy(d => (ekey(1, d._1), d._1)).map(_._1).toSeq
    val e3Order = mixDocs.sortBy(d => (ekey(3, d._1), d._1)).map(_._1).toSeq
    assert(e1Order != e3Order, "epoch salts must re-shuffle the stream")
  }

  test("tokenCount (regexp_count form) == size(tokens()) on adversarial strings") {
    // r15 pin: tokenCount switched from materializing the token array to
    // counting \S+ runs — the two must agree on every whitespace shape,
    // including empty, all-whitespace, tabs/newlines, leading/trailing
    // runs, punctuation-only tokens, and null
    val rows = Seq(
      "a b c", "  leading", "trailing  ", "   ", "", "one",
      "a\tb\nc\r\nd", "a  b   c", "!!! ,,, x", "ab\fc",
      "multi  \n\n  gap", null.asInstanceOf[String])
    val df = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"), TextOps.tokenCount(col("text")).as("fast"),
        size(TextOps.tokens(col("text"))).as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(1) == r.isNullAt(2), s"null mismatch at id=${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(r.getInt(1) == r.getInt(2),
          s"count mismatch at id=${r.getLong(0)}: ${r.getInt(1)} vs ${r.getInt(2)}")
    }
  }

  test("trigram langid argmax (min-struct form) matches the row_number contract") {
    // r15 pin: the per-doc argmax switched from a row_number window
    // (_s desc, _ml asc) to min(struct(-_s, _ml)); plant an exact score TIE
    // so the _ml-ascending tiebreak is exercised, not just the max
    val docs = Seq(
      (1L, "aaab", "en"),   // trigrams aaa, aab
      (2L, "aaab", "fr"),   // identical text -> en and fr models are IDENTICAL
      (3L, "zzzq", "de")
    ).toDF("doc_id", "text", "lang")
    val out = TextOps.charTrigramLangId(docs, "doc_id", "text", "lang")
      .orderBy("doc_id").collect()
    // en and fr have identical count tables and totals, so every doc's
    // en-score EXACTLY equals its fr-score -> the winner must be the
    // lexicographically SMALLEST lang (the old window's _ml-ascending
    // tiebreak)
    assert(out(0).getString(2) == "en", "ties must break to the smallest lang id")
    assert(out(1).getString(2) == "en", "ties must break to the smallest lang id")
    assert(out(2).getString(2) == "de", "doc3 must still match its own model")
  }
}
