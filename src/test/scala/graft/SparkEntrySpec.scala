package graft

/** Driver-contract smoke tests: the flagship `entry` must return rows at sf0.001,
  * and every declared query must have either an oracle or a documented rows-only
  * rationale (w13/clim1 — see SURVEY §2 oracle-coverage note). */
class SparkEntrySpec extends SparkSpec {

  test("entry returns rows at sf0.001 (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
  }

  test("loadTable normalizes every historical events ts encoding to TimestampType") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.TimestampType
    // The harness has regenerated testdata with different parquet ts encodings
    // (int64-nanos in r1-r7, timestamp[us] NTZ from r8). The loader must survive both.
    val base = java.nio.file.Files.createTempDirectory("events-enc").toString
    val row = spark.sql(
      "SELECT CAST(1 AS BIGINT) AS event_id, TIMESTAMP'2024-01-15 06:30:00' AS ts0, " +
      "CAST(7 AS BIGINT) AS user_id, 'click' AS event_type, 42.0 AS value, '{}' AS props")

    // (a) raw int64 nanos (what nanosAsLong decodes TIMESTAMP(NANOS) to)
    row.select(col("event_id"), (unix_timestamp(col("ts0")) * 1000000000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$base/long/events.parquet")
    // (b) µs NTZ (current testdata: isAdjustedToUTC=false)
    row.select(col("event_id"), col("ts0").cast("timestamp_ntz").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$base/ntz/events.parquet")
    // (c) µs LTZ
    row.select(col("event_id"), col("ts0").as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$base/ltz/events.parquet")

    for (enc <- Seq("long", "ntz", "ltz")) {
      val df = SparkEntry.loadTable(spark, s"$base/$enc", "events")
      assert(df.schema("ts").dataType == TimestampType, s"enc=$enc")
      val s = df.select(unix_timestamp(col("ts"))).head().getLong(0)
      assert(s == 1705300200L, s"enc=$enc epoch=$s") // 2024-01-15T06:30:00Z
    }
  }

  test("events ts predicates push to the parquet scan (µs-native read, no adapter expr)") {
    // With timestamp[us] testdata read natively there is no conversion expression
    // on ts, so the p2 time-bounds filter must reach the scan as PushedFilters —
    // the plan improvement the r8 verdict predicted; pinned so a loader change
    // can't silently regress it back to a post-scan filter.
    val df = SparkEntry.queries("p2_time_filter")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(ts,") && plan.contains("LessThan(ts,"),
      plan.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("every query has an oracle except the documented rows-only entries") {
    // w13/clim1: libm-exp 1-ulp parity (golden-pinned in KernelsSpec);
    // d2x: Spark-seeded xxhash64 has no cross-engine replica BY DESIGN — pair-parity
    // with the md5 path is pinned in DedupAnnSpec (the production-hash bench entry);
    // e8t: multi-round k-means training has no tractable SQL oracle — trained >=
    // untrained recall pinned in DedupAnnSpec (e8 is the oracle-checked twin);
    // d15: positional-argmin rightmost-tie rule has no portable SQL twin —
    // d13 is the oracle-checked detection path over the same fingerprints
    // (removal semantics pinned in WinnowSelectPosSpec + DedupAnnSpec);
    // t16: iterative BPE training — each round's pair counts depend on every
    // earlier merge's rewrite, no tractable SQL oracle; the classic Sennrich
    // worked example is pinned bit-exactly in TextOpsSpec.
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("w13_gauss_gap", "clim1_outlier_chain",
      "d2x_minhash_xxhash", "e8t_ivfpq_trained", "d15_span_removal",
      "t16_bpe_train"),
      s"got $noOracle")
    // no orphan oracles either (an oracle without a query never gets checked)
    val orphan = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphan.isEmpty, s"orphan oracles: $orphan")
  }

  test("selectQueries rejects an unknown name, naming it") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Seq("e10_bm25", "e10_bm52")))
    assert(e.getMessage.contains("e10_bm52") && !e.getMessage.contains("e10_bm25"), e.getMessage)
    assert(SparkEntry.selectQueries(Seq("e10_bm25")).keySet == Set("e10_bm25"))
    assert(SparkEntry.selectQueries(Nil).keySet == SparkEntry.queries.keySet)
  }
}
