package graft

import graft.asof.{AsOfJoin, AsOfMerge}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Catalyst-native merge exec (v2) must be indistinguishable from the
  * built-ins formulation (v1) — on hand fixtures, on the driver testdata
  * shape, with tolerance, and with tie-break columns. */
class AsOfMergeSpec extends SparkSpec {

  private def probeDf: DataFrame = {
    import spark.implicits._
    Seq(
      ("a", "2024-01-01 10:00:00", 1L),
      ("a", "2024-01-01 11:00:00", 2L),
      ("a", "2024-01-01 12:00:00", 3L),
      ("b", "2024-01-01 10:30:00", 4L),
      ("c", "2024-01-01 09:00:00", 5L) // entity with no build rows
    ).toDF("entity", "ts_s", "pid")
      .select(col("entity"), col("ts_s").cast("timestamp").as("ts"), col("pid"))
  }

  private def buildDf: DataFrame = {
    import spark.implicits._
    Seq(
      ("a", "2024-01-01 09:30:00", 10L, 1.0),
      ("a", "2024-01-01 11:00:00", 11L, 2.0), // equal-ts must be visible
      ("a", "2024-01-01 11:00:00", 12L, 3.0), // tie → larger bid wins
      ("b", "2024-01-01 10:00:00", 13L, 4.0),
      ("d", "2024-01-01 08:00:00", 14L, 5.0) // build-only entity
    ).toDF("entity", "ts_s", "bid", "v")
      .select(col("entity"), col("ts_s").cast("timestamp").as("ts"), col("bid"), col("v"))
  }

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).count() == 0, "v1 rows missing from v2")
    assert(b.exceptAll(a).count() == 0, "v2 rows missing from v1")
  }

  test("null event times never match in the exec, both directions (≡ v1)") {
    val probeN = probeDf.unionByName(
      probeDf.limit(1).select(col("entity"), expr("cast(null as timestamp)").as("ts"),
        (col("pid") + 100L).as("pid")))
    val buildN = buildDf.unionByName(
      buildDf.limit(1).select(col("entity"), expr("cast(null as timestamp)").as("ts"),
        (col("bid") + 100L).as("bid"), col("v")))
    for (dir <- Seq("backward", "forward")) {
      val (v1, v2) =
        if (dir == "backward")
          (AsOfJoin.backward(probeN, buildN, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid")),
            AsOfMerge.backward(probeN, buildN, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid")))
        else
          (AsOfJoin.forward(probeN, buildN, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid")),
            AsOfMerge.forward(probeN, buildN, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid")))
      assertSame(v1, v2)
      // the null-ts probe row yields no match
      assert(v2.where(col("pid") > 100L).select(col("asof_ts")).first().isNullAt(0), dir)
    }
  }

  test("nearest merge exec ≡ nearest window formulation (ties, tolerance, nulls)") {
    val sq = spark
    import sq.implicits._
    // extra probes: 10:50 makes the FORWARD candidate strictly closer
    // (11:00 at 10m vs 09:30 at 80m) — the head-peek branch must win
    val probes = probeDf.unionByName(
      Seq(("a", "2024-01-01 10:50:00", 6L)).toDF("entity", "ts_s", "pid")
        .select(col("entity"), col("ts_s").cast("timestamp").as("ts"), col("pid")))
    // null-ts rows on both sides: never match, never corrupt neighbors
    val probeN = probes.unionByName(
      probes.limit(1).select(col("entity"), expr("cast(null as timestamp)").as("ts"),
        (col("pid") + 100L).as("pid")))
    val buildN = buildDf.unionByName(
      buildDf.limit(1).select(col("entity"), expr("cast(null as timestamp)").as("ts"),
        (col("bid") + 100L).as("bid"), col("v")))
    val v1 = AsOfJoin.nearest(probeN, buildN, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid"))
    val v2 = AsOfMerge.nearest(probeN, buildN, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid"))
    assertSame(v1, v2)
    // exact match at 11:00 wins outright; backward tie pick = largest bid
    assert(v2.where(col("pid") === 2L).select(col("bid")).first().getLong(0) == 12L)
    // forward candidate wins at 10:50 (head peek): smallest bid at 11:00
    assert(v2.where(col("pid") === 6L).select(col("bid")).first().getLong(0) == 11L)
    // null-ts probe yields no match
    assert(v2.where(col("pid") > 100L).select(col("asof_ts")).first().isNullAt(0))
    val v1t = AsOfJoin.nearest(probeDf, buildDf, "entity", "ts", Seq("bid", "v"),
      toleranceSec = 1200.0, buildOrder = Seq("bid"))
    val v2t = AsOfMerge.nearest(probeDf, buildDf, "entity", "ts", Seq("bid", "v"),
      toleranceSec = 1200.0, buildOrder = Seq("bid"))
    assertSame(v1t, v2t)
    // driver shape
    val dir = sfDir("0.001")
    val probe = spark.read.parquet(s"$dir/events.parquet").select(col("user_id"), col("ts"), col("event_id"))
    val build = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"), col("o_orderkey"), col("o_totalprice"))
    val w1 = AsOfJoin.nearest(probe, build, "user_id", "ts", Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
      .select(col("event_id"), col("asof_ts"), col("o_orderkey"))
    val w2 = AsOfMerge.nearest(probe, build, "user_id", "ts", Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
      .select(col("event_id"), col("asof_ts"), col("o_orderkey"))
    assertSame(w1, w2)
  }

  test("forward merge exec ≡ forward window formulation (ties, tolerance, misses)") {
    val v1 = AsOfJoin.forward(probeDf, buildDf, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid"))
    val v2 = AsOfMerge.forward(probeDf, buildDf, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid"))
    assertSame(v1, v2)
    // tie rule: probe at 11:00 sees bid=11 (SMALLEST among equal future ts)
    assert(v2.where(col("pid") === 2L).select(col("bid")).first().getLong(0) == 11L)
    // nothing after 12:00 for entity a → null
    assert(v2.where(col("pid") === 3L).select(col("asof_ts")).first().isNullAt(0))
    val v1t = AsOfJoin.forward(probeDf, buildDf, "entity", "ts", Seq("bid", "v"),
      toleranceSec = 600.0, buildOrder = Seq("bid"))
    val v2t = AsOfMerge.forward(probeDf, buildDf, "entity", "ts", Seq("bid", "v"),
      toleranceSec = 600.0, buildOrder = Seq("bid"))
    assertSame(v1t, v2t)
  }

  test("merge exec ≡ window formulation on the hand fixture (ties, misses)") {
    val v1 = AsOfJoin.backward(probeDf, buildDf, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid"))
    val v2 = AsOfMerge.backward(probeDf, buildDf, "entity", "ts", Seq("bid", "v"), buildOrder = Seq("bid"))
    assertSame(v1, v2)
    // spot-check tie rule: probe at 11:00 sees bid=12 (last among equal ts)
    val row = v2.where(col("pid") === 2L).select(col("bid")).first()
    assert(row.getLong(0) == 12L)
    // entity with no build rows → null match
    assert(v2.where(col("pid") === 5L).select(col("asof_ts")).first().isNullAt(0))
  }

  test("merge exec ≡ window formulation with tolerance") {
    val v1 = AsOfJoin.backward(probeDf, buildDf, "entity", "ts", Seq("bid"), toleranceSec = 1800.0)
    val v2 = AsOfMerge.backward(probeDf, buildDf, "entity", "ts", Seq("bid"), toleranceSec = 1800.0)
    assertSame(v1.select(col("pid"), col("asof_ts"), col("bid")), v2.select(col("pid"), col("asof_ts"), col("bid")))
  }

  test("merge exec ≡ window formulation on events×orders (driver shape)") {
    val dir = sfDir("0.001")
    val probe = spark.read.parquet(s"$dir/events.parquet").select(col("user_id"), col("ts"), col("event_id"))
    val build = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"), col("o_orderkey"), col("o_totalprice"))
    val args = ("user_id", "ts", Seq("o_orderkey", "o_totalprice"))
    val v1 = AsOfJoin.backward(probe, build, args._1, args._2, args._3, buildOrder = Seq("o_orderkey"))
      .select(col("event_id"), col("asof_ts"), col("o_orderkey"), col("o_totalprice"))
    val v2 = AsOfMerge.backward(probe, build, args._1, args._2, args._3, buildOrder = Seq("o_orderkey"))
      .select(col("event_id"), col("asof_ts"), col("o_orderkey"), col("o_totalprice"))
    assertSame(v1, v2)
  }

  test("mixed key types widen like v1's union (date build × timestamp probe)") {
    // build ts as DATE: midnight boundary semantics must match v1's
    // widening, not a downcast of the probe
    val build = buildDf.select(col("entity"), col("ts").cast("date").as("ts"), col("bid"))
    val v1 = AsOfJoin.backward(probeDf, build, "entity", "ts", Seq("bid"), buildOrder = Seq("bid"))
      .select(col("pid"), col("asof_ts").cast("timestamp").as("asof_ts"), col("bid"))
    val v2 = AsOfMerge.backward(probeDf, build, "entity", "ts", Seq("bid"), buildOrder = Seq("bid"))
      .select(col("pid"), col("asof_ts").cast("timestamp").as("asof_ts"), col("bid"))
    assertSame(v1, v2)
  }

  test("merge exec plans co-partitioned children, no union sort") {
    val dir = sfDir("0.001")
    val probe = spark.read.parquet(s"$dir/events.parquet").select(col("user_id"), col("ts"), col("event_id"))
    val build = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"), col("o_orderkey"))
    val v2 = AsOfMerge.backward(probe, build, "user_id", "ts", Seq("o_orderkey"))
    val plan = v2.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfMerge"))
    assert(!plan.contains("Union"), "v2 must not union the sides")
    assert(!plan.contains("Window"), "v2 must not use window state")
    // the other exec directions plan the same merge shape
    for ((direction, df) <- Seq(
        "forward" -> AsOfMerge.forward(probe, build, "user_id", "ts", Seq("o_orderkey"), buildOrder = Seq("o_orderkey")),
        "nearest" -> AsOfMerge.nearest(probe, build, "user_id", "ts", Seq("o_orderkey"), buildOrder = Seq("o_orderkey")))) {
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("AsOfMerge"), s"asof $direction exec: AsOfMerge planned\n$p")
      assert(!p.contains("Union") && !p.contains("Window"), s"asof $direction exec: no union, no window\n$p")
    }
  }

  test("NaN/Inf double event times never match under tolerance or nearest (≡ v1 null-cast)") {
    import spark.implicits._
    // v1 converts double ts via unix_micros(cast(... as timestamp_ltz)),
    // which is NULL for non-finite doubles → no match; the exec must agree
    // instead of letting (NaN*1e6).toLong = 0 pass the distance compare
    val probe = Seq(("a", 100.0, 1L), ("a", Double.NaN, 2L), ("a", 200.0, 3L))
      .toDF("entity", "ts", "pid")
    val build = Seq(("a", 90.0, 10L), ("a", Double.PositiveInfinity, 11L), ("a", 199.0, 12L))
      .toDF("entity", "ts", "bid")
    for (dir <- Seq("backward", "forward", "nearest")) {
      val (v1, v2) = dir match {
        case "backward" =>
          (AsOfJoin.backward(probe, build, "entity", "ts", Seq("bid"), toleranceSec = 50.0),
            AsOfMerge.backward(probe, build, "entity", "ts", Seq("bid"), toleranceSec = 50.0))
        case "forward" =>
          (AsOfJoin.forward(probe, build, "entity", "ts", Seq("bid"), toleranceSec = 50.0),
            AsOfMerge.forward(probe, build, "entity", "ts", Seq("bid"), toleranceSec = 50.0))
        case _ =>
          (AsOfJoin.nearest(probe, build, "entity", "ts", Seq("bid")),
            AsOfMerge.nearest(probe, build, "entity", "ts", Seq("bid")))
      }
      assertSame(v1, v2)
      // the NaN probe row must be a miss, the +Inf build row never chosen
      val rows = v2.select(col("pid"), col("bid")).collect().map(r => r.getLong(0) -> r.get(1)).toMap
      assert(rows(2L) == null, s"$dir: NaN probe matched ${rows(2L)}")
      assert(!rows.values.exists(_ == 11L), s"$dir: +Inf build row was chosen")
    }
  }

  test("DATE keys with tolerance/nearest are rejected under a non-UTC session timezone") {
    val build = buildDf.select(col("entity"), col("ts").cast("date").as("ts"), col("bid"))
    val probeD = probeDf.select(col("entity"), col("ts").cast("date").as("ts"), col("pid"))
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Europe/Berlin")
    try {
      val err = intercept[IllegalArgumentException] {
        AsOfMerge.backward(probeD, build, "entity", "ts", Seq("bid"), toleranceSec = 86400.0)
      }
      assert(err.getMessage.contains("session timezone UTC"))
      intercept[IllegalArgumentException] {
        AsOfMerge.nearest(probeD, build, "entity", "ts", Seq("bid"))
      }
      // no distance arithmetic → TZ-independent → allowed
      AsOfMerge.backward(probeD, build, "entity", "ts", Seq("bid")).count()
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("whale-entity partitions trip the skew warning (AQE cannot split a custom exec)") {
    import spark.implicits._
    val before = graft.asof.AsOfMergeExec.skewWarningCount.get()
    spark.conf.set(graft.asof.AsOfMergeExec.SkewWarnRowsKey, "500")
    try {
      // one entity holds ~90% of the rows → its partition crosses the
      // 500-row threshold; the balanced control below must NOT warn
      val whaleProbe = spark.range(900).select(lit("whale").as("entity"), col("id").cast("double").as("ts"), col("id").as("pid"))
        .unionAll(spark.range(100).select(concat(lit("e"), col("id")).as("entity"), col("id").cast("double").as("ts"), col("id").as("pid")))
      val build = spark.range(10).select(lit("whale").as("entity"), (col("id") * 100).cast("double").as("ts"), col("id").as("bid"))
      AsOfMerge.backward(whaleProbe, build, "entity", "ts", Seq("bid")).count()
      assert(graft.asof.AsOfMergeExec.skewWarningCount.get() > before,
        "whale partition did not trigger the skew warning")
      val mid = graft.asof.AsOfMergeExec.skewWarningCount.get()
      spark.conf.set(graft.asof.AsOfMergeExec.SkewWarnRowsKey, "100000")
      AsOfMerge.backward(whaleProbe, build, "entity", "ts", Seq("bid")).count()
      assert(graft.asof.AsOfMergeExec.skewWarningCount.get() == mid,
        "balanced run must not warn at the default-scale threshold")
    } finally spark.conf.unset(graft.asof.AsOfMergeExec.SkewWarnRowsKey)
  }
}
