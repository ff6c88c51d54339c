package graft

import graft.asof.AsOfJoin
import graft.streaming.StreamAsOf
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** StreamAsOf laws, on the compactBuild + enrichCompacted path that
  * `q_stream_asof` runs: the stateless bounded-history formulation is
  * exceptAll-equal to AsOfJoin.backward on the same (batch) frames — ties,
  * tolerance, null event times — and the keep-last-N compaction contract
  * holds: exact drop audit, arrays bounded at N, events at-or-after the
  * oldest kept snapshot unchanged, older events null. (The replayed-stream
  * equivalence is the driver-gated `q_stream_asof`, which shares
  * `q_asof_orders`' oracle.) */
class StreamAsOfSpec extends SparkSpec {

  import spark.implicits._

  private def enrich(stream: DataFrame, build: DataFrame, valueCols: Seq[String],
      buildOrder: Seq[String] = Nil, toleranceSec: Double = -1.0, keepLastN: Int = 64) =
    StreamAsOf.enrichCompacted(stream,
      StreamAsOf.compactBuild(build, "entity", "ts", valueCols, buildOrder, keepLastN),
      "entity", "ts", valueCols, toleranceSec)

  private def probe = Seq(
    (1L, "u", "2024-01-01 00:00:00"),
    (2L, "u", "2024-01-01 02:00:00"),
    (3L, "u", "2024-01-01 05:00:00"),
    (4L, "v", "2024-01-01 01:00:00"),
    (5L, "w", "2024-01-01 01:00:00"), // entity with no builds
    (6L, "u", null.asInstanceOf[String]) // null event time
  ).toDF("event_id", "entity", "ts_s")
    .selectExpr("event_id", "entity", "cast(ts_s as timestamp) as ts")

  private def build = Seq(
    (10L, "u", "2024-01-01 00:00:00", 1.0),
    (11L, "u", "2024-01-01 02:00:00", 2.0),
    (12L, "u", "2024-01-01 02:00:00", 3.0), // equal-ts tie: largest buildOrder (12) wins
    (13L, "u", "2024-01-01 04:00:00", 4.0),
    (14L, "v", "2024-01-01 00:30:00", 5.0),
    (15L, "v", null.asInstanceOf[String], 9.0) // null build ts: never a candidate
  ).toDF("bid", "entity", "ts_s", "v")
    .selectExpr("bid", "entity", "cast(ts_s as timestamp) as ts", "v")

  test("batch parity with AsOfJoin.backward, incl. ties, null ts, missing entity") {
    val got = enrich(probe, build, Seq("bid", "v"), buildOrder = Seq("bid"))
    val want = AsOfJoin.backward(probe, build, "entity", "ts",
      Seq("bid", "v"), buildOrder = Seq("bid"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    val byId = got.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(r.fieldIndex("bid"))) None else Some(r.getLong(r.fieldIndex("bid"))))).toMap
    assert(byId(2L) == Some(12L), "equal-ts tie must go to the largest buildOrder")
    assert(byId(5L) == None && byId(6L) == None)
  }

  test("tolerance bounds the lookback like the batch operator") {
    val got = enrich(probe, build, Seq("bid", "v"), buildOrder = Seq("bid"), toleranceSec = 3600.0)
    val want = AsOfJoin.backward(probe, build, "entity", "ts",
      Seq("bid", "v"), toleranceSec = 3600.0, buildOrder = Seq("bid"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
    // event 3 (05:00) is 1h past build 13 (04:00): boundary inclusive
    val r3 = got.where(col("event_id") === 3L).head()
    assert(r3.getLong(r3.fieldIndex("bid")) == 13L)
  }

  test("keep-last-N: exact drop audit, bounded arrays, as-of unchanged at-or-after the oldest kept") {
    val bigBuild = (1L to 50L).map(i => (i, "u", new java.sql.Timestamp(1700000000000L + i * 1000)))
      .toDF("bid", "entity", "ts")
    // exact eviction audit: 50 builds, keep 10 → 40 dropped
    assert(StreamAsOf.droppedBuilds(bigBuild, "entity", "ts", keepLastN = 10) == 40L)
    assert(StreamAsOf.droppedBuilds(bigBuild, "entity", "ts", keepLastN = 64) == 0L)
    // compacted arrays are bounded at N and keep the N MOST RECENT
    val hist = StreamAsOf.compactBuild(bigBuild, "entity", "ts", Seq("bid"), keepLastN = 10)
    val arr = hist.select(col("_builds")).head().getSeq[org.apache.spark.sql.Row](0)
    assert(arr.length == 10)
    assert(arr.map(_.getLong(arr.head.fieldIndex("_m"))).min ==
      (1700000000000L + 41L * 1000) * 1000L, "oldest kept must be build 41 of 50")
    // events: (a) at/after the oldest kept snapshot → unchanged as-of;
    // (b) older than every kept snapshot → null (the documented drop law)
    val ev = Seq(
      (100L, "u", new java.sql.Timestamp(1700000000000L + 50L * 1000)), // ≥ newest
      (101L, "u", new java.sql.Timestamp(1700000000000L + 43L * 1000 + 500)), // mid-kept
      (102L, "u", new java.sql.Timestamp(1700000000000L + 5L * 1000)) // pre-kept → null
    ).toDF("event_id", "entity", "ts")
    val got = enrich(ev, bigBuild, Seq("bid"), keepLastN = 10)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("bid"))) None else Some(r.getLong(r.fieldIndex("bid"))))).toMap
    assert(got(100L) == Some(50L) && got(101L) == Some(43L))
    assert(got(102L) == None, "an event older than every kept snapshot enriches to null")
    // no-drop parity: keepLastN ≥ history depth → bit-identical to the batch as-of
    val full = enrich(ev, bigBuild, Seq("bid"), keepLastN = 64)
    val want = AsOfJoin.backward(ev, bigBuild, "entity", "ts", Seq("bid"))
    assert(full.exceptAll(want).count() == 0 && want.exceptAll(full).count() == 0)
  }

  test("q_stream_asof's oracle premise: keep-last-64 drops no orders on sf0.001, sf0.01 and sf0.1") {
    // the replay shares q_asof_orders' unbounded oracle, which holds only
    // while compaction evicts nothing; no query path runs this audit
    for (sf <- Seq("0.001", "0.01", "0.1")) {
      val (_, orders) = SparkEntry.asOfSides(spark, sfDir(sf))
      assert(StreamAsOf.droppedBuilds(orders, "user_id", "ts", keepLastN = 64) == 0L, s"sf$sf")
    }
  }
}
