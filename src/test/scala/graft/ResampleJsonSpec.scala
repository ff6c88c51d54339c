package graft

import graft.features.{Resample, Rolling}
import graft.sources.Json
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Time-range rolling, fixed-frequency downsampling, and JSON extraction
  * laws against brute-force references. */
class ResampleJsonSpec extends SparkSpec {

  import spark.implicits._

  // (traj_id, event_id, ts seconds, lat, lon) — includes a ts TIE inside
  // entity "a" (RANGE peers) and an empty bin between 2h and 4h
  private def rows = Seq(
    ("a", 1L, 0L, 1.0, 10.0),
    ("a", 2L, 600L, 2.0, 20.0),
    ("a", 3L, 600L, 3.0, 30.0), // tie with event 2 — frame peers
    ("a", 4L, 2000L, 4.0, 40.0),
    ("a", 5L, 4 * 3600L, 5.0, 50.0), // bins 0..3 empty in between
    ("b", 6L, 100L, 7.0, 70.0)
  )

  private def df = rows
    .map { case (id, e, sec, la, lo) => (id, e, new java.sql.Timestamp(sec * 1000L), la, lo) }
    .toDF("traj_id", "event_id", "ts", "lat", "lon")

  private val Sfull = S.copy(orderCols = Seq("event_id"))

  test("withRollingTime equals a brute-force trailing time window; ts peers share the frame") {
    val got = Rolling.withRollingTime(df, Sfull, "lat", windowSec = 1500.0)
      .select("event_id", "troll_n", "troll_min", "troll_max", "troll_mean", "troll_sum")
      .as[(Long, Long, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    val byId = rows.groupBy(_._1)
    for ((id, e, sec, _, _) <- rows) {
      val frame = byId(id).filter(r => r._3 <= sec && r._3 >= sec - 1500L).map(_._4)
      val (n, mn, mx, mean, sum) = got(e)
      assert(n == frame.size, s"event $e: n $n != ${frame.size}")
      assert(mn == frame.min && mx == frame.max, s"event $e min/max")
      assertClose(Some(mean), Some(frame.sum / frame.size))
      assertClose(Some(sum), Some(frame.sum))
    }
    // the two peers at t=600 must report identical frames
    assert(got(2L) == got(3L), "RANGE peers must see the same frame")
  }

  test("downsample: bin start alignment, first/last by total order, centroid, no empty bins") {
    val out = Resample.downsample(df, Sfull, binSec = 3600.0)
      .orderBy("traj_id", "bin_ts").collect()
    // entity a: bins 0h (events 1,2,3,4) and 4h (event 5); entity b: bin 0h
    assert(out.length == 3, s"expected 3 non-empty bins, got ${out.length}")
    val a0 = out(0)
    assert(a0.getString(0) == "a" && a0.getLong(2) == 4L)
    assert(a0.getDouble(3) == 1.0 && a0.getDouble(4) == 10.0, "first = event 1")
    assert(a0.getDouble(5) == 4.0 && a0.getDouble(6) == 40.0, "last = event 4")
    assertClose(Some(a0.getDouble(7)), Some((1.0 + 2.0 + 3.0 + 4.0) / 4.0))
    val a4 = out(1)
    assert(a4.getTimestamp(1).getTime == 4 * 3600L * 1000L, "bin_ts is the bin START")
    assert(a4.getLong(2) == 1L && a4.getDouble(3) == 5.0)
    assert(out(2).getString(0) == "b" && out(2).getLong(2) == 1L)
  }

  test("downsample ties inside a bin break on orderCols") {
    // both rows share ts; event_id decides first vs last
    val tie = Seq(("x", 2L, 0L, 9.0, 9.0), ("x", 1L, 0L, 8.0, 8.0))
      .map { case (id, e, sec, la, lo) => (id, e, new java.sql.Timestamp(sec * 1000L), la, lo) }
      .toDF("traj_id", "event_id", "ts", "lat", "lon")
    val r = Resample.downsample(tie, Sfull, 60.0).collect()(0)
    assert(r.getDouble(3) == 8.0 && r.getDouble(5) == 9.0, "event 1 first, event 2 last")
  }

  test("Json.extract: typed fields, pruned parses, nulls for absent/bad payloads") {
    val j = Seq(
      (1L, """{"k": 7, "s": "hi", "x": 1.5}"""),
      (2L, """{"s": "only"}"""), // k absent → null
      (3L, """not json"""), // unparseable → all null
      (4L, null.asInstanceOf[String])
    ).toDF("id", "props")
    val out = Json.extract(j, "props",
        Seq("k" -> LongType, "s" -> StringType, "x" -> DoubleType), prefix = "p_")
      .orderBy("id").collect()
    assert(out(0).getLong(2) == 7L && out(0).getString(3) == "hi" && out(0).getDouble(4) == 1.5)
    assert(out(1).isNullAt(2) && out(1).getString(3) == "only")
    assert(out(2).isNullAt(2) && out(2).isNullAt(3) && out(2).isNullAt(4))
    assert(out(3).isNullAt(2))
    // plan stays scan-level: no exchange, no join
    val plan = Json.extract(j, "props", Seq("k" -> LongType))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"))
    // over a scan (the local fixture above folds into a LocalRelation), the
    // optimizer prunes the parse schema to the one requested field
    val scanned = Json.extract(
      SparkEntry.events(spark, sfDir("0.001")).select(col("event_id"), col("props")),
      "props", Seq("k" -> LongType), prefix = "props_").queryExecution.optimizedPlan.toString
    assert(scanned.contains("from_json(StructField(k,LongType,true)"),
      s"json: parse schema pruned to the requested field\n$scanned")
  }
}
