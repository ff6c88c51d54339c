package graft

import graft.features.{Ewma, Rolling}
import graft.sample.Sampling
import org.apache.spark.sql.functions._

/** EWM/CUSUM kernel, rolling z-score, and per-key cap laws against
  * independent brute-force references. */
class EwmaCapSpec extends SparkSpec {

  import spark.implicits._

  private val Sfull = S.copy(orderCols = Seq("event_id"))

  // (traj_id, event_id, ts seconds, value) — fed deliberately OUT of time
  // order to prove the kernel sorts; entity "b" interleaved
  private def rows = Seq(
    ("a", 3L, 200L, Some(4.0)),
    ("a", 1L, 0L, Some(1.0)),
    ("b", 6L, 50L, Some(10.0)),
    ("a", 2L, 100L, Some(2.0)),
    ("a", 4L, 300L, None), // null slot: emits nulls, state untouched
    ("b", 7L, 150L, Some(12.0)),
    ("a", 5L, 400L, Some(8.0))
  )

  private def df = rows
    .map { case (id, e, sec, v) =>
      (id, e, new java.sql.Timestamp(sec * 1000L), v.map(Double.box).orNull.asInstanceOf[java.lang.Double])
    }
    .toDF("traj_id", "event_id", "ts", "lat")

  /** The definition, replayed directly: the mean via the explicit
    * adjust=True weight sums (an INDEPENDENT formulation — pow-weights,
    * not the kernel's recurrence), the cusum via its defining loop. */
  private def reference(vals: Seq[Double], alpha: Double, kappa: Double)
      : Seq[(Double, Double, Double)] = {
    val beta = 1.0 - alpha
    vals.indices.map { i =>
      val num = (0 to i).map(j => math.pow(beta, (i - j).toDouble) * vals(j)).sum
      val den = (0 to i).map(j => math.pow(beta, (i - j).toDouble)).sum
      var cp = 0.0; var cn = 0.0
      var pn = vals.head; var pd = 1.0; var prev = vals.head
      for (j <- 1 to i) {
        cp = math.max(0.0, cp + (vals(j) - prev - kappa))
        cn = math.min(0.0, cn + (vals(j) - prev + kappa))
        pn = vals(j) + beta * pn
        pd = 1.0 + beta * pd
        prev = pn / pd
      }
      (num / den, cp, cn)
    }
  }

  test("withEwma equals the weight-sum definition; kernel sorts; nulls skip") {
    val out = Ewma.withEwma(df, Sfull, "lat", alpha = 0.3, kappa = 0.1)
      .orderBy("traj_id", "ts_us", "ord").collect()
    // entity a non-null series in time order: 1, 2, 4, 8
    val refA = reference(Seq(1.0, 2.0, 4.0, 8.0), 0.3, 0.1)
    val aRows = out.filter(_.getString(0) == "a")
    assert(aRows.length == 5)
    // positions 0,1,2 then the null slot then position 3 of the series
    val nonNullA = aRows.filter(!_.isNullAt(4))
    assert(nonNullA.length == 4, "null slot must emit null ewm")
    for ((r, i) <- nonNullA.zipWithIndex) {
      assertClose(Some(r.getDouble(4)), Some(refA(i)._1))
      assertClose(Some(r.getDouble(5)), Some(refA(i)._2))
      assertClose(Some(r.getDouble(6)), Some(refA(i)._3))
    }
    // the null row: all three features null, and the NEXT value continues
    // the recurrence as if the null row were absent (checked above: the
    // 4th non-null row matches the 4-element reference)
    val nullRow = aRows.find(_.getLong(2) == 4L).get
    assert(nullRow.isNullAt(4) && nullRow.isNullAt(5) && nullRow.isNullAt(6))
    // entity b independent
    val refB = reference(Seq(10.0, 12.0), 0.3, 0.1)
    val bRows = out.filter(_.getString(0) == "b")
    assertClose(Some(bRows(1).getDouble(4)), Some(refB(1)._1))
  }

  test("withEwma alpha=1 degenerates to the identity; first row anchors at 0 cusum") {
    val out = Ewma.withEwma(df, Sfull, "lat", alpha = 1.0)
      .where(col("v").isNotNull).orderBy("traj_id", "ts_us").collect()
    for (r <- out) assert(r.getDouble(4) == r.getDouble(3), "alpha=1 → ewm = x")
    val first = out.filter(_.getString(0) == "a").head
    assert(first.getDouble(5) == 0.0 && first.getDouble(6) == 0.0)
  }

  test("withRollingZ matches a brute-force trailing mean/std/z") {
    val vals = Seq(1.0, 2.0, 4.0, 8.0, 3.0)
    val zdf = vals.zipWithIndex
      .map { case (v, i) => ("x", i.toLong, new java.sql.Timestamp(i * 1000L), v) }
      .toDF("traj_id", "event_id", "ts", "lat")
    val out = Rolling.withRollingZ(zdf, Sfull, "lat", k = 3)
      .orderBy("event_id")
      .select("zroll_n", "zroll_mean", "zroll_std", "zroll_z").collect()
    for (i <- vals.indices) {
      val frame = vals.slice(math.max(0, i - 2), i + 1)
      val n = frame.size
      val mean = frame.sum / n
      assert(out(i).getLong(0) == n)
      assertClose(Some(out(i).getDouble(1)), Some(mean))
      if (n == 1) assert(out(i).isNullAt(2) && out(i).isNullAt(3))
      else {
        val std = math.sqrt(frame.map(v => (v - mean) * (v - mean)).sum / (n - 1))
        assertClose(Some(out(i).getDouble(2)), Some(std))
        assertClose(Some(out(i).getDouble(3)), Some((vals(i) - mean) / std))
      }
    }
  }

  test("withRollingZ constant window yields null z, zero-clamped std") {
    val zdf = Seq(("x", 1L, 0L, 5.0), ("x", 2L, 1L, 5.0), ("x", 3L, 2L, 5.0))
      .map { case (id, e, sec, v) => (id, e, new java.sql.Timestamp(sec * 1000L), v) }
      .toDF("traj_id", "event_id", "ts", "lat")
    val out = Rolling.withRollingZ(zdf, Sfull, "lat", k = 3).orderBy("event_id").collect()
    assert(out(2).getDouble(out(2).fieldIndex("zroll_std")) == 0.0)
    assert(out(2).isNullAt(out(2).fieldIndex("zroll_z")), "constant frame → z null")
  }

  test("capPerKey keeps exactly the n best per key, deterministically") {
    val docs = Seq(
      ("d1", "s1", 100L), ("d2", "s1", 300L), ("d3", "s1", 300L), ("d4", "s1", 200L),
      ("d5", "s2", 50L)
    ).toDF("id", "src", "sz")
    val kept = Sampling.capPerKey(docs, "src", 2, Seq(col("sz").desc, col("id").asc))
      .select("id").as[String].collect().toSet
    // s1: sz 300 ties d2/d3 → id tie-break keeps both; d4 (200) dropped
    assert(kept == Set("d2", "d3", "d5"), s"got $kept")
    // n >= group size keeps everything
    assert(Sampling.capPerKey(docs, "src", 10, Seq(col("id").asc)).count() == 5)
  }

  test("capPerKey plans a map-side WindowGroupLimit before the exchange") {
    val docs = (1 to 100).map(i => (s"d$i", s"s${i % 3}", i.toLong)).toDF("id", "src", "sz")
    val plan = Sampling.capPerKey(docs, "src", 5, Seq(col("sz").desc, col("id").asc))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"rank-limit rewrite missing:\n$plan")
    // the plan prints root first: the reduce-side limit above the
    // exchange, the map-side (partial) one below it
    val idxEx = plan.indexOf("Exchange")
    assert(idxEx >= 0 && plan.indexOf("WindowGroupLimit") < idxEx &&
      plan.indexOf("WindowGroupLimit", idxEx) > idxEx,
      s"cap: group limit on BOTH sides of the exchange\n$plan")
  }
}
