package graft

import graft.features.Mobility

/** Mobility descriptors vs hand-computed references. */
class MobilitySpec extends SparkSpec {

  import spark.implicits._

  private def havM(a: (Double, Double), b: (Double, Double)): Double = {
    val r = math.Pi / 180.0
    val sdLat = math.sin((b._1 - a._1) * r / 2); val sdLon = math.sin((b._2 - a._2) * r / 2)
    val h = sdLat * sdLat + math.cos(a._1 * r) * math.cos(b._1 * r) * sdLon * sdLon
    2.0 * math.atan2(math.sqrt(h), math.sqrt(1.0 - h)) * 6371000.0
  }

  test("rg, entropy and cell coverage match brute force; stationary entity degenerates") {
    val aPts = Seq((39.0, 116.0), (39.0, 116.02), (39.02, 116.0), (39.0, 116.0))
    val rows = aPts.zipWithIndex.map { case ((la, lo), i) =>
      ("a", new java.sql.Timestamp(i * 1000L), la, lo)
    } :+ (("b", new java.sql.Timestamp(0L), 40.0, 115.0))
    val df = rows.toDF("traj_id", "ts", "lat", "lon")
    val out = Mobility.withMobility(df, S, cellDeg = 0.01)
      .orderBy("traj_id").collect()
    // entity a: brute-force rg around the arithmetic centroid
    val clat = aPts.map(_._1).sum / 4; val clon = aPts.map(_._2).sum / 4
    val wantRg = math.sqrt(aPts.map(p => { val d = havM(p, (clat, clon)); d * d }).sum / 4)
    val a = out(0)
    assert(a.getLong(1) == 4L)
    assertClose(Some(a.getDouble(2)), Some(wantRg), tol = 1e-6)
    // cells at 0.01°: (3900,11600)x2, (3900,11602), (3902,11600) → 3 cells, p = (2/4,1/4,1/4)
    assert(a.getLong(4) == 3L)
    val wantH = -(0.5 * math.log(0.5) + 0.25 * math.log(0.25) + 0.25 * math.log(0.25))
    assertClose(Some(a.getDouble(3)), Some(wantH))
    // entity b: single stationary point → rg 0, entropy -0 normalizes, 1 cell
    val b = out(1)
    assert(b.getLong(1) == 1L && b.getDouble(2) == 0.0 && b.getLong(4) == 1L)
    assertClose(Some(b.getDouble(3)), Some(0.0))
  }

  test("plan: no point-grid window for the entropy normalizer, no collect") {
    val df = (1 to 100).map(i => ("e" + (i % 5), new java.sql.Timestamp(i * 1000L),
      39.0 + (i % 13) * 0.001, 116.0 + (i % 17) * 0.001)).toDF("traj_id", "ts", "lat", "lon")
    val qe = Mobility.withMobility(df, S).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // the per-entity normalizer window must consume the (entity, cell)
    // AGGREGATE, not the raw grid: a Window directly over the scan-side
    // would show two whole-partition windows; exactly two windows exist —
    // centroid (over points, unavoidable) and normalizer (over cells)
    assert("\\bWindow \\[".r.findAllIn(plan).length == 2, s"unexpected windows:\n$plan")
    assert(plan.contains("partial_count"), s"mobility: map-side partial aggregation\n$plan")
  }
}
