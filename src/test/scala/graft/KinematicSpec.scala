package graft

import graft.core.{SyntheticCorpus, TokenAdapter}
import graft.features.Kinematic
import graft.kernels.Geo
import org.apache.spark.sql.functions._

/** Golden parity vs the reference's kinematic chain: values computed
  * offline with numpy using ptrail/utilities/DistanceCalculator.py:17-75 on
  * the TrajectoryDF_tests.py micro-fixture; NaN-position laws per
  * features/tests/kinematic_features_test.py:50-167. */
class KinematicSpec extends SparkSpec {

  // entity "1" golden chain (numpy, R=6371 km, atan2-haversine)
  private val dist = Seq(None, Some(13.690153134343692), Some(7.403787866531697), Some(0.17039986568227478), Some(21261.806616992468))
  private val distStart = Seq(None, Some(13.690153134343692), Some(20.223427944674558), Some(20.34296139003416), Some(21276.145344230044))
  private val speed = Seq(None, Some(13.690153134343692), Some(1.4807575733063394), Some(0.03407997313645496), Some(4252.361323398493))
  private val acc = Seq(None, None, Some(-2.4418791122074706), Some(-0.2893355200339769), Some(850.4654486850714))
  private val jerk = Seq(None, None, None, Some(0.4305087184346988), Some(170.15095684102107))
  private val bearing = Seq(None, Some(32.35860074622519), Some(67.01529351808684), Some(89.99999940541872), Some(89.91982178022675))
  private val brate = Seq(None, None, Some(6.931338554372329), Some(4.596941177466377), Some(-0.01603552503839296))
  private val robr = Seq(None, None, None, Some(-0.46687947538119035), Some(-0.9225953405009539))

  private lazy val k = Kinematic.withKinematics(fixture, S).where(col("traj_id") === "1")

  test("K1/K2/K5-K10 golden values match the reference chain (allclose)") {
    val cols = Seq(
      Kinematic.Distance -> dist, Kinematic.DistanceFromStart -> distStart,
      Kinematic.Speed -> speed, Kinematic.Acceleration -> acc, Kinematic.Jerk -> jerk,
      Kinematic.Bearing -> bearing, Kinematic.BearingRate -> brate, Kinematic.RateOfBearingRate -> robr
    )
    cols.foreach { case (c, want) =>
      val got = col1(k, c)
      assert(got.length == want.length, s"$c row count")
      got.zip(want).foreach { case (g, w) => assertClose(g, w) }
    }
  }

  test("NaN-position law: derivative order d ⇒ first d rows null per entity") {
    val all = Kinematic.withKinematics(fixture, S)
    val orders = Seq(Kinematic.Distance -> 1, Kinematic.DistanceFromStart -> 1, Kinematic.Speed -> 1,
      Kinematic.Acceleration -> 2, Kinematic.Jerk -> 3, Kinematic.Bearing -> 1,
      Kinematic.BearingRate -> 2, Kinematic.RateOfBearingRate -> 3)
    val rn = row_number().over(S.w)
    orders.foreach { case (c, d) =>
      val withRn = all.withColumn("_rn", rn)
      assert(withRn.where(col("_rn") <= d && col(c).isNotNull).count() == 0, s"$c should be null in first $d rows")
      // and defined right after the boundary for entity 1 (5 points, ts-spaced)
      assert(withRn.where(col("traj_id") === "1" && col("_rn") === d + 1 && col(c).isNull).count() == 0, s"$c defined at row ${d + 1}")
    }
  }

  test("K12 bounding box + K13 start/end + K15 sum + K16 distinct") {
    val bb = Kinematic.boundingBox(fixture, S).first()
    assert(bb.getDouble(0) == 39.984094 && bb.getDouble(2) == 40.3)
    val se = Kinematic.startEndLocations(fixture, S).where(col("traj_id") === "3").first()
    assert(se.getDouble(1) == 40.1 && se.getDouble(3) == 40.3)
    val dt = Kinematic.distanceTravelled(fixture, S).where(col("traj_id") === "1").first().getDouble(1)
    assertClose(Some(dt), Some(13.690153134343692 + 7.403787866531697 + 0.17039986568227478 + 21261.806616992468))
    val nl = Kinematic.numberOfLocations(fixture, S).where(col("traj_id") === "1").first().getLong(1)
    assert(nl == 5) // all five (lat, lon) pairs distinct in the de-duped fixture
  }

  test("K4 withPointWithinRange equals the unrounded inline haversine predicate") {
    val (lat, lon, rangeM) = (39.984094, 116.319236, 1000.0)
    val got = Kinematic.withPointWithinRange(fixture, S, lat, lon, rangeM)
      .withColumn("inline", Geo.haversine(lit(lat), lit(lon), col("lat"), col("lon")) <= rangeM)
      .select(col(s"`Within_${rangeM}_m`"), col("inline")).collect().toSeq
    assert(got.forall(r => r.getBoolean(0) == r.getBoolean(1)))
    assert(got.map(_.getBoolean(0)).toSet == Set(true, false)) // both sides of the range
  }

  test("K14 distanceTravelledByDate equals the inline per-date distance sum") {
    val got = Kinematic.distanceTravelledByDate(fixture, S, "1", "2008-10-23").collect().toSeq
    val inline = Kinematic.withDistance(
        fixture.where(col("traj_id") === "1" && to_date(col("ts")) === to_date(lit("2008-10-23"))), S)
      .groupBy(col("traj_id")).agg(sum(col(Kinematic.Distance))).collect().toSeq
    assert(got == inline && got.size == 1)
    assertClose(Some(got.head.getDouble(1)), Some(dist.flatten.sum))
    assert(Kinematic.distanceTravelledByDate(fixture, S, "1", "2008-10-24").count() == 0)
  }

  test("salted/banded kinematics EXACTLY equals the unsalted plan") {
    val corpus = SyntheticCorpus.generate(spark, nDocs = 40, medianLen = 50, skewEvery = 10, skewFactor = 8)
    val (grid, ts) = TokenAdapter.explodeTokens(corpus)
    val plain = Kinematic.withKinematics(grid, ts)
    val salted = Kinematic.withKinematicsSalted(grid, ts, "pos", bandRows = 64, overlap = 3)
    val cols = Seq("doc_id", "pos") ++ Kinematic.AllFeatures
    val a = plain.select(cols.map(col): _*)
    val b = salted.select(cols.map(col): _*)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("Geo.boundingBoxByRadius matches the reference golden vector") {
    val (a, b, c, d) = Geo.boundingBoxByRadius(39, 116, 100000)
    assert(a == 38.100678394081264 && b == 114.84275815636957 &&
      c == 39.89932160591873 && d == 117.15724184363044)
  }
}
