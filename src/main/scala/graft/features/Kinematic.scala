package graft.features

import graft.core.TrajSchema
import graft.kernels.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kinematic features — the reference's heart
  * (ptrail/features/kinematic_features.py). Every operator there is a
  * multiprocessing fan-out of per-trajectory `shift(1)` + numpy kernels with
  * a full re-sort per operator (kinematic_features.py:174-222); here the
  * whole 8-feature chain is lag/lead arithmetic over ONE window spec —
  * Catalyst plans a single Exchange(hashpartitioning(traj_id)) + Sort and
  * stacks the Window operators on top, all inside whole-stage codegen.
  *
  * Null semantics replace the reference's NaN poisoning: `lag` yields null at
  * entity start, arithmetic propagates it, and ±Inf → null mirrors
  * `replace([inf], nan)` (kinematic_features.py:456,476,515,571,685). Feature
  * k of derivative order d is null for the first d rows of each entity —
  * exactly the reference's tested NaN positions
  * (features/tests/kinematic_features_test.py:50-167).
  */
object Kinematic {

  val Distance = "Distance"
  val DistanceFromStart = "Distance_from_start"
  val Speed = "Speed"
  val Acceleration = "Acceleration"
  val Jerk = "Jerk"
  val Bearing = "Bearing"
  val BearingRate = "Bearing_Rate"
  val RateOfBearingRate = "Rate_of_bearing_rate"
  val AllFeatures: Seq[String] =
    Seq(Distance, DistanceFromStart, Speed, Acceleration, Jerk, Bearing, BearingRate, RateOfBearingRate)

  /** Δt between consecutive points in (fractional) seconds — the reference
    * uses `DateTime.diff().dt.total_seconds()` (kinematic_features.py:451).
    * Micros-exact: integer micros diff, then one correctly-rounded divide. */
  private def dtSeconds(s: TrajSchema): Column =
    (graft.core.Times.micros(s.tsCol) - lag(graft.core.Times.micros(s.tsCol), 1).over(s.w)).cast("double") / 1e6

  /** K1 — consecutive haversine distance in metres; first row of each entity
    * null (kinematic_features.py:174-222, helper_functions.py:144-190). */
  def withDistance(df: DataFrame, s: TrajSchema): DataFrame =
    df.withColumn(
      Distance,
      Geo.haversine(lag(s.latCol, 1).over(s.w), lag(s.lonCol, 1).over(s.w), s.latCol, s.lonCol)
    )

  /** K2 — distance from the entity's first point; first row null (start is
    * shift(1)'d in the reference, helper_functions.py:228-231). */
  def withDistanceFromStart(df: DataFrame, s: TrajSchema): DataFrame = {
    val wFirst = s.wRows(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(
      DistanceFromStart,
      when(
        row_number().over(s.w) === 1,
        lit(null).cast("double")
      ).otherwise(
        Geo.haversine(first(s.latCol).over(wFirst), first(s.lonCol).over(wFirst), s.latCol, s.lonCol)
      )
    )
  }

  /** K3 — distance from a fixed coordinate (kinematic_features.py:373-413);
    * stateless, no shuffle. Reference column name `Distance_from_(x, y)`. */
  def withDistanceFromPoint(df: DataFrame, s: TrajSchema, lat: Double, lon: Double): DataFrame =
    df.withColumn(s"Distance_from_($lat, $lon)", Geo.haversine(lit(lat), lit(lon), s.latCol, s.lonCol))

  /** K4 — boolean within-range of a coordinate (kinematic_features.py:328-371);
    * reference column name `Within_{d}_m`. */
  def withPointWithinRange(df: DataFrame, s: TrajSchema, lat: Double, lon: Double, rangeM: Double): DataFrame =
    df.withColumn(s"Within_${rangeM}_m", Geo.haversine(lit(lat), lit(lon), s.latCol, s.lonCol) <= rangeM)

  /** K5 — Speed = Distance/Δt m/s (kinematic_features.py:415-481). The
    * reference diffs the globally-sorted frame so entity boundaries are only
    * saved by NaN poisoning; per-entity lag is boundary-correct by
    * construction. Derives Distance if absent (the reference's
    * KeyError-on-demand chain, kinematic_features.py:444-458). */
  def withSpeed(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Distance)) df else withDistance(df, s)
    base.withColumn(Speed, Geo.infToNull(col(Distance) / dtSeconds(s)))
  }

  /** K6 — Acceleration = ΔSpeed/Δt; first 2 rows null
    * (kinematic_features.py:483-537; test :109-119). */
  def withAcceleration(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Speed)) df else withSpeed(df, s)
    base.withColumn(Acceleration, Geo.infToNull((col(Speed) - lag(col(Speed), 1).over(s.w)) / dtSeconds(s)))
  }

  /** K7 — Jerk = ΔAcceleration/Δt; first 3 rows null
    * (kinematic_features.py:539-593; test :121-132). */
  def withJerk(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Acceleration)) df else withAcceleration(df, s)
    base.withColumn(Jerk, Geo.infToNull((col(Acceleration) - lag(col(Acceleration), 1).over(s.w)) / dtSeconds(s)))
  }

  /** K8 — bearing of travel p[i-1]→p[i] in degrees; first row null
    * (kinematic_features.py:595-651). */
  def withBearing(df: DataFrame, s: TrajSchema): DataFrame =
    df.withColumn(
      Bearing,
      Geo.bearing(lag(s.latCol, 1).over(s.w), lag(s.lonCol, 1).over(s.w), s.latCol, s.lonCol)
    )

  /** K9 — ΔBearing/Δt deg/s; first 2 rows null (kinematic_features.py:653-705). */
  def withBearingRate(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Bearing)) df else withBearing(df, s)
    base.withColumn(BearingRate, Geo.infToNull((col(Bearing) - lag(col(Bearing), 1).over(s.w)) / dtSeconds(s)))
  }

  /** K10 — ΔBearing_Rate/Δt; first 3 rows null (kinematic_features.py:707-760;
    * the reference's KeyError fallback recomputing from `Bearing` is a latent
    * bug on its non-tested path — we implement the primary semantics). */
  def withRateOfBearingRate(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(BearingRate)) df else withBearingRate(df, s)
    base.withColumn(
      RateOfBearingRate,
      Geo.infToNull((col(BearingRate) - lag(col(BearingRate), 1).over(s.w)) / dtSeconds(s))
    )
  }

  /** K11 — the fused 8-feature vector (generate_kinematic_features,
    * kinematic_features.py:852-872). One shuffle + one sort for all eight:
    * the reference pays ≥8 full passes, 8 re-sorts and pickled IPC per pass
    * (SURVEY.md §3.2).
    *
    * Round 6: ONE Window operator instead of four stacked ones. The
    * compositional chain expressed derivatives as `lag` of earlier WINDOW
    * outputs (lag(Speed), lag(Acceleration), …), which Catalyst cannot
    * fuse — each dependency level buffered every partition row in its own
    * WindowExec. Here every lagged feature is RECOMPUTED from lag-1/2/3 of
    * the base channels (lat, lon, micros) — the same IEEE ops on the same
    * inputs, so every value is bit-identical to the stacked chain
    * (KinematicSpec asserts it; the DuckDB oracles are unchanged) — and the
    * single Window evaluates only frame-sharing lag/first/row_number
    * expressions with all feature arithmetic in the codegen'd projection
    * above it. */
  def withKinematics(df: DataFrame, s: TrajSchema): DataFrame = {
    val m = graft.core.Times.micros(s.tsCol)
    val (lat, lon) = (s.latCol, s.lonCol)
    val wFirst = s.wRows(Window.unboundedPreceding, Window.currentRow)
    val orig = df.columns.map(col)
    // step 1 — the ONLY Window node: every lag/first/rank the chain needs,
    // materialized as plain columns (one partition-buffer pass). Feature
    // arithmetic lives in the layered projections BELOW, referencing these
    // attributes — each intermediate is named so expression trees stay
    // small (no manual expansion: a fully-inlined formulation generated
    // methods past the JIT's huge-method limit and ran interpreted, 40×
    // slower — measured).
    val lagged = df.select(orig ++ Seq(
      lag(lat, 1).over(s.w).as("_l1a"), lag(lon, 1).over(s.w).as("_l1o"),
      lag(lat, 2).over(s.w).as("_l2a"), lag(lon, 2).over(s.w).as("_l2o"),
      lag(lat, 3).over(s.w).as("_l3a"), lag(lon, 3).over(s.w).as("_l3o"),
      lag(m, 1).over(s.w).as("_m1"), lag(m, 2).over(s.w).as("_m2"),
      lag(m, 3).over(s.w).as("_m3"),
      row_number().over(s.w).as("_rn"),
      first(lat).over(wFirst).as("_f0a"), first(lon).over(wFirst).as("_f0o")): _*)
    // step 2 — Δt at offsets 0/1/2 (exact dtSeconds op order: integer
    // micros diff, ONE correctly-rounded divide — so _dt1 ≡ lag(dt)) and
    // the step distances/bearings at offsets 0/1/2 (same IEEE ops on the
    // same inputs as the stacked chain's lag(Distance)/lag(Bearing))
    val step2 = lagged.select(orig ++ Seq(
      col("_rn"), col("_f0a"), col("_f0o"),
      ((m - col("_m1")).cast("double") / 1e6).as("_dt0"),
      ((col("_m1") - col("_m2")).cast("double") / 1e6).as("_dt1"),
      ((col("_m2") - col("_m3")).cast("double") / 1e6).as("_dt2"),
      Geo.haversine(col("_l1a"), col("_l1o"), lat, lon).as("_d0"),
      Geo.haversine(col("_l2a"), col("_l2o"), col("_l1a"), col("_l1o")).as("_d1"),
      Geo.haversine(col("_l3a"), col("_l3o"), col("_l2a"), col("_l2o")).as("_d2"),
      Geo.bearing(col("_l1a"), col("_l1o"), lat, lon).as("_b0"),
      Geo.bearing(col("_l2a"), col("_l2o"), col("_l1a"), col("_l1o")).as("_b1"),
      Geo.bearing(col("_l3a"), col("_l3o"), col("_l2a"), col("_l2o")).as("_b2")): _*)
    // step 3 — first derivatives at offsets 0/1/2 (≡ Speed / lag(Speed) /
    // lag2(Speed), Bearing_Rate / lag(Bearing_Rate))
    val step3 = step2.select(orig ++ Seq(
      col("_rn"), col("_f0a"), col("_f0o"), col("_dt0"), col("_dt1"),
      col("_d0"), col("_b0"),
      Geo.infToNull(col("_d0") / col("_dt0")).as("_s0"),
      Geo.infToNull(col("_d1") / col("_dt1")).as("_s1"),
      Geo.infToNull(col("_d2") / col("_dt2")).as("_s2"),
      Geo.infToNull((col("_b0") - col("_b1")) / col("_dt0")).as("_br0"),
      Geo.infToNull((col("_b1") - col("_b2")) / col("_dt1")).as("_br1")): _*)
    // step 4 — second derivatives (≡ Acceleration / lag(Acceleration))
    val step4 = step3.select(orig ++ Seq(
      col("_rn"), col("_f0a"), col("_f0o"), col("_dt0"), col("_d0"), col("_b0"),
      col("_s0"), col("_br0"), col("_br1"),
      Geo.infToNull((col("_s0") - col("_s1")) / col("_dt0")).as("_a0"),
      Geo.infToNull((col("_s1") - col("_s2")) / col("_dt1")).as("_a1")): _*)
    // step 5 — the 8 features in the chain's exact column order
    step4.select(orig ++ Seq(
      col("_d0").as(Distance),
      when(col("_rn") === 1, lit(null).cast("double"))
        .otherwise(Geo.haversine(col("_f0a"), col("_f0o"), lat, lon)).as(DistanceFromStart),
      col("_s0").as(Speed),
      col("_a0").as(Acceleration),
      Geo.infToNull((col("_a0") - col("_a1")) / col("_dt0")).as(Jerk),
      col("_b0").as(Bearing),
      col("_br0").as(BearingRate),
      Geo.infToNull((col("_br0") - col("_br1")) / col("_dt0")).as(RateOfBearingRate)): _*)
  }

  /** K12 — global bounding box (kinematic_features.py:37-59). */
  def boundingBox(df: DataFrame, s: TrajSchema): DataFrame =
    df.agg(
      min(s.latCol).as("lat_min"),
      min(s.lonCol).as("lon_min"),
      max(s.latCol).as("lat_max"),
      max(s.lonCol).as("lon_max")
    )

  /** K13 — per-entity start/end locations (kinematic_features.py:61-172):
    * one shuffle-agg with min_by/max_by instead of the reference's
    * per-trajectory loop in a Pool. */
  def startEndLocations(df: DataFrame, s: TrajSchema): DataFrame = {
    df.groupBy(s.idCol)
      .agg(
        min_by(s.latCol, s.tsCol).as("start_lat"),
        min_by(s.lonCol, s.tsCol).as("start_lon"),
        max_by(s.latCol, s.tsCol).as("end_lat"),
        max_by(s.lonCol, s.tsCol).as("end_lon")
      )
  }

  /** K15 — total distance per entity = nansum(Distance)
    * (kinematic_features.py:762-802; Spark sum skips nulls = nansum). */
  def distanceTravelled(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Distance)) df else withDistance(df, s)
    base.groupBy(s.idCol).agg(sum(col(Distance)).as("distance_travelled"))
  }

  /** K14 — distance travelled by one entity on one date
    * (kinematic_features.py:275-326). */
  def distanceTravelledByDate(df: DataFrame, s: TrajSchema, id: String, date: String): DataFrame =
    distanceTravelled(
      df.where(s.idCol === id && to_date(s.tsCol) === to_date(lit(date))),
      s
    )

  /** K16 — number of distinct (lat, lon) locations per entity
    * (kinematic_features.py:804-850). Exact; swap to approx_count_distinct
    * at 100 TB if the cardinality itself is the product. */
  def numberOfLocations(df: DataFrame, s: TrajSchema): DataFrame =
    df.groupBy(s.idCol).agg(countDistinct(s.latCol, s.lonCol).as("n_locations"))
}
