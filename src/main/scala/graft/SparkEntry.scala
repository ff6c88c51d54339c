package graft

import graft.asof.AsOfJoin
import graft.core.{Canonical, TrajSchema}
import graft.features.{Kinematic, Resample, Rolling, Temporal}
import graft.filters.{Filters, Hampel}
import graft.interp.{Fill, Interpolation}
import graft.kernels.Geo
import graft.session.Sessionize
import graft.stats.Stats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered query: the Spark builder over an sf dir and the DuckDB
  * SQL over the same parquet tables that its output must match. */
final case class QuerySpec(
    name: String, build: (SparkSession, String) => DataFrame, oracle: String)

/** Driver contract — one [[QuerySpec]] per implemented operator (SURVEY.md
  * §2); `queries` and `oracleSql` are the harness's views of [[specs]].
  *
  * Canonical trajectory view: the `events` table is the entity×timestamp
  * grid (user_id ≙ traj_id, ts monotone per user, (user_id, ts) unique).
  * lat/lon channels are derived from `value` with EXACT IEEE arithmetic only
  * (·, fmod, +) so Spark and DuckDB see bit-identical coordinates; the
  * extent is a ~1° box so trig-derived features keep absolute error ≪ the
  * output rounding grid (see the rounding-policy note below).
  *
  * Rounding policy (floating outputs only; both sides round identically):
  * trig-derived values are rounded where libm ulp differences between JVM
  * and DuckDB cannot flip the rounded value (distances ~1e5 m → 3 dp;
  * speeds/bearings → 6 dp; higher derivatives are smaller → finer is safe);
  * values on a decimal grid (sums/percentiles of rounded inputs) round fine
  * (4–6 dp) because exact results sit at grid centers; means/stds round to
  * 2 dp to absorb summation-order noise. `+ 0.0` kills negative zero.
  */
object SparkEntry {

  // ---------- canonical views ----------

  val S: TrajSchema = TrajSchema(orderCols = Seq("event_id"))

  /** Every testdata table read: `<dir>/<name>.parquet`, after the engine's
    * session policy ([[graft.core.Tuning]]). */
  def table(sp: SparkSession, dir: String, name: String): DataFrame = {
    graft.core.Tuning.ensureAdaptiveCachedPlans(sp)
    sp.read.parquet(s"$dir/$name.parquet")
  }

  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")

  /** Order validity windows for the interval-join queries: [orderdate,
    * orderdate + (orderkey mod 7 + 1) days) — deterministic multi-day,
    * naturally overlapping per customer (micros arithmetic; the oracle
    * mirrors with `+ n * INTERVAL 1 DAY`, identical instants under the
    * pinned UTC session). */
  private def orderIntervals(sp: SparkSession, dir: String): DataFrame = {
    val orders = table(sp, dir, "orders")
    val tsType = orders.schema("o_orderdate").dataType
    orders.select(
      col("o_custkey").as("user_id"),
      col("o_orderdate").as("iv_start"),
      graft.core.Times.fromMicros(graft.core.Times.micros(col("o_orderdate")) +
        (pmod(col("o_orderkey"), lit(7L)) + 1L) * 86400000000L, tsType).as("iv_end"),
      col("o_orderkey"), col("o_totalprice"))
  }

  /** Entity grid with exact-arithmetic lat/lon channels (~1° box). */
  def traj(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("user_id").cast("string").as("traj_id"),
      col("ts"),
      col("event_id"),
      (col("value") % 1.0 - 0.5 + 39.0).as("lat"),
      (col("value") * 7.0 % 1.0 - 0.5 + 116.0).as("lon")
    )

  /** [[traj]] with deterministically nulled channels — the fill operators'
    * fixture (the oracle applies the same `event_id mod` masks). */
  private def sparseTraj(sp: SparkSession, dir: String): DataFrame =
    traj(sp, dir)
      .withColumn("lat", when(pmod(col("event_id"), lit(7L)) < 3L, lit(null).cast("double")).otherwise(col("lat")))
      .withColumn("lon", when(pmod(col("event_id"), lit(5L)) < 2L, lit(null).cast("double")).otherwise(col("lon")))

  /** Committed traffic-format CSV fixture, resolved against the working
    * directory (the repository root) so both engines read the same file. */
  private val TrafficCsv: String =
    new java.io.File("src/test/resources/car_traffic_sample.csv").getAbsolutePath

  /** The same view in DuckDB SQL — MUST mirror the Spark expression order
    * op-for-op (all ops exact IEEE, so the two engines agree bitwise). */
  val TrajSql: String =
    """WITH traj AS (
      |  SELECT cast(user_id AS varchar) AS traj_id, ts, event_id,
      |         fmod(value, 1.0) - 0.5 + 39.0 AS lat,
      |         fmod(value * 7.0, 1.0) - 0.5 + 116.0 AS lon
      |  FROM events
      |)""".stripMargin

  /** Kinematic chain in DuckDB SQL, mirroring Kinematic.* value-for-value.
    * dt in exact micros; haversine/bearing transcribed in the same operation
    * order as graft.kernels.Geo. */
  val KinSql: String = TrajSql +
    """, lagd AS (
      |  SELECT traj_id, ts, event_id, lat, lon,
      |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
      |         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS dt,
      |         row_number() OVER w AS rn,
      |         first_value(lat) OVER w AS lat0, first_value(lon) OVER w AS lon0
      |  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
      |), kin0 AS (
      |  SELECT *,
      |    2 * atan2(sqrt(sin((radians(lat) - radians(plat)) / 2) * sin((radians(lat) - radians(plat)) / 2)
      |                   + cos(radians(plat)) * cos(radians(lat)) * sin((radians(lon) - radians(plon)) / 2) * sin((radians(lon) - radians(plon)) / 2)),
      |              sqrt(1.0 - (sin((radians(lat) - radians(plat)) / 2) * sin((radians(lat) - radians(plat)) / 2)
      |                   + cos(radians(plat)) * cos(radians(lat)) * sin((radians(lon) - radians(plon)) / 2) * sin((radians(lon) - radians(plon)) / 2)))) * 6371000.0
      |      AS dist,
      |    CASE WHEN rn = 1 THEN NULL ELSE
      |      2 * atan2(sqrt(sin((radians(lat) - radians(lat0)) / 2) * sin((radians(lat) - radians(lat0)) / 2)
      |                     + cos(radians(lat0)) * cos(radians(lat)) * sin((radians(lon) - radians(lon0)) / 2) * sin((radians(lon) - radians(lon0)) / 2)),
      |                sqrt(1.0 - (sin((radians(lat) - radians(lat0)) / 2) * sin((radians(lat) - radians(lat0)) / 2)
      |                     + cos(radians(lat0)) * cos(radians(lat)) * sin((radians(lon) - radians(lon0)) / 2) * sin((radians(lon) - radians(lon0)) / 2)))) * 6371000.0
      |    END AS dist_start,
      |    fmod(fmod(degrees(atan2(cos(radians(lat)) * sin(radians(lon) - radians(plon)),
      |                            cos(radians(plat)) * sin(radians(lat)) - sin(radians(plat)) * cos(radians(lat)) * cos(radians(lon) - radians(plon)))), 360.0) + 360.0, 360.0)
      |      AS brg
      |  FROM lagd
      |), kin1 AS (
      |  SELECT *, dist / dt AS speed,
      |         (brg - lag(brg) OVER w) / dt AS brate
      |  FROM kin0 WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
      |), kin2 AS (
      |  SELECT *, (speed - lag(speed) OVER w) / dt AS acc,
      |         (brate - lag(brate) OVER w) / dt AS robr_pre
      |  FROM kin1 WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
      |), kin AS (
      |  SELECT *, (acc - lag(acc) OVER w) / dt AS jerk
      |  FROM kin2 WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
      |)""".stripMargin

  /** round + negative-zero normalization, Spark side. */
  private[graft] def r(c: Column, d: Int): Column = round(c, d) + 0.0
  /** Same, SQL side. */
  private def rs(e: String, d: Int): String = s"round($e, $d) + 0.0"

  private def kin(spark: SparkSession, dir: String): DataFrame =
    Kinematic.withKinematics(traj(spark, dir), S)

  // ---------- flagship ----------

  /** Flagship: full fused kinematic feature vector (K11) on sf0.001. */
  def entry(spark: SparkSession): DataFrame = {
    val df = kin(spark, "/root/testdata/sf0.001")
    Canonical.cluster(df, S, 8)
  }

  private[graft] val kinOut: Seq[(String, String, Int)] = Seq(
    // (spark column, duckdb expr, round digits)
    // digits sized so that ~2e-15 relative libm noise cannot cross a
    // rounding-cell boundary even for the max observed magnitude at sf0.1
    // (min dt 0.06 s ⇒ jerk up to ~4e8)
    (Kinematic.Distance, "dist", 3),
    (Kinematic.DistanceFromStart, "dist_start", 3),
    (Kinematic.Speed, "speed", 3),
    (Kinematic.Acceleration, "acc", 2),
    (Kinematic.Jerk, "jerk", 2),
    (Kinematic.Bearing, "brg", 5),
    (Kinematic.BearingRate, "brate", 4),
    (Kinematic.RateOfBearingRate, "robr_pre", 3)
  )

  // ---------- the query registry ----------

  /** Every query, each declared once with its builder and its oracle.
    * Lazy: [[DocQueries]] reads this object's SQL views while it builds
    * its specs. */
  lazy val specs: Seq[QuerySpec] = {
    val all = DocQueries.specs ++ trajSpecs
    val dups = all.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(s => s.name -> s.build).toMap

  lazy val oracleSql: Map[String, String] = specs.map(s => s.name -> s.oracle).toMap

  /** The specs named, in the order given; fails naming every unknown name. */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val byName = specs.map(s => s.name -> s).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty,
      s"unknown queries: ${unknown.mkString(", ")} (${specs.size} are registered)")
    names.map(byName)
  }

  /** The as-of fixture: events as the probe (user_id, ts, event_id), orders
    * as the build (user_id, ts, o_orderkey, o_totalprice), keyed by
    * customer. */
  private[graft] def asOfSides(sp: SparkSession, dir: String): (DataFrame, DataFrame) = (
    events(sp, dir).select(col("user_id"), col("ts"), col("event_id")),
    table(sp, dir, "orders").select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
      col("o_orderkey"), col("o_totalprice")))

  private val AsOfValues = Seq("o_orderkey", "o_totalprice")

  /** A query joining [[asOfSides]] with `join`, projected onto
    * (event_id, asof_ts, o_orderkey, o_totalprice). */
  private def asOfSpec(name: String, oracle: String)(
      join: (DataFrame, DataFrame) => DataFrame): QuerySpec =
    QuerySpec(name, (sp, dir) => {
      val (probe, build) = asOfSides(sp, dir)
      join(probe, build)
        .select(col("event_id"), col("asof_ts"), col("o_orderkey"), col("o_totalprice"))
    }, oracle)

  // ONE oracle per as-of semantics — the window (v1), exec (v2), banded and
  // streaming formulations of the same direction verify against the SAME SQL
  private val backwardAsOfSql =
    """WITH ranked AS (
      |  SELECT e.event_id, o.o_orderdate, o.o_orderkey, o.o_totalprice,
      |         row_number() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rk
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |)
      |SELECT e.event_id, r.o_orderdate AS asof_ts, r.o_orderkey, r.o_totalprice
      |FROM events e LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rk = 1""".stripMargin
  private val nearestAsOfSql =
    """WITH back AS (
      |  SELECT e.event_id, o.o_orderdate, o.o_orderkey, o.o_totalprice,
      |         row_number() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rk
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
      |), fwd AS (
      |  SELECT e.event_id, o.o_orderdate, o.o_orderkey, o.o_totalprice,
      |         row_number() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rk
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate > e.ts
      |), pick AS (
      |  SELECT e.event_id,
      |    CASE WHEN b.o_orderdate IS NOT NULL AND (f.o_orderdate IS NULL
      |           OR epoch_us(e.ts) - epoch_us(b.o_orderdate) <= epoch_us(f.o_orderdate) - epoch_us(e.ts))
      |         THEN 'b' WHEN f.o_orderdate IS NOT NULL THEN 'f' END AS side,
      |    b.o_orderdate AS bts, b.o_orderkey AS bk, b.o_totalprice AS bp,
      |    f.o_orderdate AS fts, f.o_orderkey AS fk, f.o_totalprice AS fp
      |  FROM events e
      |  LEFT JOIN back b ON b.event_id = e.event_id AND b.rk = 1
      |  LEFT JOIN fwd f ON f.event_id = e.event_id AND f.rk = 1
      |)
      |SELECT event_id,
      |  CASE side WHEN 'b' THEN bts WHEN 'f' THEN fts END AS asof_ts,
      |  CASE side WHEN 'b' THEN bk WHEN 'f' THEN fk END AS o_orderkey,
      |  CASE side WHEN 'b' THEN bp WHEN 'f' THEN fp END AS o_totalprice
      |FROM pick""".stripMargin
  private val forwardAsOfSql =
    """WITH ranked AS (
      |  SELECT e.event_id, o.o_orderdate, o.o_orderkey, o.o_totalprice,
      |         row_number() OVER (PARTITION BY e.event_id
      |                            ORDER BY o.o_orderdate ASC, o.o_orderkey ASC) AS rk
      |  FROM events e JOIN orders o
      |    ON e.user_id = o.o_custkey AND o.o_orderdate >= e.ts
      |)
      |SELECT e.event_id, r.o_orderdate AS asof_ts, r.o_orderkey, r.o_totalprice
      |FROM events e LEFT JOIN ranked r ON r.event_id = e.event_id AND r.rk = 1""".stripMargin
  // order validity windows (mirror of orderIntervals)
  private val intervalIvSql =
    """iv AS (
      |  SELECT o_custkey AS user_id, o_orderdate AS s,
      |         o_orderdate + (o_orderkey % 7 + 1) * INTERVAL 1 DAY AS e,
      |         o_orderkey, o_totalprice
      |  FROM orders)""".stripMargin

  private def trajSpecs: Seq[QuerySpec] = Seq(
    // K11 — the fused 8-feature vector (flagship correctness query)
    QuerySpec("q_kin_features", (sp, dir) => {
      val base = kin(sp, dir)
      base.select(
        col("traj_id") +: col("event_id") +:
          kinOut.map { case (c, _, d) => r(col(c), d).as(c) }: _*
      )
    },
      {
        val kinFeat = kinOut.map { case (c, e, d) => s"${rs(e, d)} AS \"$c\"" }.mkString(", ")
        s"""$KinSql SELECT traj_id, event_id, $kinFeat FROM kin"""
      }),
    // K1 — consecutive haversine distance
    QuerySpec("q_kin_distance", (sp, dir) =>
      Kinematic.withDistance(traj(sp, dir), S)
        .select(col("traj_id"), col("event_id"), r(col(Kinematic.Distance), 3).as("distance")),
      s"""$KinSql SELECT traj_id, event_id, ${rs("dist", 3)} AS distance FROM kin"""),
    // K2 — distance from entity start
    QuerySpec("q_kin_distance_start", (sp, dir) =>
      Kinematic.withDistanceFromStart(traj(sp, dir), S)
        .select(col("traj_id"), col("event_id"), r(col(Kinematic.DistanceFromStart), 3).as("distance_start")),
      s"""$KinSql SELECT traj_id, event_id, ${rs("dist_start", 3)} AS distance_start FROM kin"""),
    // K3 — distance from a fixed point
    QuerySpec("q_kin_distance_point", (sp, dir) =>
      Kinematic.withDistanceFromPoint(traj(sp, dir), S, 39.0, 116.0)
        .select(col("traj_id"), col("event_id"), r(col("`Distance_from_(39.0, 116.0)`"), 3).as("dist_point")),
      s"""$TrajSql SELECT traj_id, event_id, ${rs(havSql("39.0", "116.0", "lat", "lon"), 3)} AS dist_point FROM traj"""),
    // K4 — within-range indicator (predicate on rounded distance for
    // engine-exact boundaries)
    QuerySpec("q_kin_within_range", (sp, dir) =>
      traj(sp, dir).select(
        col("traj_id"), col("event_id"),
        (r(Geo.haversine(lit(39.0), lit(116.0), col("lat"), col("lon")), 3) <= 50000.0).as("within_50km")),
      s"""$TrajSql SELECT traj_id, event_id, (${rs(havSql("39.0", "116.0", "lat", "lon"), 3)}) <= 50000.0 AS within_50km FROM traj"""),
    // K5 — speed
    QuerySpec("q_kin_speed", (sp, dir) =>
      Kinematic.withSpeed(traj(sp, dir), S)
        .select(col("traj_id"), col("event_id"), r(col(Kinematic.Speed), 3).as("speed")),
      s"""$KinSql SELECT traj_id, event_id, ${rs("speed", 3)} AS speed FROM kin"""),
    // K6/K7 — acceleration + jerk
    QuerySpec("q_kin_acc_jerk", (sp, dir) =>
      Kinematic.withJerk(traj(sp, dir), S)
        .select(col("traj_id"), col("event_id"),
          r(col(Kinematic.Acceleration), 2).as("acceleration"),
          r(col(Kinematic.Jerk), 2).as("jerk")),
      s"""$KinSql SELECT traj_id, event_id, ${rs("acc", 2)} AS acceleration, ${rs("jerk", 2)} AS jerk FROM kin"""),
    // K8/K9/K10 — bearing chain
    QuerySpec("q_kin_bearing_chain", (sp, dir) =>
      Kinematic.withRateOfBearingRate(traj(sp, dir), S)
        .select(col("traj_id"), col("event_id"),
          r(col(Kinematic.Bearing), 5).as("bearing"),
          r(col(Kinematic.BearingRate), 4).as("bearing_rate"),
          r(col(Kinematic.RateOfBearingRate), 3).as("rate_of_bearing_rate")),
      s"""$KinSql SELECT traj_id, event_id, ${rs("brg", 5)} AS bearing, ${rs("brate", 4)} AS bearing_rate, ${rs("robr_pre", 3)} AS rate_of_bearing_rate FROM kin"""),
    // K12 — global bounding box (exact channel values — no rounding)
    QuerySpec("q_kin_bbox", (sp, dir) => Kinematic.boundingBox(traj(sp, dir), S),
      s"""$TrajSql SELECT min(lat) AS lat_min, min(lon) AS lon_min, max(lat) AS lat_max, max(lon) AS lon_max FROM traj"""),
    // K13 — per-entity start/end locations
    QuerySpec("q_kin_start_end", (sp, dir) => Kinematic.startEndLocations(traj(sp, dir), S),
      s"""$TrajSql SELECT traj_id, arg_min(lat, ts) AS start_lat, arg_min(lon, ts) AS start_lon,
         |arg_max(lat, ts) AS end_lat, arg_max(lon, ts) AS end_lon FROM traj GROUP BY traj_id""".stripMargin),
    // K15 — per-entity distance travelled (sum of rounded → decimal grid)
    QuerySpec("q_kin_distance_travelled", (sp, dir) => {
      val d = Kinematic.withDistance(traj(sp, dir), S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
      d.groupBy(col("traj_id"))
        .agg(r(sum(col(Kinematic.Distance)), 4).as("distance_travelled"))
    },
      s"""$KinSql SELECT traj_id, ${rs("sum(round(dist, 3) + 0.0)", 4)} AS distance_travelled FROM kin GROUP BY traj_id"""),
    // K14 — distance travelled by one entity on one date (same
    // grid-rounding discipline as K15: round terms, sum on the grid)
    QuerySpec("q_kin_dist_by_date", (sp, dir) => {
      val t = traj(sp, dir)
        .where(col("traj_id") === "7" && to_date(col("ts")) === to_date(lit("2024-01-15")))
      val d = Kinematic.withDistance(t, S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
      d.groupBy(col("traj_id")).agg(r(sum(col(Kinematic.Distance)), 4).as("distance_travelled"))
    },
      s"""$TrajSql, f AS (
         |  SELECT * FROM traj WHERE traj_id = '7' AND cast(ts AS date) = DATE '2024-01-15'
         |), lagd AS (
         |  SELECT traj_id, ts, lat, lon, lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
         |  FROM f WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
         |)
         |SELECT traj_id, ${rs(s"sum(round(${havSql("plat", "plon", "lat", "lon")}, 3) + 0.0)", 4)} AS distance_travelled
         |FROM lagd GROUP BY traj_id""".stripMargin),
    // statViz treemap data (visualization/statViz.py:26-88): per entity,
    // total distance (K15) ÷ whole days of duration (T6, int(dt.days)) —
    // ONE row per trajectory, the exact statistic the reference plots
    QuerySpec("q_viz_avg_dist_per_day", (sp, dir) => {
      val d = Kinematic.withDistance(traj(sp, dir), S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
      d.groupBy(col("traj_id"))
        .agg(
          (r(sum(col(Kinematic.Distance)), 4) /
            nullif(floor((max(graft.core.Times.micros(col("ts"))) - min(graft.core.Times.micros(col("ts")))) / 86400000000L), lit(0)).cast("double")
          ).as("avg_dist_per_day"))
    },
      s"""$KinSql SELECT traj_id,
         |(${rs("sum(round(dist, 3) + 0.0)", 4)}) / cast(nullif(floor((max(epoch_us(ts)) - min(epoch_us(ts))) / 86400000000), 0) AS double) AS avg_dist_per_day
         |FROM kin GROUP BY traj_id""".stripMargin),
    // K16 — distinct locations per entity
    QuerySpec("q_kin_n_locations", (sp, dir) => Kinematic.numberOfLocations(traj(sp, dir), S),
      s"""$TrajSql SELECT traj_id, count(DISTINCT (lat, lon)) AS n_locations FROM traj GROUP BY traj_id"""),

    // T1–T5 — fused temporal features
    QuerySpec("q_tmp_features", (sp, dir) =>
      Temporal.withTemporals(traj(sp, dir), S)
        .select(col("traj_id"), col("event_id"), col("Date"), col("Time"),
          col("Day_Of_Week"), col("Weekend"), col("Time_Of_Day")),
      s"""$TrajSql SELECT traj_id, event_id, cast(ts AS date) AS "Date",
         |strftime(ts, '%H:%M:%S') AS "Time", dayname(ts) AS "Day_Of_Week",
         |dayofweek(ts) IN (0, 6) AS "Weekend",
         |CASE WHEN hour(ts) <= 4 THEN 'Late Night' WHEN hour(ts) <= 8 THEN 'Early Morning'
         |     WHEN hour(ts) <= 12 THEN 'Morning' WHEN hour(ts) <= 16 THEN 'Noon'
         |     WHEN hour(ts) <= 20 THEN 'Evening' ELSE 'Night' END AS "Time_Of_Day"
         |FROM traj""".stripMargin),
    // T6 — per-entity duration (exact micros arithmetic)
    QuerySpec("q_tmp_duration", (sp, dir) => Temporal.trajDuration(traj(sp, dir), S),
      s"""$TrajSql SELECT traj_id, (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS duration_sec FROM traj GROUP BY traj_id"""),
    // T7 — per-entity start/end timestamps
    QuerySpec("q_tmp_start_end", (sp, dir) => Temporal.startEndTimes(traj(sp, dir), S),
      s"""$TrajSql SELECT traj_id, min(ts) AS start_time, max(ts) AS end_time FROM traj GROUP BY traj_id"""),

    // F1 — dedup (events are unique; dedup over a coarsened copy to make it
    // a real test: duplicate keys created by flooring ts to the hour)
    QuerySpec("q_flt_dedup", (sp, dir) => {
      val t = traj(sp, dir).withColumn("ts", date_trunc("hour", col("ts"))).drop("event_id")
      Filters.removeDuplicates(t, S).groupBy(col("traj_id")).agg(count(lit(1)).as("n"))
    },
      s"""$TrajSql SELECT traj_id, count(*) AS n FROM (
         |  SELECT DISTINCT traj_id, date_trunc('hour', ts) AS ts2, lat, lon FROM traj
         |) GROUP BY traj_id""".stripMargin),
    // F2 — by entity id
    QuerySpec("q_flt_by_id", (sp, dir) =>
      Filters.byTrajId(traj(sp, dir), S, "7").select(col("traj_id"), col("event_id")),
      s"""$TrajSql SELECT traj_id, event_id FROM traj WHERE traj_id = '7'"""),
    // F4 — bounding box (exact lat/lon)
    QuerySpec("q_flt_bbox", (sp, dir) =>
      Filters.byBoundingBox(traj(sp, dir), S, (38.8, 115.7, 39.2, 116.3))
        .select(col("traj_id"), col("event_id")),
      s"""$TrajSql SELECT traj_id, event_id FROM traj
         |WHERE lat BETWEEN 38.8 AND 39.2 AND lon BETWEEN 115.7 AND 116.3""".stripMargin),
    // F4 complement
    QuerySpec("q_flt_bbox_outside", (sp, dir) =>
      Filters.byBoundingBox(traj(sp, dir), S, (38.8, 115.7, 39.2, 116.3), inside = false)
        .select(col("traj_id"), col("event_id")),
      s"""$TrajSql SELECT traj_id, event_id FROM traj
         |WHERE NOT (lat BETWEEN 38.8 AND 39.2 AND lon BETWEEN 115.7 AND 116.3)""".stripMargin),
    // F5 — by date range
    QuerySpec("q_flt_by_date", (sp, dir) =>
      Filters.byDate(traj(sp, dir), S, "2024-01-10", "2024-01-20")
        .select(col("traj_id"), col("event_id")),
      s"""$TrajSql SELECT traj_id, event_id FROM traj
         |WHERE cast(ts AS date) BETWEEN DATE '2024-01-10' AND DATE '2024-01-20'""".stripMargin),
    // F6 — by datetime range
    QuerySpec("q_flt_by_datetime", (sp, dir) =>
      Filters.byDateTime(traj(sp, dir), S, "2024-01-10 06:30:00", "2024-01-20 18:15:00")
        .select(col("traj_id"), col("event_id")),
      s"""$TrajSql SELECT traj_id, event_id FROM traj
         |WHERE ts BETWEEN TIMESTAMP '2024-01-10 06:30:00' AND TIMESTAMP '2024-01-20 18:15:00'""".stripMargin),
    // F7/F8 — speed band (predicates on rounded speed)
    QuerySpec("q_flt_speed_band", (sp, dir) => {
      val t = Kinematic.withSpeed(traj(sp, dir), S)
        .withColumn(Kinematic.Speed, r(col(Kinematic.Speed), 2))
      Filters.byMinSpeed(Filters.byMaxSpeed(t, S, 40.0), S, 0.5)
        .select(col("traj_id"), col("event_id"))
    },
      s"""$KinSql SELECT traj_id, event_id FROM kin
         |WHERE coalesce(${rs("speed", 2)}, 41.0) <= 40.0 AND coalesce(${rs("speed", 2)}, -0.5) >= 0.5""".stripMargin),
    // F9/F10 — consecutive-distance band
    QuerySpec("q_flt_dist_band", (sp, dir) => {
      val t = Kinematic.withDistance(traj(sp, dir), S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
      Filters.byMaxConsecutiveDistance(Filters.byMinConsecutiveDistance(t, S, 1000.0), S, 100000.0)
        .select(col("traj_id"), col("event_id"))
    },
      s"""$KinSql SELECT traj_id, event_id FROM kin
         |WHERE coalesce(${rs("dist", 3)}, 999.0) >= 1000.0 AND coalesce(${rs("dist", 3)}, 100001.0) <= 100000.0""".stripMargin),
    // F11 — max-distance ∧ max-speed conjunction
    QuerySpec("q_flt_max_dist_speed", (sp, dir) => {
      val t = Kinematic.withSpeed(traj(sp, dir), S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
        .withColumn(Kinematic.Speed, r(col(Kinematic.Speed), 2))
      Filters.byMaxDistanceAndSpeed(t, S, 50000.0, 30.0)
        .select(col("traj_id"), col("event_id"))
    },
      s"""$KinSql SELECT traj_id, event_id FROM kin
         |WHERE ${rs("dist", 3)} <= 50000.0 AND ${rs("speed", 2)} <= 30.0""".stripMargin),
    // F12 — min-distance ∧ min-speed conjunction (nulls dropped, 3VL)
    QuerySpec("q_flt_min_dist_speed", (sp, dir) => {
      val t = Kinematic.withSpeed(traj(sp, dir), S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
        .withColumn(Kinematic.Speed, r(col(Kinematic.Speed), 2))
      Filters.byMinDistanceAndSpeed(t, S, 500.0, 1.0)
        .select(col("traj_id"), col("event_id"))
    },
      s"""$KinSql SELECT traj_id, event_id FROM kin
         |WHERE ${rs("dist", 3)} >= 500.0 AND ${rs("speed", 2)} >= 1.0""".stripMargin),
    // F13 — IQR outlier fence on (rounded) distance
    QuerySpec("q_flt_iqr_distance", (sp, dir) => {
      val t = Kinematic.withDistance(traj(sp, dir), S)
        .withColumn(Kinematic.Distance, r(col(Kinematic.Distance), 3))
      Filters.outliersByConsecutiveDistance(t, S).select(col("traj_id"), col("event_id"))
    },
      s"""$KinSql, rd AS (SELECT traj_id, event_id, ${rs("dist", 3)} AS d FROM kin),
         |q AS (SELECT quantile_cont(d, 0.25) AS q1, quantile_cont(d, 0.75) AS q3 FROM rd)
         |SELECT traj_id, event_id FROM rd, q
         |WHERE d > q1 - 1.5 * (q3 - q1) AND d < q3 + 1.5 * (q3 - q1)""".stripMargin),
    // F14 — IQR outlier fence on (rounded) speed
    QuerySpec("q_flt_iqr_speed", (sp, dir) => {
      val t = Kinematic.withSpeed(traj(sp, dir), S)
        .withColumn(Kinematic.Speed, r(col(Kinematic.Speed), 2))
      Filters.outliersByConsecutiveSpeed(t, S).select(col("traj_id"), col("event_id"))
    },
      s"""$KinSql, rd AS (SELECT traj_id, event_id, ${rs("speed", 2)} AS v FROM kin),
         |q AS (SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3 FROM rd)
         |SELECT traj_id, event_id FROM rd, q
         |WHERE v > q1 - 1.5 * (q3 - q1) AND v < q3 + 1.5 * (q3 - q1)""".stripMargin),
    // F15 — remove short trajectories
    QuerySpec("q_flt_min_points", (sp, dir) =>
      Filters.removeShortTrajectories(traj(sp, dir), S, 60)
        .groupBy(col("traj_id")).agg(count(lit(1)).as("n")),
      s"""$TrajSql SELECT traj_id, count(*) AS n FROM traj GROUP BY traj_id HAVING count(*) >= 60"""),
    // F16 — Hampel on the exact lat channel
    QuerySpec("q_flt_hampel", (sp, dir) =>
      Hampel.filter(traj(sp, dir), S, "lat", k = 5, nSigma = 3.0)
        .select(col("traj_id"), col("event_id")),
      s"""$TrajSql, win AS (
         |  SELECT traj_id, event_id, lat,
         |    list_sort(list(lat) OVER frame) AS arr,
         |    count(*) OVER (PARTITION BY traj_id ORDER BY ts, event_id ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS nb,
         |    count(*) OVER (PARTITION BY traj_id ORDER BY ts, event_id ROWS BETWEEN 1 FOLLOWING AND 5 FOLLOWING) AS na
         |  FROM traj WINDOW frame AS (PARTITION BY traj_id ORDER BY ts, event_id ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
         |), med AS (
         |  SELECT *, (arr[(len(arr) + 1) // 2] + arr[len(arr) // 2 + 1]) / 2.0 AS m FROM win
         |), dev AS (
         |  SELECT *, list_sort(list_transform(arr, x -> abs(x - m))) AS l FROM med
         |), mad AS (
         |  SELECT *, (l[(len(l) + 1) // 2] + l[len(l) // 2 + 1]) / 2.0 AS md FROM dev
         |)
         |SELECT traj_id, event_id FROM mad
         |WHERE NOT (nb = 5 AND na = 5 AND lat IS NOT NULL AND abs(lat - m) >= md * ${3.0 * Hampel.MadScale})""".stripMargin),
    // F3 — bounding box by radius (driver-side scalar like the reference;
    // golden vector at ptrail/preprocessing/tests/filters_test.py:42-45,
    // asserted in FiltersSpec — this row puts it on the oracle gate too)
    QuerySpec("q_flt_bbox_radius", (sp, _) => {
      val (latMin, lonMin, latMax, lonMax) = Geo.boundingBoxByRadius(39.0, 116.0, 100000.0)
      sp.range(1).select(
        r(lit(latMin), 9).as("min_lat"), r(lit(lonMin), 9).as("min_lon"),
        r(lit(latMax), 9).as("max_lat"), r(lit(lonMax), 9).as("max_lon"))
    },
      // mirror of Geo.boundingBoxByRadius(39, 116, 100000): Δlat = r/R,
      // Δlon = asin(sin Δlat / cos lat); 9 dp absorbs libm ulp noise
      """SELECT
        |  round(degrees(radians(39.0) - 100000.0 / 6371000.0), 9) + 0.0 AS min_lat,
        |  round(degrees(radians(116.0) - asin(sin(100000.0 / 6371000.0) / cos(radians(39.0)))), 9) + 0.0 AS min_lon,
        |  round(degrees(radians(39.0) + 100000.0 / 6371000.0), 9) + 0.0 AS max_lat,
        |  round(degrees(radians(116.0) + asin(sin(100000.0 / 6371000.0) / cos(radians(39.0)))), 9) + 0.0 AS max_lon""".stripMargin),
    // S2 — reference dataset loader (column mapping + canonical coercion)
    // over the committed traffic-format CSV fixture
    QuerySpec("q_src_traffic_loader", (sp, _) => {
      val (df, _) = graft.sources.Datasets.load(
        sp, "traffic", TrafficCsv)
      df.select(col("traj_id"), col("ts"), col("lat"), col("lon"), col("velocity"))
    },
      s"""SELECT cast(traj_id AS varchar) AS traj_id, cast(DateTime AS timestamp) AS ts,
        |  cast(lat AS double) AS lat, cast("long" AS double) AS lon, velocity
        |FROM read_csv_auto('$TrafficCsv', header = true)""".stripMargin),

    // G-gap — sessionize (exact micros comparison)
    QuerySpec("q_ses_gap", (sp, dir) =>
      Sessionize.byGap(traj(sp, dir), S, 7200.0)
        .select(col("traj_id"), col("event_id"), col("session_id")),
      s"""$TrajSql, bnd AS (
         |  SELECT traj_id, ts, event_id,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 7200000000 THEN 1 ELSE 0 END AS b
         |  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
         |)
         |SELECT traj_id, event_id,
         |  cast(sum(b) OVER (PARTITION BY traj_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |FROM bnd""".stripMargin),
    // per-session stats
    QuerySpec("q_ses_stats", (sp, dir) =>
      Sessionize.sessionStats(Sessionize.byGap(traj(sp, dir), S, 7200.0), S),
      s"""$TrajSql, bnd AS (
         |  SELECT traj_id, ts, event_id,
         |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 7200000000 THEN 1 ELSE 0 END AS b
         |  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
         |), ses AS (
         |  SELECT traj_id, ts,
         |  cast(sum(b) OVER (PARTITION BY traj_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         |  FROM bnd
         |)
         |SELECT traj_id, session_id, count(*) AS n_points, min(ts) AS session_start, max(ts) AS session_end,
         |(max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS duration_sec
         |FROM ses GROUP BY traj_id, session_id""".stripMargin),
    // G1 — segment by days
    QuerySpec("q_seg_days", (sp, dir) =>
      Sessionize.byDays(traj(sp, dir), S, 7)
        .select(col("traj_id"), col("event_id"), col("seg_id")),
      s"""$TrajSql SELECT traj_id, event_id,
         |cast(floor(date_diff('day', min(cast(ts AS date)) OVER (PARTITION BY traj_id), cast(ts AS date)) / 7) AS bigint) AS seg_id
         |FROM traj""".stripMargin),

    // G1 exact-match — the reference's overlapping-suffix segmentation
    QuerySpec("q_seg_days_overlap", (sp, dir) =>
      Sessionize.byDaysOverlapping(traj(sp, dir), S, 7)
        .select(col("traj_id"), col("event_id"), col("seg_id")),
      {
        val d = 7L * 86400L * 1000000L
        s"""$TrajSql, spans AS (
           |  SELECT traj_id, min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
           |  FROM traj GROUP BY traj_id
           |), segs AS (
           |  SELECT traj_id, s AS seg_id,
           |         cast(make_timestamp(tmin + (s - 1) * $d) AS date) AS seg_start
           |  FROM spans, unnest(generate_series(1, greatest((tmax - tmin - 1) // $d, 0))) AS g(s)
           |)
           |SELECT t.traj_id, t.event_id, seg_id
           |FROM traj t JOIN segs USING (traj_id)
           |WHERE cast(t.ts AS date) >= seg_start""".stripMargin
      }),

    // As-of join — most recent order per user at event time
    asOfSpec("q_asof_orders", backwardAsOfSql)((probe, build) =>
      AsOfJoin.backward(probe, build, "user_id", "ts", AsOfValues, buildOrder = Seq("o_orderkey"))),

    // As-of v2 — same semantics through the Catalyst-native merge exec
    // (AsOfMergeExec): co-partitioned children, streaming merge, no union
    // sort
    asOfSpec("q_asof_orders_merge", backwardAsOfSql)((probe, build) =>
      graft.asof.AsOfMerge.backward(probe, build, "user_id", "ts", AsOfValues, buildOrder = Seq("o_orderkey"))),

    // As-of banded — whale-entity splitting over (entity, 30-day band)
    // groups with carry-row replication; exact backward semantics, bounded
    // per-task rows
    asOfSpec("q_asof_orders_banded", backwardAsOfSql)((probe, build) =>
      graft.asof.AsOfBanded.backwardBanded(probe, build, "user_id", "ts", AsOfValues,
        bandSeconds = 30 * 86400.0, buildOrder = Seq("o_orderkey"))),

    // banded FORWARD/NEAREST — same whale-splitting, mirrored/two-sided
    // carries
    asOfSpec("q_asof_forward_banded", forwardAsOfSql)((probe, build) =>
      graft.asof.AsOfBanded.forwardBanded(probe, build, "user_id", "ts", AsOfValues,
        bandSeconds = 30 * 86400.0, buildOrder = Seq("o_orderkey"))),
    asOfSpec("q_asof_nearest_banded", nearestAsOfSql)((probe, build) =>
      graft.asof.AsOfBanded.nearestBanded(probe, build, "user_id", "ts", AsOfValues,
        bandSeconds = 30 * 86400.0, buildOrder = Seq("o_orderkey"))),

    // Point-in-interval join — events matched to multi-day order validity
    // windows [orderdate, orderdate + 1..7 days). q_asof_interval is the
    // general banded range join (exact under overlap); _align is the as-of
    // reduction with its own "latest start ≤ ts, if still open" semantics.
    QuerySpec("q_asof_interval", (sp, dir) => {
      val probe = events(sp, dir).select(col("event_id"), col("user_id"), col("ts"))
      graft.asof.IntervalJoin.banded(probe, orderIntervals(sp, dir), "user_id", "ts",
          "iv_start", "iv_end", AsOfValues,
          probeKey = "event_id", bandSec = 7 * 86400.0, buildOrder = Seq("o_orderkey"))
        .select(col("event_id"), col("interval_start"), col("interval_end"),
          col("o_orderkey"), col("o_totalprice"))
    },
      s"""WITH $intervalIvSql
         |SELECT e2.event_id, iv.s AS interval_start, iv.e AS interval_end,
         |       iv.o_orderkey, iv.o_totalprice
         |FROM events e2 LEFT JOIN iv
         |  ON iv.user_id = e2.user_id AND iv.s <= e2.ts AND e2.ts < iv.e
         |QUALIFY row_number() OVER (PARTITION BY e2.event_id
         |  ORDER BY iv.s DESC NULLS LAST, iv.o_orderkey DESC NULLS LAST) = 1""".stripMargin),
    QuerySpec("q_asof_interval_align", (sp, dir) => {
      val probe = events(sp, dir).select(col("event_id"), col("user_id"), col("ts"))
      graft.asof.IntervalJoin.align(probe, orderIntervals(sp, dir), "user_id", "ts",
          "iv_start", "iv_end", AsOfValues, buildOrder = Seq("o_orderkey"))
        .select(col("event_id"), col("interval_start"), col("interval_end"),
          col("o_orderkey"), col("o_totalprice"))
    },
      s"""WITH $intervalIvSql,
         |cand AS (
         |  SELECT e2.event_id, e2.ts, iv.s, iv.e, iv.o_orderkey, iv.o_totalprice,
         |    row_number() OVER (PARTITION BY e2.event_id
         |      ORDER BY iv.s DESC NULLS LAST, iv.o_orderkey DESC NULLS LAST) AS rn
         |  FROM events e2 LEFT JOIN iv ON iv.user_id = e2.user_id AND iv.s <= e2.ts)
         |SELECT event_id,
         |  CASE WHEN e > ts THEN s END AS interval_start,
         |  CASE WHEN e > ts THEN e END AS interval_end,
         |  CASE WHEN e > ts THEN o_orderkey END AS o_orderkey,
         |  CASE WHEN e > ts THEN o_totalprice END AS o_totalprice
         |FROM cand WHERE rn = 1""".stripMargin),

    // As-of directions — forward (earliest future-or-equal) and nearest
    // (min |Δt|, backward wins ties); both one-exchange-one-sort like
    // backward
    asOfSpec("q_asof_forward", forwardAsOfSql)((probe, build) =>
      AsOfJoin.forward(probe, build, "user_id", "ts", AsOfValues, buildOrder = Seq("o_orderkey"))),
    // forward through the custom Catalyst exec (streaming merge on the
    // mirrored sort)
    asOfSpec("q_asof_forward_merge", forwardAsOfSql)((probe, build) =>
      graft.asof.AsOfMerge.forward(probe, build, "user_id", "ts", AsOfValues, buildOrder = Seq("o_orderkey"))),
    asOfSpec("q_asof_nearest", nearestAsOfSql)((probe, build) =>
      AsOfJoin.nearest(probe, build, "user_id", "ts", AsOfValues, buildOrder = Seq("o_orderkey"))),
    // nearest through the custom exec: ONE merge pass — backward candidate
    // retained, forward candidate peeked from the iterator head
    asOfSpec("q_asof_nearest_merge", nearestAsOfSql)((probe, build) =>
      graft.asof.AsOfMerge.nearest(probe, build, "user_id", "ts", AsOfValues, buildOrder = Seq("o_orderkey"))),

    // C1 — visited_location: layer = user 7's distinct points
    QuerySpec("q_ctx_visited", (sp, dir) => {
      val t = traj(sp, dir)
      val layer = t.where(col("traj_id") === "7").select(col("lat"), col("lon"))
        .withColumn("loc_name", lit("den"))
      graft.features.Contextual.visitedLocation(t, S, layer, "den", "loc_name")
        .select(col("traj_id"), col("event_id"), col("Visited_den"))
    },
      s"""$TrajSql, layer AS (SELECT DISTINCT lat, lon FROM traj WHERE traj_id = '7')
         |SELECT t.traj_id, t.event_id,
         |  CASE WHEN l.lat IS NOT NULL THEN 1 ELSE 0 END AS "Visited_den"
         |FROM traj t LEFT JOIN layer l ON t.lat = l.lat AND t.lon = l.lon""".stripMargin),
    // C2 — visited_poi: surrounding rows = user 3's points with a synthetic
    // dist-to-POI channel (exact arithmetic)
    QuerySpec("q_ctx_visited_poi", (sp, dir) => {
      val t = traj(sp, dir)
      val sur = t.where(col("traj_id") === "3")
        .select(col("lat"), col("lon"), (col("lat") * 1000.0).as("dist_poi"))
      graft.features.Contextual.visitedPoi(t, S, sur, "dist_poi", 5000.0)
        .select(col("traj_id"), col("event_id"), col("Nearby_POI"))
    },
      s"""$TrajSql, sur AS (SELECT lat AS slat, lon AS slon, lat * 1000.0 AS sdist FROM traj WHERE traj_id = '3')
         |SELECT t.traj_id, t.event_id,
         |  EXISTS(SELECT 1 FROM sur s WHERE abs(${havSql("t.lat", "t.lon", "s.slat", "s.slon")} - s.sdist) <= 5000.0) AS "Nearby_POI"
         |FROM traj t""".stripMargin),
    // C3 — point-in-polygon clip (ray casting as a column expression)
    QuerySpec("q_ctx_polygon", (sp, dir) =>
      graft.features.Contextual
        .insidePolygon(traj(sp, dir), S, Seq((38.7, 115.6), (39.4, 115.9), (39.3, 116.45), (38.8, 116.3)))
        .select(col("traj_id"), col("event_id")),
      s"""$TrajSql SELECT traj_id, event_id FROM traj
         |WHERE ${polySql(Seq((38.7, 115.6), (39.4, 115.9), (39.3, 116.45), (38.8, 116.3)))}""".stripMargin),
    // C4 — intersect two clipped trajectories on exact shared coordinates
    QuerySpec("q_ctx_intersect", (sp, dir) => {
      val t = traj(sp, dir)
      val poly = Seq((38.5, 115.5), (39.5, 115.5), (39.5, 116.5), (38.5, 116.5))
      graft.features.Contextual.intersectInsidePolygon(
        t.where(col("traj_id") === "7"), t.where(col("traj_id") === "3"), S, poly)
    },
      s"""$TrajSql, clipped AS (SELECT * FROM traj WHERE ${polySql(Seq((38.5, 115.5), (39.5, 115.5), (39.5, 116.5), (38.5, 116.5)))}),
         |a AS (SELECT traj_id AS traj_id_1, ts AS ts_1, lat, lon FROM clipped WHERE traj_id = '7'),
         |b AS (SELECT traj_id AS traj_id_2, ts AS ts_2, lat, lon FROM clipped WHERE traj_id = '3')
         |SELECT traj_id_1, traj_id_2, ts_1, ts_2, a.lat, a.lon
         |FROM a JOIN b USING (lat, lon)""".stripMargin),
    // C5 (offline) — nearest POI per point (deterministic argmin)
    QuerySpec("q_ctx_nearest_poi", (sp, dir) => {
      val t = traj(sp, dir)
      val pois = t.where(col("traj_id") === "3" && col("event_id") % 5 === 0)
        .select(col("event_id").as("poi_id"), col("lat").as("poi_lat"), col("lon").as("poi_lon"))
      graft.features.Contextual.nearestPoi(t, S, pois, Seq("traj_id", "event_id"))
    },
      s"""$TrajSql, poi AS (
         |  SELECT event_id AS poi_id, lat AS plat, lon AS plon FROM traj
         |  WHERE traj_id = '3' AND event_id % 5 = 0
         |), scored AS (
         |  SELECT t.traj_id, t.event_id, p.poi_id,
         |         ${rs(havSql("p.plat", "p.plon", "t.lat", "t.lon"), 3)} AS d
         |  FROM traj t CROSS JOIN poi p
         |)
         |SELECT traj_id, event_id, d AS nearest_poi_dist, poi_id AS nearest_poi
         |FROM scored
         |QUALIFY row_number() OVER (PARTITION BY traj_id, event_id ORDER BY d, poi_id) = 1""".stripMargin),
    // S4 — NSEW degree-string conversion (strings built from exact ints)
    QuerySpec("q_cnv_directions", (sp, dir) => {
      val src = events(sp, dir).select(
        col("event_id"),
        concat((col("event_id") % 90).cast("string"), lit("."), (col("event_id") % 100).cast("string"),
          when(col("event_id") % 2 === 0, "N").otherwise("S")).as("lat_s"),
        concat((col("event_id") % 270).cast("string"), lit("."), (col("event_id") % 100).cast("string"),
          when(col("event_id") % 3 === 0, "E").otherwise("W")).as("lon_s")
      )
      src.select(
        col("event_id"),
        graft.features.Conversions.parseLat(col("lat_s")).as("lat"),
        graft.features.Conversions.parseLon(col("lon_s")).as("lon")
      )
    },
      """WITH src AS (
        |  SELECT event_id,
        |    (event_id % 90)::VARCHAR || '.' || (event_id % 100)::VARCHAR ||
        |      (CASE WHEN event_id % 2 = 0 THEN 'N' ELSE 'S' END) AS lat_s,
        |    (event_id % 270)::VARCHAR || '.' || (event_id % 100)::VARCHAR ||
        |      (CASE WHEN event_id % 3 = 0 THEN 'E' ELSE 'W' END) AS lon_s
        |  FROM events
        |)
        |SELECT event_id,
        |  CASE WHEN upper(trim(lat_s)) LIKE '%N'
        |       THEN substring(trim(lat_s), 1, length(trim(lat_s)) - 1)::DOUBLE
        |       ELSE substring(trim(lat_s), 1, length(trim(lat_s)) - 1)::DOUBLE * -1 END AS lat,
        |  CASE WHEN upper(trim(lon_s)) LIKE '%E'
        |       THEN substring(trim(lon_s), 1, length(trim(lon_s)) - 1)::DOUBLE
        |       ELSE CASE WHEN substring(trim(lon_s), 1, length(trim(lon_s)) - 1)::DOUBLE * -1 < -180.0
        |                 THEN substring(trim(lon_s), 1, length(trim(lon_s)) - 1)::DOUBLE * -1 + 360
        |                 ELSE substring(trim(lon_s), 1, length(trim(lon_s)) - 1)::DOUBLE * -1 END END AS lon
        |FROM src""".stripMargin),
    // stay-point sessionization (north rule) — exact haversine on rounded
    // distance predicate for engine-exact run boundaries
    QuerySpec("q_ses_staypoint", (sp, dir) =>
      Sessionize.byStayPoint(traj(sp, dir), S, distM = 50000.0, minStopSeconds = 3600.0)
        .select(col("traj_id"), col("event_id"), col("is_stop")),
      s"""$TrajSql, mv AS (
         |  SELECT traj_id, ts, event_id,
         |    coalesce(${havSql("lag(lat) OVER w", "lag(lon) OVER w", "lat", "lon")} > 50000.0, TRUE) AS moving
         |  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
         |), bnd AS (
         |  SELECT *, CASE WHEN moving != coalesce(lag(moving) OVER w, NOT moving) THEN 1 ELSE 0 END AS b
         |  FROM mv WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id)
         |), runs AS (
         |  SELECT *, sum(b) OVER (PARTITION BY traj_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
         |  FROM bnd
         |), spans AS (
         |  SELECT *, (max(epoch_us(ts)) OVER r - min(epoch_us(ts)) OVER r) / 1000000.0 AS run_sec
         |  FROM runs WINDOW r AS (PARTITION BY traj_id, run_id)
         |)
         |SELECT traj_id, event_id, (NOT moving) AND run_sec >= 3600.0 AS is_stop FROM spans""".stripMargin),
    // I1 — linear interpolation (all-exact arithmetic)
    QuerySpec("q_ip_linear", (sp, dir) =>
      Interpolation.linear(traj(sp, dir).drop("event_id"), S.copy(orderCols = Nil), 43200.0),
      s"""$TrajSql, lagd AS (
         |  SELECT traj_id, ts, lat, lon, lag(ts) OVER w AS pts,
         |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         |         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS dt
         |  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY ts)
         |)
         |SELECT traj_id, ts, lat, lon FROM traj
         |UNION ALL
         |SELECT traj_id, make_timestamp(epoch_us(pts) + 43200000000) AS ts,
         |       plat + (lat - plat) * (43200.0 / dt) AS lat,
         |       plon + (lon - plon) * (43200.0 / dt) AS lon
         |FROM lagd WHERE dt > 43200.0""".stripMargin),
    // I3 — kinematic interpolation (exact closed-form arithmetic)
    QuerySpec("q_ip_kinematic", (sp, dir) =>
      Interpolation.kinematic(traj(sp, dir).drop("event_id"), S.copy(orderCols = Nil), 43200.0)
        .select(col("traj_id"), col("ts"), r(col("lat"), 6).as("lat"), r(col("lon"), 6).as("lon")),
      s"""$TrajSql, v AS (
         |  SELECT traj_id, ts, lat, lon, lag(ts) OVER w AS pts,
         |         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon,
         |         (epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0 AS dt,
         |         (lat - lag(lat) OVER w) / ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0) AS vlat,
         |         (lon - lag(lon) OVER w) / ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0) AS vlon
         |  FROM traj WINDOW w AS (PARTITION BY traj_id ORDER BY ts)
         |), v2 AS (
         |  SELECT *, lag(vlat) OVER w AS pvlat, lag(vlon) OVER w AS pvlon
         |  FROM v WINDOW w AS (PARTITION BY traj_id ORDER BY ts)
         |), solved AS (
         |  SELECT *,
         |    dt * dt / 2.0 AS a11, dt * dt * dt / 6.0 AS a12, dt AS a21,
         |    (dt * dt / 2.0) * (dt * dt / 2.0) - (dt * dt * dt / 6.0) * dt AS det,
         |    (epoch_us(pts) + 43200000000) / 1000000.0 / 10000000000.0 AS td
         |  FROM v2
         |), co AS (
         |  SELECT *,
         |    ((lat - plat - pvlat * dt) * a11 - (vlat - pvlat) * a12) / det AS blat,
         |    (a11 * (vlat - pvlat) - a21 * (lat - plat - pvlat * dt)) / det AS clat,
         |    ((lon - plon - pvlon * dt) * a11 - (vlon - pvlon) * a12) / det AS blon,
         |    (a11 * (vlon - pvlon) - a21 * (lon - plon - pvlon * dt)) / det AS clon
         |  FROM solved
         |)
         |SELECT traj_id, ts, round(lat, 6) + 0.0 AS lat, round(lon, 6) + 0.0 AS lon FROM traj
         |UNION ALL
         |SELECT traj_id, make_timestamp(epoch_us(pts) + 43200000000) AS ts,
         |  round(plat + pvlat * td + td * td * blat / 2.0 + td * td * td * clat / 6.0, 6) + 0.0 AS lat,
         |  round(plon + pvlon * td + td * td * blon / 2.0 + td * td * td * clon / 6.0, 6) + 0.0 AS lon
         |FROM co WHERE dt > 43200.0 AND pvlat IS NOT NULL""".stripMargin),

    // Gap backfill without row synthesis: LOCF over deterministically
    // nulled channels (`event_id mod` masks — same masks in the oracle);
    // `lat_gap` exercises the gap-bounded carry (sensor-dropout law).
    // Filled values are COPIES of source rows — bit-exact by construction.
    QuerySpec("q_fill_locf", (sp, dir) => {
      val base = sparseTraj(sp, dir).withColumn("lat_gap", col("lat"))
      Fill.locf(Fill.locf(base, S, Seq("lat", "lon")), S, Seq("lat_gap"), maxGapSec = 7200.0)
        .select(col("traj_id"), col("event_id"), col("lat"), col("lon"), col("lat_gap"))
    },
      s"""$TrajSql, sparse AS (
         |  SELECT traj_id, ts, event_id,
         |    CASE WHEN event_id % 7 < 3 THEN NULL ELSE lat END AS lat,
         |    CASE WHEN event_id % 5 < 2 THEN NULL ELSE lon END AS lon
         |  FROM traj
         |), filled AS (
         |  SELECT traj_id, ts, event_id,
         |    coalesce(lat, last_value(lat IGNORE NULLS) OVER w) AS lat,
         |    coalesce(lon, last_value(lon IGNORE NULLS) OVER w) AS lon,
         |    last_value(lat IGNORE NULLS) OVER w AS lv,
         |    last_value(CASE WHEN lat IS NOT NULL THEN epoch_us(ts) END IGNORE NULLS) OVER w AS sts,
         |    lat AS lat0
         |  FROM sparse
         |  WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT traj_id, event_id, lat, lon,
         |  coalesce(lat0, CASE WHEN abs(epoch_us(ts) - sts) <= 7200000000 THEN lv END) AS lat_gap
         |FROM filled""".stripMargin),
    // mirrored direction (next observation carried backward)
    QuerySpec("q_fill_bfill", (sp, dir) =>
      Fill.bfill(sparseTraj(sp, dir), S, Seq("lat", "lon"))
        .select(col("traj_id"), col("event_id"), col("lat"), col("lon")),
      s"""$TrajSql, sparse AS (
         |  SELECT traj_id, ts, event_id,
         |    CASE WHEN event_id % 7 < 3 THEN NULL ELSE lat END AS lat,
         |    CASE WHEN event_id % 5 < 2 THEN NULL ELSE lon END AS lon
         |  FROM traj
         |)
         |SELECT traj_id, event_id,
         |  coalesce(lat, last_value(lat IGNORE NULLS) OVER w) AS lat,
         |  coalesce(lon, last_value(lon IGNORE NULLS) OVER w) AS lon
         |FROM sparse
         |WINDOW w AS (PARTITION BY traj_id ORDER BY ts DESC, event_id DESC
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // trailing rolling-window aggregates (k=16 rows): count/min/max/mean +
    // local event rate — the generic windowed-feature operator
    QuerySpec("q_roll_stats", (sp, dir) =>
      Rolling.withRolling(traj(sp, dir), S, "lat", 16)
        .select(col("traj_id"), col("event_id"), col("roll_n"), col("roll_min"),
          col("roll_max"), col("roll_mean"), col("roll_rate_hz")),
      s"""$TrajSql
         |SELECT traj_id, event_id,
         |  count(lat) OVER w AS roll_n,
         |  min(lat) OVER w AS roll_min,
         |  max(lat) OVER w AS roll_max,
         |  avg(lat) OVER w AS roll_mean,
         |  CASE WHEN count(lat) OVER w > 1
         |        AND (epoch_us(ts) - first_value(epoch_us(ts)) OVER w) / 1000000.0 > 0.0
         |       THEN (count(lat) OVER w - 1) / ((epoch_us(ts) - first_value(epoch_us(ts)) OVER w) / 1000000.0)
         |  END AS roll_rate_hz
         |FROM traj
         |WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id
         |             ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)""".stripMargin),
    // time-based sibling: trailing 30-minute RANGE frame (peers share the
    // frame — deterministic without a tie-break)
    QuerySpec("q_roll_time", (sp, dir) =>
      Rolling.withRollingTime(traj(sp, dir), S, "lat", 1800.0)
        .select(col("traj_id"), col("event_id"), col("troll_n"), col("troll_min"),
          col("troll_max"), col("troll_mean"), col("troll_sum")),
      s"""$TrajSql
         |SELECT traj_id, event_id,
         |  count(lat) OVER w AS troll_n,
         |  min(lat) OVER w AS troll_min,
         |  max(lat) OVER w AS troll_max,
         |  avg(lat) OVER w AS troll_mean,
         |  sum(lat) OVER w AS troll_sum
         |FROM traj
         |WINDOW w AS (PARTITION BY traj_id ORDER BY epoch_us(ts)
         |             RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)""".stripMargin),
    // per-entity mobility summary: radius of gyration, visit entropy over
    // 0.01° cells, cell coverage (González et al. mobility descriptors)
    QuerySpec("q_mobility", (sp, dir) =>
      graft.features.Mobility.withMobility(traj(sp, dir), S, cellDeg = 0.01)
        .select(col("traj_id"), col("n_points"), r(col("rg_m"), 3).as("rg_m"),
          r(col("entropy_nats"), 6).as("entropy_nats"), col("n_cells")),
      {
        val dd = havSql("lat", "lon", "clat", "clon")
        s"""$TrajSql, cent AS (
           |  SELECT traj_id, lat, lon,
           |    avg(lat) OVER (PARTITION BY traj_id) AS clat,
           |    avg(lon) OVER (PARTITION BY traj_id) AS clon
           |  FROM traj
           |), rg AS (
           |  SELECT traj_id, count(*) AS n_points,
           |    sqrt(avg(($dd) * ($dd))) AS rg_m
           |  FROM cent GROUP BY traj_id
           |), cells AS (
           |  SELECT traj_id,
           |    CAST(floor(lat / 0.01) AS BIGINT) AS cx,
           |    CAST(floor(lon / 0.01) AS BIGINT) AS cy,
           |    count(*) AS nc
           |  FROM traj GROUP BY 1, 2, 3
           |), ent AS (
           |  SELECT traj_id,
           |    -sum((nc::DOUBLE / tot::DOUBLE) * ln(nc::DOUBLE / tot::DOUBLE)) AS entropy_nats,
           |    count(*) AS n_cells
           |  FROM (SELECT traj_id, nc, sum(nc) OVER (PARTITION BY traj_id) AS tot FROM cells)
           |  GROUP BY traj_id
           |)
           |SELECT rg.traj_id, n_points, round(rg_m, 3) + 0.0 AS rg_m,
           |  round(entropy_nats, 6) + 0.0 AS entropy_nats, n_cells
           |FROM rg JOIN ent ON rg.traj_id = ent.traj_id""".stripMargin
      }),
    // per-column data-quality profile over the sparse traj fixture (exact
    // mode — the oracle-checkable path; production default is one-pass HLL)
    QuerySpec("q_profile", (sp, dir) =>
      graft.stats.Profile.profile(
          sparseTraj(sp, dir), Seq("traj_id", "ts", "event_id", "lat", "lon"), exact = true)
        .select(col("col_name"), col("n_rows"), col("n_null"),
          r(col("null_frac"), 6).as("null_frac"), col("n_distinct")),
      {
        val sparse =
          s"""$TrajSql, sparse AS (
             |  SELECT traj_id, ts, event_id,
             |    CASE WHEN event_id % 7 < 3 THEN NULL ELSE lat END AS lat,
             |    CASE WHEN event_id % 5 < 2 THEN NULL ELSE lon END AS lon
             |  FROM traj
             |)""".stripMargin
        val per = Seq("traj_id", "ts", "event_id", "lat", "lon").map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_null,
             |  round((count(*) - count($c))::DOUBLE / count(*)::DOUBLE, 6) + 0.0 AS null_frac,
             |  count(DISTINCT $c) AS n_distinct
             |FROM sparse""".stripMargin
        }
        sparse + "\n" + per.mkString("\nUNION ALL\n")
      }),
    // grid-banded proximity self-join: all point pairs within 100 m —
    // 0.001° lat cells (111 m) × 0.0015° lon cells (129 m at 39.5°N), the
    // 3×3 neighborhood equi-join, exact haversine re-check. Points are a
    // 2-D-UNIFORM cloud: lat from the affine hash of event_id, lon from
    // the affine hash of event_id² — the coordinates must come from
    // INDEPENDENT forms (any two affine maps of the same scalar put every
    // point on one 1-D torus line, and the fmod traj view likewise
    // collapses small `value` mass onto a filament — both make the 100 m
    // pair set O(n²)-dense; the (id, id²) parabola scatters like uniform:
    // measured 138 pairs at sf0.01 / 16k at sf0.1 ≈ the Poisson estimate)
    QuerySpec("q_spatial_pairs", (sp, dir) => {
      val Pm = 2147483647L
      def h(x: Column, p: Int): Column = {
        val a = 506952114L * (2 * p + 1) % Pm
        val b = 40503L * (p + 1) % Pm
        (x % Pm) * a % Pm + b
      }
      val id = col("event_id")
      val pts = events(sp, dir).select(id,
        ((h(id, 0) % Pm).cast("double") / 2147483647.0 - 0.5 + 39.0).as("lat"),
        ((h(id * id, 1) % Pm).cast("double") / 2147483647.0 - 0.5 + 116.0).as("lon"))
      graft.kernels.SpatialJoin.selfWithinDistance(
          pts, distM = 100.0, cellLatDeg = 0.001, cellLonDeg = 0.0015)
        .select(col("id_a"), col("id_b"), r(col("dist_m"), 3).as("dist_m"))
    },
      {
        val Pm = 2147483647L
        def hs(x: String, p: Int): String = {
          val a = 506952114L * (2 * p + 1) % Pm
          val b = 40503L * (p + 1) % Pm
          s"(($x % $Pm) * $a % $Pm + $b) % $Pm"
        }
        // the oracle mirrors the engine's EQUI-join formulation (replicate
        // one side to the 3×3 neighborhood) — a BETWEEN range join makes
        // DuckDB plan an IEJoin that crawls at sf0.1
        s"""WITH pts AS (
           |  SELECT event_id,
           |    ${hs("event_id", 0)} / 2147483647.0 - 0.5 + 39.0 AS lat,
           |    ${hs("event_id * event_id", 1)} / 2147483647.0 - 0.5 + 116.0 AS lon
           |  FROM events
           |), g AS (
           |  SELECT event_id, lat, lon,
           |    CAST(floor(lat / 0.001) AS BIGINT) AS cx,
           |    CAST(floor(lon / 0.0015) AS BIGINT) AS cy
           |  FROM pts
           |), rep AS (
           |  SELECT event_id, lat, lon, cx + dx.g AS cx, cy + dy.g AS cy
           |  FROM g, generate_series(-1, 1) dx(g), generate_series(-1, 1) dy(g)
           |)
           |SELECT p.event_id AS id_a, q.event_id AS id_b,
           |  round(${havSql("p.lat", "p.lon", "q.lat", "q.lon")}, 3) + 0.0 AS dist_m
           |FROM rep p JOIN g q
           |  ON p.cx = q.cx AND p.cy = q.cy AND p.event_id < q.event_id
           |WHERE ${havSql("p.lat", "p.lon", "q.lat", "q.lon")} <= 100.0""".stripMargin
      }),
    // first-order event-type transition matrix over per-user sequences —
    // counts exact, probability = n / per-state total (integer-exact in
    // double; rounding is insurance)
    QuerySpec("q_seq_transitions", (sp, dir) =>
      graft.features.Transitions.transitionCounts(
          events(sp, dir), TrajSchema(id = "user_id", orderCols = Seq("event_id")), "event_type")
        .select(col("state"), col("next_state"), col("n"), r(col("p"), 6).as("p")),
      """WITH steps AS (
        |  SELECT event_type AS state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_state
        |  FROM events
        |)
        |SELECT state, next_state, count(*) AS n,
        |  round(count(*)::DOUBLE / (sum(count(*)) OVER (PARTITION BY state))::DOUBLE, 6) + 0.0 AS p
        |FROM steps WHERE next_state IS NOT NULL
        |GROUP BY state, next_state""".stripMargin),
    // rolling z-score anomaly channel: explicit (Σx, Σx²) variance so the
    // oracle replays the identical IEEE op order (std 5 dp, z 3 dp — both
    // carry ~1e-10 cross-engine associativity error, far inside the grid)
    QuerySpec("q_roll_z", (sp, dir) =>
      Rolling.withRollingZ(traj(sp, dir), S, "lat", 16)
        .select(col("traj_id"), col("event_id"), col("zroll_n"),
          r(col("zroll_mean"), 6).as("zroll_mean"),
          r(col("zroll_std"), 5).as("zroll_std"),
          r(col("zroll_z"), 3).as("zroll_z")),
      s"""$TrajSql, wsum AS (
         |  SELECT traj_id, event_id, lat,
         |    count(lat) OVER w AS zroll_n,
         |    sum(lat) OVER w AS s1,
         |    sum(lat * lat) OVER w AS s2
         |  FROM traj
         |  WINDOW w AS (PARTITION BY traj_id ORDER BY ts, event_id
         |               ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
         |)
         |SELECT traj_id, event_id, zroll_n,
         |  round(s1 / zroll_n, 6) + 0.0 AS zroll_mean,
         |  CASE WHEN zroll_n > 1 THEN
         |    round(sqrt(greatest((s2 - s1 * s1 / zroll_n) / (zroll_n - 1.0), 0.0)), 5) + 0.0
         |  END AS zroll_std,
         |  CASE WHEN zroll_n > 1
         |        AND sqrt(greatest((s2 - s1 * s1 / zroll_n) / (zroll_n - 1.0), 0.0)) > 0.0 THEN
         |    round((lat - s1 / zroll_n)
         |          / sqrt(greatest((s2 - s1 * s1 / zroll_n) / (zroll_n - 1.0), 0.0)), 3) + 0.0
         |  END AS zroll_z
         |FROM wsum""".stripMargin),
    // EWM mean + CUSUM drift via the sequential secondary-sort kernel —
    // bit-exact recurrence (α = 0.25 → β = 0.75 exactly representable;
    // rounding is insurance only)
    QuerySpec("q_ewma", (sp, dir) =>
      graft.features.Ewma.withEwma(traj(sp, dir), S, "lat", alpha = 0.25, kappa = 0.05)
        .select(col("traj_id"), col("ord").as("event_id"),
          r(col("ewm"), 7).as("ewm"),
          r(col("cusum_pos"), 7).as("cusum_pos"),
          r(col("cusum_neg"), 7).as("cusum_neg")),
      // the exact EWM/CUSUM recurrence replayed as a recursive CTE — one
      // step per per-entity row rank, term-for-term the kernel's op order.
      // CAVEAT: this CTE assumes a NULL-FREE channel (the traj fixture
      // guarantees it) — a null v would poison the recursion (NULL
      // propagates through num/den/greatest) where the kernel's law is
      // "emit nulls, state untouched"; the null law is spec-verified
      // (EwmaCapSpec), not oracled
      s"""${TrajSql.replaceFirst("WITH traj", "WITH RECURSIVE traj")}, base AS (
         |  SELECT traj_id, event_id, lat AS v,
         |    row_number() OVER (PARTITION BY traj_id ORDER BY ts, event_id) AS rn
         |  FROM traj
         |), rec AS (
         |  SELECT traj_id, event_id, v, rn,
         |    v AS num, 1.0::DOUBLE AS den, v AS ewm,
         |    0.0::DOUBLE AS cp, 0.0::DOUBLE AS cn
         |  FROM base WHERE rn = 1
         |  UNION ALL
         |  SELECT b.traj_id, b.event_id, b.v, b.rn,
         |    b.v + 0.75 * r.num,
         |    1.0 + 0.75 * r.den,
         |    (b.v + 0.75 * r.num) / (1.0 + 0.75 * r.den),
         |    greatest(0.0, r.cp + (b.v - r.ewm - 0.05)),
         |    least(0.0, r.cn + (b.v - r.ewm + 0.05))
         |  FROM rec r JOIN base b ON b.traj_id = r.traj_id AND b.rn = r.rn + 1
         |)
         |SELECT traj_id, event_id,
         |  round(ewm, 7) + 0.0 AS ewm,
         |  round(cp, 7) + 0.0 AS cusum_pos,
         |  round(cn, 7) + 0.0 AS cusum_neg
         |FROM rec""".stripMargin),
    // fixed-frequency downsample: one row per (entity, 6h bin) — first/
    // last by total order, bin centroid (means rounded — see r() policy)
    QuerySpec("q_resample", (sp, dir) =>
      Resample.downsample(traj(sp, dir), S, 21600.0)
        .select(col("traj_id"), col("bin_ts"), col("n_points"),
          col("first_lat"), col("first_lon"), col("last_lat"), col("last_lon"),
          r(col("lat_mean"), 6).as("lat_mean"), r(col("lon_mean"), 6).as("lon_mean")),
      s"""$TrajSql, b AS (
         |  SELECT traj_id, ts, event_id, lat, lon,
         |    epoch_us(ts) - ((epoch_us(ts) % 21600000000) + 21600000000) % 21600000000 AS binm
         |  FROM traj
         |), rnk AS (
         |  SELECT *,
         |    row_number() OVER (PARTITION BY traj_id, binm ORDER BY ts, event_id) AS ra,
         |    row_number() OVER (PARTITION BY traj_id, binm ORDER BY ts DESC, event_id DESC) AS rd
         |  FROM b
         |)
         |SELECT traj_id, make_timestamp(binm) AS bin_ts, count(*) AS n_points,
         |  max(CASE WHEN ra = 1 THEN lat END) AS first_lat,
         |  max(CASE WHEN ra = 1 THEN lon END) AS first_lon,
         |  max(CASE WHEN rd = 1 THEN lat END) AS last_lat,
         |  max(CASE WHEN rd = 1 THEN lon END) AS last_lon,
         |  round(avg(lat), 6) + 0.0 AS lat_mean,
         |  round(avg(lon), 6) + 0.0 AS lon_mean
         |FROM rnk GROUP BY traj_id, binm""".stripMargin),
    // typed JSON property extraction off the raw events payload —
    // per-field pruned from_json parses riding the scan
    QuerySpec("q_src_json_props", (sp, dir) =>
      graft.sources.Json.extract(
          events(sp, dir).select(col("event_id"), col("event_type"), col("props")),
          "props", Seq("k" -> org.apache.spark.sql.types.LongType), prefix = "props_")
        .select(col("event_id"), col("event_type"), col("props_k")),
      """SELECT event_id, event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS props_k
        |FROM events""".stripMargin),

    // ---- streaming operators, replayed deterministically (StreamDrive) ----
    // real Structured Streaming runs (file source, AvailableNow, one file
    // per micro-batch) whose output provably equals the batch operator —
    // see StreamDrive's determinism argument
    QuerySpec("q_stream_dedup", (sp, dir) =>
      graft.streaming.StreamDrive.dedupOverDocuments(sp, dir),
      // streaming dedup ≡ one survivor per distinct text (horizon >> span;
      // survivor projected onto group-constant columns)
      "SELECT DISTINCT md5(text) AS content_hash, length(text)::BIGINT AS n_chars FROM documents"),
    QuerySpec("q_stream_ses", (sp, dir) =>
      graft.streaming.StreamDrive.sessionizeOverEvents(sp, dir, gapSeconds = 3600.0),
      // streaming gap-sessionize ≡ batch gap rule over event-time order
      // (ties share a ts ⇒ same Δt=0 session either way)
      """WITH pts AS (SELECT cast(user_id AS varchar) AS entity, ts FROM events),
        |bnd AS (
        |  SELECT entity, ts,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000 THEN 1 ELSE 0 END AS b
        |  FROM pts WINDOW w AS (PARTITION BY entity ORDER BY ts)
        |)
        |SELECT entity, ts,
        |  cast(sum(b) OVER (PARTITION BY entity ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM bnd""".stripMargin),

    // streaming point-in-time enrichment (stateless stream-static as-of);
    // replay ≡ batch row-for-row
    QuerySpec("q_stream_asof", (sp, dir) => graft.streaming.StreamDrive.asOfOverEvents(sp, dir),
      backwardAsOfSql)
  )

  /** Render a Scala double as a DuckDB DOUBLE literal (Double.toString
    * round-trips; the ::DOUBLE cast defeats DuckDB's DECIMAL literal
    * inference so arithmetic stays IEEE like Spark's). */
  private def dl(x: Double): String = s"(${x}::DOUBLE)"

  /** Ray-casting SQL mirroring Contextual.pointInPolygon op-for-op,
    * with per-edge constants computed HERE (same doubles as the Spark
    * plan's literals). */
  private def polySql(polygon: Seq[(Double, Double)]): String = {
    val n = polygon.length
    val terms = (0 until n).map { i =>
      val (yi, xi) = polygon(i)
      val (yj, xj) = polygon((i + 1) % n)
      s"(CASE WHEN ((${dl(yi)} > lat) != (${dl(yj)} > lat)) AND lon < ${dl(xj - xi)} * (lat - ${dl(yi)}) / ${dl(yj - yi)} + ${dl(xi)} THEN 1 ELSE 0 END)"
    }
    s"(${terms.mkString(" + ")}) % 2 = 1"
  }

  /** Haversine SQL fragment mirroring Geo.haversine's operation order. */
  private def havSql(lat1: String, lon1: String, lat2: String, lon2: String): String = {
    val sdLat = s"sin((radians($lat2) - radians($lat1)) / 2)"
    val sdLon = s"sin((radians($lon2) - radians($lon1)) / 2)"
    val a = s"$sdLat * $sdLat + cos(radians($lat1)) * cos(radians($lat2)) * $sdLon * $sdLon"
    s"2 * atan2(sqrt($a), sqrt(1.0 - ($a))) * 6371000.0"
  }
}
