package graft.filters

import graft.core.TrajSchema
import graft.features.Kinematic
import graft.kernels.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Row-level filters (ptrail/preprocessing/filters.py). All are declarative
  * predicates so Catalyst pushes them into the parquet scan where possible
  * (range predicates on ts/lat/lon benefit from min/max data skipping).
  *
  * Null semantics: the reference drops NaN rows in every speed/distance
  * filter (explicitly via fillna-sentinels, filters.py:335-351, or because
  * NaN comparisons are False). Spark three-valued logic drops null-predicate
  * rows in WHERE — identical outcome; sentinels are kept only where the
  * reference's fillna changes which side survives.
  */
object Filters {

  /** F1 — drop duplicate observations, keep-first on (id, ts, lat, lon)
    * (filters.py:32-51). dropDuplicates keeps an arbitrary (but single) row
    * per key — equivalent under set semantics since all kept columns match. */
  def removeDuplicates(df: DataFrame, s: TrajSchema): DataFrame =
    df.dropDuplicates(Seq(s.id, s.ts, s.lat, s.lon))

  /** F2 — single-entity selection. The reference RAISES when the id selects
    * nothing (filters.py:75-83 catches the KeyError and re-raises) — mirrored
    * here with an eager limit-1 existence probe (one cheap job; the only
    * filter in the family with non-lazy semantics, by reference contract). */
  def byTrajId(df: DataFrame, s: TrajSchema, id: String): DataFrame = {
    val out = df.where(s.idCol === id)
    require(!out.isEmpty, s"${s.id} '$id' does not match any rows (reference raises here)")
    out
  }

  /** F4 — bounding-box predicate; `inside=false` keeps the complement
    * (filters.py:128-155). */
  def byBoundingBox(df: DataFrame, s: TrajSchema, box: (Double, Double, Double, Double), inside: Boolean = true): DataFrame = {
    val (latMin, lonMin, latMax, lonMax) = box
    val p = s.latCol.between(latMin, latMax) && s.lonCol.between(lonMin, lonMax)
    df.where(if (inside) p else !p)
  }

  /** F5 — inclusive [start, end] on calendar date (filters.py:158-237). */
  def byDate(df: DataFrame, s: TrajSchema, start: String, end: String): DataFrame = {
    require(start <= end, "end date must not precede start date (filters.py:186-190)")
    df.where(to_date(s.tsCol).between(to_date(lit(start)), to_date(lit(end))))
  }

  /** F6 — inclusive [start, end] on the full timestamp (filters.py:240-311). */
  def byDateTime(df: DataFrame, s: TrajSchema, start: String, end: String): DataFrame =
    df.where(s.tsCol.between(to_timestamp(lit(start)), to_timestamp(lit(end))))

  /** F7 — Speed ≤ max; null Speed dropped via the reference's fillna(max+1)
    * sentinel (filters.py:314-351). Derives Speed on demand. */
  def byMaxSpeed(df: DataFrame, s: TrajSchema, maxSpeed: Double): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Speed)) df else Kinematic.withSpeed(df, s)
    base.where(coalesce(col(Kinematic.Speed), lit(maxSpeed + 1)) <= maxSpeed)
  }

  /** F8 — Speed ≥ min; null dropped (filters.py:354-387). */
  def byMinSpeed(df: DataFrame, s: TrajSchema, minSpeed: Double): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Speed)) df else Kinematic.withSpeed(df, s)
    base.where(coalesce(col(Kinematic.Speed), lit(minSpeed - 1)) >= minSpeed)
  }

  /** F9 — consecutive Distance ≥ min (filters.py:390-426). */
  def byMinConsecutiveDistance(df: DataFrame, s: TrajSchema, minDist: Double): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Distance)) df else Kinematic.withDistance(df, s)
    base.where(coalesce(col(Kinematic.Distance), lit(minDist - 1)) >= minDist)
  }

  /** F10 — consecutive Distance ≤ max (filters.py:429-464). */
  def byMaxConsecutiveDistance(df: DataFrame, s: TrajSchema, maxDist: Double): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Distance)) df else Kinematic.withDistance(df, s)
    base.where(coalesce(col(Kinematic.Distance), lit(maxDist + 1)) <= maxDist)
  }

  /** F11 — Distance ≤ maxDist ∧ Speed ≤ maxSpeed (filters.py:467-509). */
  def byMaxDistanceAndSpeed(df: DataFrame, s: TrajSchema, maxDist: Double, maxSpeed: Double): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Speed)) df else Kinematic.withSpeed(df, s)
    base.where(col(Kinematic.Distance) <= maxDist && col(Kinematic.Speed) <= maxSpeed)
  }

  /** F12 — Distance ≥ minDist ∧ Speed ≥ minSpeed; the reference has no
    * fillna here so NaN comparisons are False ⇒ dropped — Spark null
    * three-valued logic matches (filters.py:512-554). */
  def byMinDistanceAndSpeed(df: DataFrame, s: TrajSchema, minDist: Double, minSpeed: Double): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Speed)) df else Kinematic.withSpeed(df, s)
    base.where(col(Kinematic.Distance) >= minDist && col(Kinematic.Speed) >= minSpeed)
  }

  /** F13/F14 core — Tukey IQR fence over the WHOLE dataset (not per entity),
    * quantiles with numpy/pandas linear interpolation = Spark exact
    * `percentile` (filters.py:557-640). Two jobs: tiny quantile agg, then a
    * broadcast-scalar filter (no shuffle of the big side). Strict bounds as
    * in the reference. */
  private def iqrFilter(df: DataFrame, valueCol: String): DataFrame = {
    val Array(q1, q3) = df
      .select(percentile(col(valueCol), array(lit(0.25), lit(0.75))).as("q"))
      .selectExpr("q[0]", "q[1]")
      .first()
      .toSeq
      .map(_.asInstanceOf[Double])
      .toArray
    val iqr = q3 - q1
    df.where(col(valueCol) > (q1 - 1.5 * iqr) && col(valueCol) < (q3 + 1.5 * iqr))
  }

  /** F13 — IQR outlier fence on consecutive Distance (filters.py:557-600). */
  def outliersByConsecutiveDistance(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Distance)) df else Kinematic.withDistance(df, s)
    iqrFilter(base, Kinematic.Distance)
  }

  /** F14 — IQR outlier fence on Speed (filters.py:603-640). */
  def outliersByConsecutiveSpeed(df: DataFrame, s: TrajSchema): DataFrame = {
    val base = if (df.columns.contains(Kinematic.Speed)) df else Kinematic.withSpeed(df, s)
    iqrFilter(base, Kinematic.Speed)
  }

  /** F15 — drop entities with fewer than `minPoints` observations
    * (filters.py:643-669). Window-count avoids a join; the count reuses the
    * entity clustering. */
  def removeShortTrajectories(df: DataFrame, s: TrajSchema, minPoints: Int = 3): DataFrame =
    df.withColumn("_n", count(lit(1)).over(s.wAll))
      .where(col("_n") >= minPoints)
      .drop("_n")
}
