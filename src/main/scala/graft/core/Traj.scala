package graft.core

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Canonical point observation of a moving entity.
  *
  * Mirrors the reference's mandatory-column invariant
  * (ptrail/utilities/constants.py:7-13, ptrail/core/TrajectoryDF.py:25-88):
  * `traj_id` (entity key), `ts` (monotone-within-entity timestamp), `lat`,
  * `lon` in degrees. In the token domain `ts` is a synthetic timestamp
  * derived from token position (see [[graft.core.TokenAdapter]]).
  */
case class TrajPoint(traj_id: String, ts: java.sql.Timestamp, lat: Double, lon: Double)

/** Column bindings of a trajectory-shaped DataFrame.
  *
  * Instead of subclassing DataFrame (the reference subclasses
  * pandas.DataFrame, ptrail/core/TrajectoryDF.py:24), we keep the data a
  * plain Dataset/DataFrame and thread a schema descriptor through the
  * operators. `orderCols` are extra deterministic tie-break columns appended
  * to every per-entity ordering (the reference relies on stable pandas sort;
  * Spark needs an explicit total order for reproducible lag/lead).
  */
case class TrajSchema(
    id: String = "traj_id",
    ts: String = "ts",
    lat: String = "lat",
    lon: String = "lon",
    orderCols: Seq[String] = Nil
) {
  def idCol: Column = col(id)
  def tsCol: Column = col(ts)
  def latCol: Column = col(lat)
  def lonCol: Column = col(lon)
  /** Full deterministic per-entity ordering. */
  def ordering: Seq[Column] = col(ts) +: orderCols.map(col)
  /** The one window every per-entity kernel shares — Catalyst plans a single
    * Exchange(hashpartitioning(id)) + Sort for all frames over this spec. */
  def w: WindowSpec = Window.partitionBy(col(id)).orderBy(ordering: _*)
  def wRows(lo: Long, hi: Long): WindowSpec = w.rowsBetween(lo, hi)
  /** Unordered per-entity window (whole-partition frame). */
  def wAll: WindowSpec = Window.partitionBy(col(id))
}

/** Ingest / canonicalization — the Spark-native analogue of the reference
  * constructor's validate + coerce + MultiIndex sort
  * (ptrail/core/TrajectoryDF.py:56-88,133-235).
  *
  * Differences by design (SURVEY.md §1.4): no global sort — physical
  * clustering by entity via `repartition(id)` + `sortWithinPartitions`, so
  * subsequent window operators reuse the exchange/sort (Catalyst
  * EnsureRequirements removes redundant exchanges); canonicalization is
  * applied once, not after every operator.
  */
object Canonical {

  /** Rename user column headers to canonical names and coerce types, like the
    * reference's `_rename_df_col_headers` + `_validate_data_types`
    * (ptrail/core/TrajectoryDF.py:91-172). */
  def ingest(
      df: DataFrame,
      id: String,
      ts: String,
      lat: String,
      lon: String,
      extraOrderCols: Seq[String] = Nil
  ): (DataFrame, TrajSchema) = {
    val s = TrajSchema(orderCols = extraOrderCols)
    val keep = df.columns.filterNot(Set(id, ts, lat, lon).contains).map(col)
    val out = df.select(
      Seq(
        col(id).cast("string").as(s.id),
        col(ts).cast("timestamp").as(s.ts),
        col(lat).cast("double").as(s.lat),
        col(lon).cast("double").as(s.lon)
      ) ++ keep: _*
    )
    (validate(out, s), s)
  }

  /** Schema validation — the reference raises on missing mandatory columns
    * (ptrail/core/TrajectoryDF.py:174-202). */
  def validate(df: DataFrame, s: TrajSchema): DataFrame = {
    val missing = Seq(s.id, s.ts, s.lat, s.lon).filterNot(df.columns.contains)
    require(missing.isEmpty, s"missing mandatory columns: ${missing.mkString(", ")}")
    df
  }

  /** Cluster by entity and secondary-sort by ts so downstream window
    * operators over [[TrajSchema.w]] need no further exchange. `buckets`
    * should track the target parallelism (cluster: executors×cores;
    * local[n]: n). */
  def cluster(df: DataFrame, s: TrajSchema, buckets: Int = 0): DataFrame = {
    val rep = if (buckets > 0) df.repartition(buckets, s.idCol) else df.repartition(s.idCol)
    rep.sortWithinPartitions(s.idCol +: s.ordering: _*)
  }
}
