package graft.interp

import graft.core.{Times, TrajSchema}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gap backfill WITHOUT synthesizing rows: last/next-observation-carried
  * within an entity — the point-in-time companion to
  * [[Interpolation]] (which inserts rows) and the windowed sibling of
  * [[graft.asof.AsOfJoin]] (which carries values across FRAMES; this
  * carries across null slots inside one frame). The reference reaches the
  * same effect through pandas `ffill` on its per-trajectory frames
  * (PTRAIL preprocessing assumes dense frames; see
  * ptrail/preprocessing/interpolation.py for the row-synthesizing forms).
  *
  * Laws:
  *  - LOCF (`locf`): each null slot takes the entity's most recent
  *    non-null value at-or-before it in `(ts, orderCols)` order — values
  *    are COPIED, never recomputed, so filled outputs are bit-identical
  *    to their source rows and zero temporal leakage holds by the frame
  *    bound (UNBOUNDED PRECEDING → CURRENT ROW reads no future row).
  *  - BFILL (`bfill`): the exact mirror (next non-null at-or-after;
  *    deliberate leakage — a label-construction tool, not a feature tool,
  *    and the scaladoc of every caller should say which it is).
  *  - `maxGapSec ≥ 0` bounds the carry: a slot is filled only when
  *    `|ts − source ts| ≤ maxGapSec` (sensor-dropout semantics: carrying
  *    a reading across an hours-long hole fabricates data). Non-null
  *    inputs always pass through untouched.
  *
  * Scale shape: ONE hash exchange on the entity + ONE sort per direction
  * — both directions requested together still plan a single exchange
  * (same partitioning), the second direction adding only its mirrored
  * sort. Cumulative `last(ignoreNulls)` frames are O(1) state per row
  * (Spark's UnboundedPrecedingWindowFunctionFrame), no per-group
  * buffering beyond the partition spill already inherent to window sorts;
  * a whale entity still sorts in one task, as in every entity-partitioned
  * window. */
object Fill {

  private def carried(
      value: Column, tsMicros: Column, w: org.apache.spark.sql.expressions.WindowSpec,
      maxGapSec: Double): Column = {
    val src = last(value, ignoreNulls = true).over(w)
    if (maxGapSec < 0) coalesce(value, src)
    else {
      // ts of the row the carried value came from, riding the same frame
      val srcTs = last(when(value.isNotNull, tsMicros), ignoreNulls = true).over(w)
      val gapOk = abs(tsMicros - srcTs) <= (maxGapSec * 1e6).toLong
      coalesce(value, when(gapOk, src))
    }
  }

  /** Last observation carried forward over `cols` (null slots only). */
  def locf(df: DataFrame, s: TrajSchema, cols: Seq[String], maxGapSec: Double = -1.0): DataFrame = {
    require(cols.nonEmpty, "locf needs at least one column to fill")
    val w = Window.partitionBy(s.idCol).orderBy(s.ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = Times.micros(s.tsCol)
    cols.foldLeft(df)((d, c) => d.withColumn(c, carried(col(c), m, w, maxGapSec)))
  }

  /** Next observation carried backward (mirror of [[locf]]). */
  def bfill(df: DataFrame, s: TrajSchema, cols: Seq[String], maxGapSec: Double = -1.0): DataFrame = {
    require(cols.nonEmpty, "bfill needs at least one column to fill")
    // mirrored ordering keeps the frame cumulative (O(1) state) instead of
    // an unbounded-following frame (which buffers the partition tail)
    val w = Window.partitionBy(s.idCol)
      .orderBy(s.ordering.map(_.desc): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val m = Times.micros(s.tsCol)
    cols.foldLeft(df)((d, c) => d.withColumn(c, carried(col(c), m, w, maxGapSec)))
  }
}
