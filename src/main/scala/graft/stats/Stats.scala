package graft.stats

import graft.core.TrajSchema
import graft.features.Kinematic
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-entity descriptive statistics over the kinematic feature vector
  * (ptrail/preprocessing/statistics.py:64-202). The reference runs pandas
  * `describe(percentiles=[.1,.25,.5,.75,.9])` per trajectory in a Pool, then
  * pivots long→wide into the 72 ORDERED_COLS
  * (ptrail/utilities/constants.py:34-43).
  *
  * Percentiles are EXACT with numpy/pandas linear interpolation — but NOT
  * via Spark's `percentile` ImperativeAggregate, which buffers every value
  * of every group in executor memory (one hot entity at 100× scale OOMs the
  * task). [[describeLong]] is the scale-safe two-pass formulation: stack the
  * features long, ONE spillable window sort per (entity, feature) assigns
  * ranks, and the percentile is reconstructed from the two bracketing ranks
  * with the same `(hi − pos)·x_lo + (pos − lo)·x_hi` interpolation Spark's
  * `percentile` evaluates (bit-identical output, bounded memory). The wide
  * form is a pivot of the long result; the reference's long→wide pandas
  * pivot is skipped entirely (SURVEY.md §2.6 G3 note). `stddev` is the
  * sample std like pandas.
  */
object Stats {

  val Percentiles: Seq[Double] = Seq(0.10, 0.25, 0.50, 0.75, 0.90)
  val StatNames: Seq[String] = Seq("10%", "25%", "50%", "75%", "90%", "min", "max", "mean", "std")

  /** Exact percentiles + min/max/mean/std per (keys…, feature), computed
    * WITHOUT per-group value buffering:
    *
    *   1. unpivot `features` → (keys…, _feature, _value), nulls dropped
    *      (null-ignoring aggregate semantics);
    *   2. `row_number` over a (keys, _feature)-partitioned sort by value +
    *      a partition count — WindowExec's buffer is disk-spillable, unlike
    *      `percentile`'s in-memory OpenHashMap per group;
    *   3. one hash-agg picks the two bracketing ranks per percentile and
    *      interpolates exactly like Spark's `percentile` / numpy linear:
    *      pos = p·(n−1); lo = ⌊pos⌋; hi = ⌈pos⌉;
    *      value = (hi − pos)·x_lo + (pos − lo)·x_hi  (x_lo when hi == lo).
    *
    * Groups whose values are all null vanish from the long form — the
    * caller's pivot re-materializes them as nulls, matching the
    * null-returning aggregate. Min/max/mean/std are NOT computed here:
    * streaming hash-agg moments don't need the rank sort, so callers take
    * them directly off the wide frame (one fewer aggregate buffer per group
    * on the sort-heavy path). Output columns: keys…, `_feature`,
    * `_p0`…`_p{k}`. */
  def describeLong(
      df: DataFrame,
      keys: Seq[String],
      features: Seq[String],
      pcts: Seq[Double] = Percentiles
  ): DataFrame = {
    val stackExpr = features
      .map(f => s"'$f', cast(`$f` as double)")
      .mkString(s"stack(${features.length}, ", ", ", ") as (_feature, _value)")
    val long = df
      .selectExpr(keys.map(k => s"`$k`") :+ stackExpr: _*)
      .where(col("_value").isNotNull)
    val part = (keys :+ "_feature").map(col)
    val ranked = long
      .withColumn("_rn", row_number().over(Window.partitionBy(part: _*).orderBy(col("_value"))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(part: _*)))
    // pos is constant within a group (pure function of n) — computed per row
    // so the bracketing-rank predicates are plain codegen'd comparisons
    val withPos = pcts.zipWithIndex.foldLeft(ranked) { case (d, (p, i)) =>
      d.withColumn(s"_pos_$i", lit(p) * (col("_n") - 1))
    }
    val pctAggs = pcts.indices.flatMap { i =>
      Seq(
        first(col(s"_pos_$i")).as(s"_posv_$i"),
        max(when(col("_rn") === floor(col(s"_pos_$i")) + 1, col("_value"))).as(s"_lo_$i"),
        max(when(col("_rn") === ceil(col(s"_pos_$i")) + 1, col("_value"))).as(s"_hi_$i")
      )
    }
    val agged = withPos.groupBy(part: _*).agg(pctAggs.head, pctAggs.tail: _*)
    val pctCols = pcts.indices.map { i =>
      val pos = col(s"_posv_$i")
      when(ceil(pos) === floor(pos), col(s"_lo_$i"))
        .otherwise((ceil(pos) - pos) * col(s"_lo_$i") + (pos - floor(pos)) * col(s"_hi_$i"))
        .as(s"_p$i")
    }
    agged.select(part ++ pctCols: _*)
  }

  /** G2+G3 fused — one row per (entity[, segment]) with the reference's 72
    * ordered stat columns (`{10,25,50,75,90%} ∪ {min,max,mean,std}` × 8
    * kinematic features). Derives the kinematic chain if absent. */
  def kinematicStatsWide(df: DataFrame, s: TrajSchema, segCol: Option[String] = None): DataFrame = {
    val base =
      if (Kinematic.AllFeatures.forall(df.columns.contains)) df
      else Kinematic.withKinematics(df, s)
    val keys = s.id +: segCol.toSeq
    val long = describeLong(base, keys, Kinematic.AllFeatures)
    val statAliases = Percentiles.indices.map(i => s"_p$i" -> s"${(Percentiles(i) * 100).toInt}%")
    val pivoted = long
      .groupBy(keys.map(col): _*)
      .pivot("_feature", Kinematic.AllFeatures)
      .agg(statAliases.map { case (c, a) => first(col(c)).as(a) }.head,
        statAliases.map { case (c, a) => first(col(c)).as(a) }.tail: _*)
    // moments via a direct hash-agg on the wide frame — scan-order partials,
    // bounded state; only the percentiles need the rank path
    val momentExprs = Kinematic.AllFeatures.flatMap { f =>
      Seq(min(col(f)).as(s"${f}_min"), max(col(f)).as(s"${f}_max"),
        avg(col(f)).as(s"${f}_mean"), stddev(col(f)).as(s"${f}_std"))
    }
    val moments = base.groupBy(keys.map(col): _*).agg(momentExprs.head, momentExprs.tail: _*)
    val pctNames = Percentiles.map(p => s"${(p * 100).toInt}%").toSet
    // right join on NULL-SAFE key equality: a null entity key is one group
    // (like the groupBy and the reference), and an entity whose features are
    // ALL null never reaches the long form but still emits its stats row
    // (explicit aliases: both sides share the base lineage → self-join rule)
    val cond = keys.map(k => col(s"_pv.`$k`") <=> col(s"_mo.`$k`")).reduce(_ && _)
    val ordered = Kinematic.AllFeatures.flatMap { f =>
      StatNames.map { st =>
        val side = if (pctNames(st)) "_pv" else "_mo"
        col(s"$side.`${f}_$st`").as(s"${st}_$f")
      }
    }
    pivoted.as("_pv").join(moments.as("_mo"), cond, "right")
      .select(keys.map(k => col(s"_mo.`$k`").as(k)) ++ ordered: _*)
  }

  /** G2 long form — (entity[, seg], stat_feature, value); derived from the
    * wide agg by an unpivot, not by re-aggregating. */
  def kinematicStatsLong(df: DataFrame, s: TrajSchema, segCol: Option[String] = None): DataFrame =
    unpivotLong(kinematicStatsWide(df, s, segCol), s.id +: segCol.toSeq)

  /** Unpivot every non-key column of `wide` into (keys…, stat_feature,
    * value as double); null values are kept. */
  def unpivotLong(wide: DataFrame, keys: Seq[String]): DataFrame = {
    val valueCols = wide.columns.filterNot(keys.contains)
    val stackExpr = valueCols
      .map(c => s"'${c.replace("'", "")}', cast(`$c` as double)")
      .mkString(s"stack(${valueCols.length}, ", ", ", ") as (stat_feature, value)")
    wide.selectExpr(keys.map(k => s"`$k`") :+ stackExpr: _*)
  }
}
