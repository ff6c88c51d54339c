package graft.features

import graft.core.{Times, TrajSchema}
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Input to the sequential kernel: one observation per (entity, instant,
  * tie-break). `v` is Option so null measurement slots flow through the
  * typed encoder without sentinels. */
case class EwmaRow(traj_id: String, ts_us: Long, ord: Long, v: Option[Double])

/** Kernel output: the smoothed mean plus the two one-sided CUSUM drift
  * statistics at each observation. */
case class EwmaOut(
    traj_id: String, ts_us: Long, ord: Long, v: Option[Double],
    ewm: Option[Double], cusum_pos: Option[Double], cusum_neg: Option[Double])

/** Exponentially-weighted mean + CUSUM drift tracking per entity — the
  * pandas `Series.ewm(alpha).mean()` feature (the reference's users reach
  * it through the pandas frames PTRAIL exposes, e.g. smoothing a Speed or
  * Distance channel before model features) fused with the classic
  * two-sided CUSUM change detector over the smoothed signal.
  *
  * Semantics (pandas `adjust=True`, `ignore_na=False` is N/A since null
  * slots carry no weight here):
  *   - `ewm_i = Σ_{j≤i} (1−α)^(i−j)·x_j / Σ_{j≤i} (1−α)^(i−j)` over the
  *     entity's non-null values in (ts, ord) order, via the exact
  *     recurrence `num_i = x_i + (1−α)·num_{i−1}`,
  *     `den_i = 1 + (1−α)·den_{i−1}`, `ewm = num/den`.
  *   - `cusum_pos_i = max(0, cusum_pos_{i−1} + (x_i − ewm_{i−1} − κ))` and
  *     mirrored `cusum_neg` with `+κ` / `min` — drift of the raw signal
  *     against its own smoothed history; κ is the slack (allowance). The
  *     first observation anchors both at 0.
  *   - A null value emits all-null features and leaves the state UNTOUCHED
  *     (the slot has no weight — the next value continues the recurrence).
  *
  * Determinism: every step is a fixed-order IEEE-754 mul/add/div (and
  * max/min), so the output is bit-reproducible across engines running the
  * same recurrence — the DuckDB oracle replays it as a recursive CTE and
  * matches bit-for-bit when (1−α) is exactly representable (α = 0.25 →
  * 0.75 exact).
  *
  * Scale shape — the recurrence is inherently sequential per entity, so
  * this is the secondary-sort kernel pattern (NOT a window: Spark has no
  * O(1)-state recursive window aggregate, and a `flatMapGroups` would
  * buffer each group): ONE hash exchange on the entity, ONE
  * sort-within-partitions on (entity, ts, ord) — spillable external sort,
  * so whale entities bound DISK not memory — then a `mapPartitions` fold
  * carrying five doubles of state, O(1) per row, streaming. Cluster-wide
  * this is exactly the kinematic-window cost envelope with a cheaper
  * compute stage. */
object Ewma {

  /** Computes `ewm`, `cusum_pos`, `cusum_neg` over `valueCol`.
    * Returns (traj_id, ts_us, ord, v, ewm, cusum_pos, cusum_neg) — a
    * feature frame keyed by (entity, instant, tie-break), NOT the input
    * row set (join back on the key if the caller wants both; emitting the
    * projection keeps the shuffle payload to 4 columns). Rows with a null
    * timestamp are dropped (no position on the time axis — same law as
    * the kinematic chain's mandatory-column gate). */
  def withEwma(
      df: DataFrame,
      s: TrajSchema,
      valueCol: String,
      alpha: Double,
      kappa: Double = 0.0
  ): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(kappa >= 0.0, s"kappa (CUSUM slack) must be >= 0, got $kappa")
    run(prepare(df, s, valueCol), beta = 1.0 - alpha, kappa = kappa)
  }

  /** Shared input projection: (entity, instant, tie-break, value) through
    * the typed encoder; null-ts rows dropped (no position on the time
    * axis — the kinematic chain's mandatory-column law).
    *
    * The exchange + secondary sort happen HERE, on the FULL
    * (entity, ts, orderCols…) key — schemas with several orderCols keep
    * their documented total order (the projection to the 4-field encoder
    * afterwards is narrow, so the sorted run survives into the fold; the
    * emitted `ord` column stays the head tie-break for output-schema
    * stability). */
  private def prepare(df: DataFrame, s: TrajSchema, valueCol: String) = {
    val ordProj = s.orderCols.zipWithIndex.map { case (c, i) => col(c).cast("long").as(s"_o$i") }
    val base = df.where(s.tsCol.isNotNull)
      .select(
        Seq(
          s.idCol.cast("string").as("traj_id"),
          Times.micros(s.tsCol).as("ts_us")) ++
          ordProj :+
          col(valueCol).cast("double").as("v"): _*)
    val sortKey = Seq(col("traj_id"), col("ts_us")) ++
      s.orderCols.indices.map(i => col(s"_o$i"))
    base
      .repartition(col("traj_id"))
      .sortWithinPartitions(sortKey: _*)
      .select(
        col("traj_id"), col("ts_us"),
        (if (s.orderCols.nonEmpty) col("_o0") else lit(0L)).as("ord"),
        col("v"))
      .as(Encoders.product[EwmaRow])
  }

  /** Shared kernel: the constant-β recurrence. */
  private def run(
      rows: org.apache.spark.sql.Dataset[EwmaRow],
      beta: Double,
      kappa: Double): DataFrame = {
    // rows arrive exchange-d + secondary-sorted from prepare() (full
    // (entity, ts, orderCols…) key — see there)
    val out = rows
      .mapPartitions { it =>
        // O(1) state per task: entity boundary detected on the sorted run
        var curId: String = null
        var seen = false
        var num = 0.0; var den = 0.0; var prevEwm = 0.0
        var cp = 0.0; var cn = 0.0
        it.map { r =>
          if (r.traj_id != curId) { curId = r.traj_id; seen = false }
          r.v match {
            case Some(x) if !seen =>
              seen = true; num = x; den = 1.0; prevEwm = x
              cp = 0.0; cn = 0.0
              EwmaOut(r.traj_id, r.ts_us, r.ord, r.v, Some(x), Some(0.0), Some(0.0))
            case Some(x) =>
              // CUSUM reads the PREVIOUS smoothed value (drift vs history),
              // then the mean recurrence advances — op order is the law the
              // oracle CTE mirrors term-for-term
              cp = math.max(0.0, cp + (x - prevEwm - kappa))
              cn = math.min(0.0, cn + (x - prevEwm + kappa))
              num = x + beta * num
              den = 1.0 + beta * den
              val y = num / den
              prevEwm = y
              EwmaOut(r.traj_id, r.ts_us, r.ord, r.v, Some(y), Some(cp), Some(cn))
            case None =>
              EwmaOut(r.traj_id, r.ts_us, r.ord, None, None, None, None)
          }
        }
      }(Encoders.product[EwmaOut])
    out.toDF()
  }
}
