package graft.asof

import graft.core.Times
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whale-entity mitigation for the as-of merge (VERDICT r3 item 3, the
  * strong option): [[AsOfMergeExec]] clusters by entity only, so one hot
  * entity serializes into ONE task and AQE's skew splitting cannot help (it
  * pattern-matches SMJ/SHJ, not custom execs). This wrapper splits every
  * entity into fixed event-time bands and merges on the COMPOSITE key
  * (entity, band) — the same one-retained-row walk, but a whale's rows now
  * spread across ⌈span/bandSeconds⌉ independently-scheduled groups. All
  * three directions are supported; each direction's missing-context rows
  * are materialized as CARRY rows over a per-(entity, band) summary table:
  *
  *  - backward: for a probe in band B, the latest build row with ts ≤ p.ts
  *    is either in band B itself (band assignment is monotone in ts) or the
  *    globally latest build row from any band < B — per band the last build
  *    row (max (ts, buildOrder)) forward-filled across the entity's band
  *    universe and replicated into each later probe band.
  *  - forward: mirrored — per band the FIRST build row (min (ts,
  *    buildOrder)), BACKWARD-filled and replicated into each earlier probe
  *    band (the earliest build ≥ p.ts is in-band or the first row of the
  *    nearest later non-empty band).
  *  - nearest: both carry sets union into the build side; the nearest walk
  *    then sees the true backward and forward candidates in every band and
  *    its distance compare (backward wins ties, tolerance both sides) is
  *    unchanged.
  *
  * Carries cannot corrupt in-band matching: a backward carry's ts is
  * strictly below the band start (never a ≥-probe forward candidate) and a
  * forward carry's ts is at or above the band end (never a ≤-probe backward
  * candidate). The fill windows run over band SUMMARIES (#entity×#bands
  * rows, not data-sized).
  *
  * Cost: one extra narrow aggregate + window over band summaries and ≤1
  * replicated build row per (entity, probe-band) per needed direction — a
  * lag-k overlap, applied to the join.
  * Semantics caveat (documented, spec-pinned): event times with no
  * TIMESTAMP IMAGE — null; NaN/±Inf doubles; numeric keys whose seconds
  * value overflows the timestamp-representable range (|ts| ≳ 3e11 s) — are
  * banded to -∞ and never match, whereas the unbanded walk orders such keys
  * raw (and gives NaN probes the sort-greatest v1 behavior when NO
  * tolerance is set); use the unbanded form if those extremes matter.
  * Parity with the unbanded [[AsOfMerge]] directions is exact for
  * timestamp-representable event times (AsOfBandedSpec asserts
  * exceptAll-equality with tolerance, tie-breaks, empty-band cascades, and
  * null entities in all three directions).
  */
object AsOfBanded {

  /** [[AsOfMerge.backward]] semantics over (entity, time-band) groups.
    * `bandSeconds` sizes the per-task slice of a whale entity — pick it so
    * one band of your hottest entity fits a task comfortably. */
  def backwardBanded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      bandSeconds: Double,
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    banded(probe, build, entity, ts, valueCols, bandSeconds, toleranceSec, buildOrder,
      Direction.Backward)

  /** [[AsOfMerge.forward]] semantics over (entity, time-band) groups. */
  def forwardBanded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      bandSeconds: Double,
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    banded(probe, build, entity, ts, valueCols, bandSeconds, toleranceSec, buildOrder,
      Direction.Forward)

  /** [[AsOfMerge.nearest]] semantics over (entity, time-band) groups. */
  def nearestBanded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      bandSeconds: Double,
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    banded(probe, build, entity, ts, valueCols, bandSeconds, toleranceSec, buildOrder,
      Direction.Nearest)

  private def banded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      bandSeconds: Double,
      toleranceSec: Double,
      buildOrder: Seq[String],
      direction: Direction.Value
  ): DataFrame = {
    val bandMicros = (bandSeconds * 1e6).toLong
    require(bandMicros > 0, s"bandSeconds must be positive, got $bandSeconds")
    val helpers = Seq("_band", "_ebd", "_e", "_isP", "_first", "_last", "_carry")
    require(!probe.columns.exists(helpers.contains) && !build.columns.exists(helpers.contains),
      s"columns ${helpers.mkString("/")} are reserved by the banded as-of")

    // band assignment: monotone in event time (exactness only needs
    // monotonicity, so double-division boundary rounding is harmless);
    // no-micros rows (null ts, NaN/Inf doubles) band to -∞
    def bandOf(c: Column): Column =
      coalesce(floor(Times.micros(c) / bandMicros).cast("long"), lit(Long.MinValue))

    val probeB = probe.withColumn("_band", bandOf(col(ts)))
    val buildCols = build.columns.toSeq
    // -∞-band build rows have no timestamp image: never a latest-≤ match,
    // never an earliest-≥ match against a real probe band, and the -∞
    // probe band never matches anyway — drop them from the build
    val buildB = build.withColumn("_band", bandOf(col(ts)))
      .where(col("_band") =!= Long.MinValue)

    val needBack = direction != Direction.Forward
    val needFwd = direction != Direction.Backward
    val orderKey = struct((col(ts) +: buildOrder.map(col)): _*)
    val rowStruct = struct(buildCols.map(col): _*)

    // per (entity, band): the band's last build row under (ts, buildOrder)
    // (backward carry source) and/or its first (forward carry source)
    val summaryAggs =
      (if (needBack) Seq(max_by(rowStruct, orderKey).as("_last")) else Nil) ++
        (if (needFwd) Seq(min_by(rowStruct, orderKey).as("_first")) else Nil)
    val perBand = buildB.groupBy(col(entity).as("_e"), col("_band"))
      .agg(summaryAggs.head, summaryAggs.tail: _*)

    // band universe = probe bands ∪ build bands (build-only bands must sit
    // in the window so the fills cascade across EMPTY probe bands);
    // null-safe join keys keep null entities grouped like the merge does
    val probeBands = probeB.select(col(entity).as("_e"), col("_band"))
      .distinct().withColumn("_isP", lit(true))
    val uniCols = Seq(
      coalesce(probeBands("_e"), perBand("_e")).as("_e"),
      coalesce(probeBands("_band"), perBand("_band")).as("_band"),
      col("_isP")) ++
      (if (needBack) Seq(col("_last")) else Nil) ++
      (if (needFwd) Seq(col("_first")) else Nil)
    val uni = probeBands.join(perBand,
        probeBands("_e") <=> perBand("_e") && probeBands("_band") <=> perBand("_band"),
        "full")
      .select(uniCols: _*)

    def carryFrame(src: String, w: org.apache.spark.sql.expressions.WindowSpec,
        fill: (Column, org.apache.spark.sql.expressions.WindowSpec) => Column): DataFrame =
      uni
        .withColumn("_carry", fill(col(src), w))
        .where(col("_isP") === true && col("_carry").isNotNull)
        .select(buildCols.map(c => col(s"_carry.`$c`").as(c)) :+ col("_band"): _*)

    val wBack = Window.partitionBy(col("_e")).orderBy(col("_band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wFwd = Window.partitionBy(col("_e")).orderBy(col("_band"))
      .rowsBetween(1, Window.unboundedFollowing)
    val carryFrames =
      (if (needBack) Seq(carryFrame("_last", wBack, (c, w) => last(c, ignoreNulls = true).over(w)))
       else Nil) ++
        (if (needFwd) Seq(carryFrame("_first", wFwd, (c, w) => first(c, ignoreNulls = true).over(w)))
         else Nil)

    val buildAug = carryFrames.foldLeft(
      buildB.select(buildCols.map(col) :+ col("_band"): _*))(_ unionByName _)

    // composite cluster key → the exec co-partitions and walks per
    // (entity, band); struct ordering = (entity, band) lexicographic, so
    // the required child sort stays correct
    val pK = probeB.withColumn("_ebd", struct(col(entity), col("_band")))
    val bK = buildAug.withColumn("_ebd", struct(col(entity), col("_band")))
    val merged = direction match {
      case Direction.Backward =>
        AsOfMerge.backward(pK, bK, "_ebd", ts, valueCols, toleranceSec, buildOrder)
      case Direction.Forward =>
        AsOfMerge.forward(pK, bK, "_ebd", ts, valueCols, toleranceSec, buildOrder)
      case Direction.Nearest =>
        AsOfMerge.nearest(pK, bK, "_ebd", ts, valueCols, toleranceSec, buildOrder)
    }
    merged.drop("_ebd", "_band")
  }
}
