package graft.kernels

import graft.dedup.CapAudit
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large × large proximity join: all point pairs within `distM` metres —
  * the 2-D sibling of the banded interval join (`asof.IntervalJoin`), and
  * the co-location primitive behind contact tracing, convoy/flock mining
  * and map-matching candidate generation. The reference's proximity
  * surface (`visited_poi`, `nearest_poi` — contextual_features.py) only
  * handles a SMALL poi side (broadcast / inlined OR-chain); this operator
  * is the case where BOTH sides are data-scale.
  *
  * Shape: uniform-grid banding. Each point keys to cell
  * `(⌊lat/cellLatDeg⌋, ⌊lon/cellLonDeg⌋)`; the LEFT side replicates to its
  * 3×3 cell neighborhood (a fixed 9× fan-out — replicate the smaller
  * side), the right side keeps one row per point, and an EQUI-join on the
  * cell key clusters candidates — Catalyst plans a plain shuffled hash /
  * sort-merge join, never a cross product (spec-gated). The exact
  * haversine then filters candidates; a pair survives in EXACTLY one cell
  * (the right point's own), so no post-dedup is needed.
  *
  * CONTRACT: every cell must cover `distM` metres at all data latitudes
  * under the engine's OWN spherical model ([[MetersPerDegLat]] ≈ 111 195
  * m/deg) — `cellLatDeg·111 195 ≥ distM` (validated statically) and the
  * lon coverage `sin(cellLonDeg/2)·cos(|lat|) ≥ sin(distM/2R)` (the EXACT
  * spherical condition; ≈ `cellLonDeg·111 195·cos|lat| ≥ distM` at small
  * angles). Lon shrink depends on the data, so it is VALIDATED IN-PLAN
  * per row (VERDICT r4 #6): a point at a latitude the cell size cannot
  * cover raises loudly at runtime — one codegen'd cos + compare riding
  * the lat column (never pruned, no extra scan), instead of a silently
  * missed in-range pair. Bigger cells stay correct but widen the
  * candidate set.
  *
  * Longitudes are treated as a planar [-180, 180) axis: a pair straddling
  * the antimeridian is NOT candidate-paired (same scope as the reference's
  * bounding-box semantics); shift the frame for data hugging ±180.
  *
  * 100-TB shape: the ONLY shuffle is the cell-keyed join (both exchanges
  * carry one row per point — 9 for the replicated side); candidate volume
  * per task is bounded by cell occupancy, and `maxCell` is the skew valve:
  * cells holding more right-side points than the cap are dropped LOUDLY
  * (CapAudit observe metric — an urban-core hot cell means the cell size,
  * not the cluster, is wrong). */
object SpatialJoin {

  /** Metres per degree of latitude under the engine's own spherical earth
    * (π/180 · [[Geo.EarthRadiusMeters]] ≈ 111 194.93 — NOT the WGS84
    * 111 320: the coverage contract must be judged by the same model the
    * haversine re-check uses, or the 3×3 neighborhood can miss genuinely
    * in-range pairs by the model gap). */
  val MetersPerDegLat: Double = math.Pi / 180.0 * Geo.EarthRadiusMeters

  /** Guard the lat column with the exact spherical lon-coverage check:
    * haversine gives `sin²(d/2R) ≥ cos²(|lat|max)·sin²(Δλ/2)`, so two
    * points within `distM` satisfy `Δλ ≤ cellLonDeg` (adjacent cells —
    * the 3×3 neighborhood finds them) whenever
    * `sin(cellLonDeg/2)·cos(|lat|) ≥ sin(distM/2R)` holds at each point's
    * own latitude (the pair's max-|lat| endpoint is one of the rows, so
    * per-row validation covers the pair). Rows that violate raise —
    * loudly, with the offending latitude — rather than silently missing
    * genuinely in-range pairs. A cell ≥ 360° always covers; the sine is
    * clamped at 180° so over-wide cells cannot false-positive. */
  private def latWithLonGuard(lat: Column, distM: Double, cellLonDeg: Double): Column =
    if (cellLonDeg >= 360.0) lat.cast("double")
    else {
      val sinHalfCell = math.sin(math.toRadians(math.min(cellLonDeg, 180.0)) / 2.0)
      val sinHalfDist = math.sin(math.min(distM / (2.0 * Geo.EarthRadiusMeters), math.Pi / 2.0))
      when(lit(sinHalfCell) * cos(radians(abs(lat))) < lit(sinHalfDist),
        raise_error(concat(
          lit(f"SpatialJoin: lon cell $cellLonDeg%.6f° cannot cover distM=$distM%.1f m at |lat|="),
          round(abs(lat), 4).cast("string"),
          lit("° — widen cellLonDeg (or pre-filter the polar band)"))))
        .otherwise(lat).cast("double")
    }

  /** All (id_a, id_b, dist_m) pairs with `dist_m ≤ distM`, id_a from
    * `left`, id_b from `right`. Column names are read off each side via
    * (`idCol`, `latCol`, `lonCol`). `maxCell` here drops overfull
    * RIGHT-side cells (deterministic for two distinct tables; the
    * self-join applies its valve symmetrically BEFORE pairing — see
    * [[selfWithinDistance]]). */
  def withinDistance(
      left: DataFrame,
      right: DataFrame,
      distM: Double,
      cellLatDeg: Double,
      cellLonDeg: Double,
      idCol: String = "event_id",
      latCol: String = "lat",
      lonCol: String = "lon",
      maxCell: Int = Int.MaxValue
  ): DataFrame = {
    require(distM > 0.0, s"distM must be positive, got $distM")
    require(cellLatDeg > 0.0 && cellLonDeg > 0.0, "cell sizes must be positive")
    require(cellLatDeg * MetersPerDegLat >= distM,
      f"lat cell ${cellLatDeg}%.6f° covers ${cellLatDeg * MetersPerDegLat}%.1f m < distM $distM%.1f m")
    require(maxCell >= 1, "maxCell must be >= 1")
    val l = left.select(
        col(idCol).as("id_a"),
        latWithLonGuard(col(latCol), distM, cellLonDeg).as("_lat_a"),
        col(lonCol).cast("double").as("_lon_a"),
        floor(col(latCol) / cellLatDeg).cast("long").as("_cx0"),
        floor(col(lonCol) / cellLonDeg).cast("long").as("_cy0"))
      .select(col("*"), explode(array(lit(-1L), lit(0L), lit(1L))).as("_dx"))
      .select(col("*"), explode(array(lit(-1L), lit(0L), lit(1L))).as("_dy"))
      .select(col("id_a"), col("_lat_a"), col("_lon_a"),
        (col("_cx0") + col("_dx")).as("_cx"), (col("_cy0") + col("_dy")).as("_cy"))
    val r0 = right.select(
      col(idCol).as("id_b"),
      latWithLonGuard(col(latCol), distM, cellLonDeg).as("_lat_b"),
      col(lonCol).cast("double").as("_lon_b"),
      floor(col(latCol) / cellLatDeg).cast("long").as("_cx"),
      floor(col(lonCol) / cellLonDeg).cast("long").as("_cy"))
    // occupancy count on the SAME cell clustering the join shuffles on
    val r = CapAudit.dropHotKeys(r0, Seq(col("_cx"), col("_cy")), maxCell,
      "spatial_cell_valve", "SpatialJoin cell occupancy (shrink cells or raise maxCell)")
    val d = Geo.haversine(col("_lat_a"), col("_lon_a"), col("_lat_b"), col("_lon_b"))
    l.join(r, Seq("_cx", "_cy"))
      .where(d <= distM)
      .select(col("id_a"), col("id_b"), d.as("dist_m"))
  }

  /** Self-join form: unordered point pairs (`id_a < id_b`) of one table
    * within `distM` metres.
    *
    * The valve is applied SYMMETRICALLY before pairing: a point whose own
    * cell holds more than `maxCell` points pairs with NOTHING. (Valving
    * only one join side of a self-join would keep or lose a pair that
    * straddles a hot-cell boundary depending on which point carries the
    * smaller id — deterministic input→output, but arbitrary semantics.) */
  def selfWithinDistance(
      df: DataFrame,
      distM: Double,
      cellLatDeg: Double,
      cellLonDeg: Double,
      idCol: String = "event_id",
      latCol: String = "lat",
      lonCol: String = "lon",
      maxCell: Int = Int.MaxValue
  ): DataFrame = {
    require(maxCell >= 1, "maxCell must be >= 1")
    val base = CapAudit.dropHotKeys(df,
      Seq(floor(col(latCol) / cellLatDeg).cast("long"), floor(col(lonCol) / cellLonDeg).cast("long")),
      maxCell, "spatial_cell_valve", "SpatialJoin cell occupancy (shrink cells or raise maxCell)")
    withinDistance(base, base, distM, cellLatDeg, cellLonDeg, idCol, latCol, lonCol)
      .where(col("id_a") < col("id_b"))
  }
}
