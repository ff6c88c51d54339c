package graft.features

import graft.core.TrajSchema
import graft.kernels.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Contextual / spatial-join features
  * (ptrail/features/contextual_features.py). The reference routes these
  * through geopandas overlays of POINT layers, which degenerate to exact
  * coordinate joins — here they are broadcast joins / broadcast
  * nested-loop predicates, the strategies Catalyst already has.
  */
object Contextual {

  /** C1 — visited_location (contextual_features.py:33-124): point-in-set
    * intersection of trajectory points against a filtered geo layer via
    * exact (lat, lon) equality → 0/1 column `Visited_{name}`. Layer is
    * broadcast (small dim side). */
  def visitedLocation(
      df: DataFrame,
      s: TrajSchema,
      geoLayer: DataFrame,
      locationName: String,
      locationCol: String
  ): DataFrame = {
    val layer = geoLayer
      .where(col(locationCol) === locationName)
      .select(col(s.lat), col(s.lon))
      .distinct()
      .withColumn("_hit", lit(1))
    df.join(broadcast(layer), Seq(s.lat, s.lon), "left")
      .withColumn(s"Visited_$locationName", coalesce(col("_hit"), lit(0)))
      .drop("_hit")
  }

  /** C2 — visited_poi (contextual_features.py:126-184): point p is near a
    * POI iff ∃ surrounding-row r with |haversine(p, r) − r.distToPOI| ≤
    * threshold.
    *
    * The surrounding layer is dimension-sized by the operator's contract
    * (the reference holds it as an in-memory geopandas frame), so instead of
    * a nested-loop JOIN the predicate runs as ONE codegen'd kernel call per
    * point ([[graft.kernels.NearPoiExpr]]) looping the collected layer
    * arrays: one scan of the big side, ZERO shuffles/joins, no duplicate-row
    * multiplication hazard, early exit on the first hit. Null-field layer
    * rows keep the declarative three-valued-OR semantics (no hit + a null
    * term ⇒ null ⇒ coalesced false, like the unmatched semi-join rows). */
  /** Hard cap on the collected surrounding layer: the kernel loops the
    * layer per point, so a layer this size is already ~5 ms/point — beyond
    * it the operator is being misused (an oversized layer would otherwise
    * silently OOM the driver and bloat every task closure; fail loudly
    * instead, like the broadcast limit the old join path hit). */
  val MaxPoiLayerRows: Int = 1 << 20

  def visitedPoi(
      df: DataFrame,
      s: TrajSchema,
      surrounding: DataFrame,
      distColumn: String,
      thresholdM: Double,
      maxLayerRows: Int = MaxPoiLayerRows
  ): DataFrame = {
    // limit() bounds the driver haul BEFORE the require — an over-limit
    // layer fails with this message, never with a driver OOM (the +1 is
    // overflow-guarded so maxLayerRows = Int.MaxValue disables the cap
    // like the sibling maxDf/maxBucket sentinels)
    val probeLimit = math.min(maxLayerRows.toLong + 1, Int.MaxValue).toInt
    val layer = surrounding
      .select(col(s.lat).cast("double"), col(s.lon).cast("double"), col(distColumn).cast("double"))
      .limit(probeLimit)
      .collect()
    require(layer.length <= maxLayerRows,
      s"visitedPoi surrounding layer exceeds $maxLayerRows rows — the layer is " +
        "dimension-sized by contract (reference holds it in memory); pre-aggregate it " +
        "or raise maxLayerRows explicitly")
    val valid = layer.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2))
    val expr = graft.kernels.NearPoiExpr(
      org.apache.spark.sql.GraftSqlBridge.expression(s.latCol.cast("double")),
      org.apache.spark.sql.GraftSqlBridge.expression(s.lonCol.cast("double")),
      valid.map(_.getDouble(0)), valid.map(_.getDouble(1)), valid.map(_.getDouble(2)),
      thresholdM, hasNullRow = valid.length != layer.length)
    df.withColumn("Nearby_POI",
      coalesce(org.apache.spark.sql.GraftSqlBridge.column(expr), lit(false)))
  }

  /** C5 (offline form) — nearest POI per point. The reference pulls the POI
    * layer from OSMnx over the network (contextual_features.py:303-379,
    * descoped); semantics are preserved against a caller-supplied offline
    * layer `pois` = (poi_id, poi_lat, poi_lon): broadcast the (small) layer,
    * score every (point, poi) pair, take the per-point argmin with a
    * DETERMINISTIC tie-break (min over struct(dist, poi_id) is
    * lexicographic). `keyCols` must uniquely identify df rows. Zero shuffle
    * on the big side until the final keyed agg (map-side partial min). */
  def nearestPoi(
      df: DataFrame,
      s: TrajSchema,
      pois: DataFrame,
      keyCols: Seq[String],
      roundDigits: Int = 3
  ): DataFrame = {
    val d = round(Geo.haversine(col("poi_lat"), col("poi_lon"), s.latCol, s.lonCol), roundDigits) + 0.0
    df.crossJoin(broadcast(pois.select(col("poi_id"), col("poi_lat"), col("poi_lon"))))
      .withColumn("_pd", d)
      .groupBy(keyCols.map(col): _*)
      .agg(min(struct(col("_pd"), col("poi_id"))).as("_np"))
      .select(keyCols.map(col) :+ col("_np._pd").as("nearest_poi_dist") :+ col("_np.poi_id").as("nearest_poi"): _*)
  }

  /** Ray-casting point-in-polygon as a pure Column expression (crossing
    * number over the edge list). `polygon` is a Seq of (lat, lon) vertices
    * (closed implicitly). Broadcast as literals — zero shuffle. A
    * horizontal edge (yi == yj) can never be crossed, so it builds no term;
    * a polygon with no other edge is inside nowhere. */
  def pointInPolygon(lat: Column, lon: Column, polygon: Seq[(Double, Double)]): Column = {
    val n = polygon.length
    val crossings = (0 until n).flatMap { i =>
      val (yi, xi) = polygon(i)
      val (yj, xj) = polygon((i + 1) % n)
      if (yi == yj) None
      else {
        val cond = (lit(yi) > lat) =!= (lit(yj) > lat)
        val xCross = lit(xj - xi) * (lat - yi) / lit(yj - yi) + xi
        Some(when(cond && lon < xCross, 1).otherwise(0))
      }
    }
    pmod(crossings.foldLeft(lit(0))(_ + _), lit(2)) === 1
  }

  /** C3 — trajectories_inside_polygon (contextual_features.py:186-228):
    * keep points strictly inside the polygon. */
  def insidePolygon(df: DataFrame, s: TrajSchema, polygon: Seq[(Double, Double)]): DataFrame =
    df.where(pointInPolygon(s.latCol, s.lonCol, polygon))

  /** C4 — traj_intersect_inside_polygon (contextual_features.py:230-301):
    * clip two trajectories to the polygon, intersect on exact shared
    * coordinates → paired rows. */
  def intersectInsidePolygon(
      df1: DataFrame,
      df2: DataFrame,
      s: TrajSchema,
      polygon: Seq[(Double, Double)]
  ): DataFrame = {
    val a = insidePolygon(df1, s, polygon)
      .select(col(s.id).as("traj_id_1"), col(s.ts).as("ts_1"), s.latCol, s.lonCol)
    val b = insidePolygon(df2, s, polygon)
      .select(col(s.id).as("traj_id_2"), col(s.ts).as("ts_2"), s.latCol, s.lonCol)
    a.join(b, Seq(s.lat, s.lon), "inner")
      .select(col("traj_id_1"), col("traj_id_2"), col("ts_1"), col("ts_2"), s.latCol, s.lonCol)
  }
}

/** S4 — NSEW degree-string parsing (ptrail/utilities/conversions.py:12-38):
  * lat "12.3N" → +12.3, else negated; lon "45.6E" → +45.6, else negated,
  * wrapping by +360 when the negation falls below −180. */
object Conversions {
  def parseLat(c: Column): Column = {
    val num = trim(c).substr(lit(1), length(trim(c)) - 1).cast("double")
    when(upper(trim(c)).endsWith("N"), num).otherwise(num * -1)
  }

  def parseLon(c: Column): Column = {
    val num = trim(c).substr(lit(1), length(trim(c)) - 1).cast("double")
    val neg = num * -1
    when(upper(trim(c)).endsWith("E"), num)
      .otherwise(when(neg < -180.0, neg + 360).otherwise(neg))
  }

  def convertDirectionsToDegreeLatLon(df: DataFrame, latCol: String, lonCol: String): DataFrame =
    df.withColumn(latCol, parseLat(col(latCol)))
      .withColumn(lonCol, parseLon(col(lonCol)))
}
