package graft.streaming

import graft.core.Times
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming point-in-time enrichment: attach the most recent build-side
  * row (build.ts ≤ event.ts, [[graft.asof.AsOfJoin.backward]] semantics
  * including the equal-ts-visible and largest-buildOrder tie rules) to an
  * UNBOUNDED stream of events — the online half of the as-of family
  * (feature lookup at serving/ingest time against a point-in-time table).
  *
  * Formulation: the build side is COMPACTED to one bounded row per entity
  * holding its `keepLastN` most recent (ts, payload) snapshots as an array
  * ([[compactBuild]]), then a stream-static equi-join on entity + a
  * per-row `filter` → `array_max` picks the latest candidate. Every
  * streaming operator here is STATELESS (projections + stream-static join
  * — no watermark, no state store, append mode), so the operator needs no
  * eviction story and a restart replays cleanly from the checkpoint.
  *
  * Scale contract (VERDICT r4 #3 — this replaces the old unbounded
  * history array + raise-at-100k design):
  *
  *  - '''keep-last-N with a caller-run drop audit''': each entity's
  *    history is bounded at `keepLastN` snapshots — the N most recent by
  *    (ts, buildOrder). Older snapshots are DROPPED; [[droppedBuilds]]
  *    counts exactly how many build rows compaction evicts (same one-agg
  *    audit shape as the spatial-join cell valve), and a caller that cannot
  *    rule drops out runs it and fails or warns. The semantics change under
  *    drops is precise and documented: an event is enriched correctly
  *    whenever its ts is at-or-after its entity's OLDEST KEPT snapshot; an
  *    event older than every kept snapshot gets null (as if the entity had
  *    no history) instead of a dropped value. Point-in-time feature tables
  *    hold recent snapshots per entity, not the raw event firehose —
  *    histories deeper than `keepLastN` want the BATCH banded as-of, and
  *    with no drops the output is bit-identical to the unbounded
  *    formulation (StreamAsOfSpec asserts both).
  *  - '''whale-safe compaction''': the keep-last-N is a
  *    `row_number ≤ N` rank-limit, which Catalyst rewrites to a map-side
  *    WindowGroupLimit — a whale entity ships O(N × tasks) rows through
  *    the compaction exchange, never its full history.
  *  - '''compact once, before the stream''': neither function persists
  *    anything. A streaming caller compacts once and collects the
  *    compacted table (≤ nEntities × keepLastN snapshots) into a local
  *    relation before the first micro-batch, so the static subplan is not
  *    re-aggregated per batch and there is no cache to release —
  *    [[StreamDrive.asOfOverEvents]] is the reference usage.
  *  - '''bounded probe work''': the per-event candidate scan is
  *    O(keepLastN), not O(|history|).
  *
  * Works identically on a batch DataFrame (all ops are standard) —
  * StreamAsOfSpec asserts exceptAll-equality with AsOfJoin.backward.
  *
  * Output: stream columns + `asof_ts` + `valueCols` (null when no kept
  * build row at-or-before the event, or the event time is null). */
object StreamAsOf {

  /** Compact the build side to ONE bounded row per entity:
    * `(entity, _builds array<struct<_m, _ord…, _p>>)` holding the
    * `keepLastN` most recent snapshots by (ts, buildOrder…) — struct
    * field order makes `array_max` = backward's last-wins winner. The
    * rank-limit triggers Catalyst's map-side WindowGroupLimit, so a whale
    * entity never ships its full history through the exchange. Null-ts
    * build rows are never candidates and are dropped silently (same law
    * as the batch operator). */
  def compactBuild(
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      buildOrder: Seq[String] = Nil,
      keepLastN: Int = 64
  ): DataFrame = {
    require(keepLastN > 0, "keepLastN must be positive")
    val elem = struct(
      Times.micros(col(ts)).as("_m") +:
        buildOrder.map(c => col(c).as(s"_ord_$c")) :+
        struct(col(ts).as("_m_ts") +: valueCols.map(col): _*).as("_p"): _*)
    val w = Window.partitionBy(col(entity))
      .orderBy((Times.micros(col(ts)).desc +: buildOrder.map(col(_).desc)): _*)
    build
      .where(Times.micros(col(ts)).isNotNull)
      .select(col(entity), elem.as("_b"), row_number().over(w).as("_rn"))
      .where(col("_rn") <= keepLastN)
      .groupBy(col(entity))
      .agg(collect_list(col("_b")).as("_builds"))
  }

  /** Exact count of build rows [[compactBuild]] evicts at `keepLastN` —
    * one map-side-combined aggregate over the build side: the caller's
    * loud-drop audit (one Spark job). */
  def droppedBuilds(build: DataFrame, entity: String, ts: String, keepLastN: Int): Long = {
    require(keepLastN > 0, "keepLastN must be positive")
    val perEntity = build
      .where(Times.micros(col(ts)).isNotNull)
      .groupBy(col(entity)).agg(count(lit(1)).as("_n"))
    val r = perEntity
      .agg(coalesce(sum(greatest(col("_n") - keepLastN, lit(0L))), lit(0L))).first()
    r.getLong(0)
  }

  /** Enrich a stream against an already-compacted (for long-running
    * queries, locally collected) histories frame from [[compactBuild]].
    *
    * `broadcastHistories = true` plans the stream-static join as a
    * broadcast-hash join: each micro-batch is then map-only over its input
    * files (no per-batch exchange of either side). Size law: the compacted
    * table is ≤ nEntities × keepLastN snapshot structs — broadcast when
    * that fits executor memory (the usual streaming-enrichment case);
    * leave false for entity universes too large to ship, where the
    * per-batch shuffle join is the correct plan. Output is identical
    * either way (join strategy only). */
  def enrichCompacted(
      stream: DataFrame,
      histories: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      broadcastHistories: Boolean = false
  ): DataFrame = {
    val hist = if (broadcastHistories) broadcast(histories) else histories
    val streamCols = stream.columns.toSeq
    val pMic = Times.micros(col(ts))
    val cand = filter(col("_builds"), b => b.getField("_m") <= pMic)
    val best = array_max(cand)
    val mTs = best.getField("_p").getField("_m_ts")
    val matched =
      if (toleranceSec < 0) pMic.isNotNull && best.isNotNull
      else pMic.isNotNull && best.isNotNull &&
        (pMic - best.getField("_m")) <= (toleranceSec * 1e6).toLong
    stream
      .join(hist, Seq(entity), "left")
      .select(
        streamCols.map(col) ++
          Seq(when(matched, mTs).as("asof_ts")) ++
          valueCols.map(c => when(matched, best.getField("_p").getField(c)).as(c)): _*)
  }
}
