package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming gap-sessionization — the Structured Streaming face of
  * [[graft.session.Sessionize.byGap]] for unbounded event feeds.
  *
  * The reference is batch-only (SURVEY.md §2.9: no streaming anywhere in
  * PTRAIL), so this is engine-added capability for the training-data
  * pipeline: the same gap rule (new session when Δt > gap), expressed over
  * `readStream` with event-time watermarking and per-entity state via
  * `flatMapGroupsWithState` — the documented Spark pattern for custom
  * session windows. State per entity is O(1) (last ts + running session
  * id); TOTAL state is bounded by idle-entity eviction (below), so a
  * 1000-executor cluster shards entities by hash with bounded memory even
  * over an unbounded entity universe.
  *
  * '''State eviction (VERDICT r3 item 1).''' The group state runs under
  * `GroupStateTimeout.EventTimeTimeout`: after processing an entity's
  * batch, a timeout is registered at `lastTs + idleStateTimeoutSec`; when
  * the WATERMARK passes that point the group times out on a later
  * micro-batch and its state is removed. Event-time timeouts ride the
  * watermark — they never busy-loop empty micro-batches the way
  * ProcessingTimeTimeout does under the default trigger (the trap this
  * repo documented in r2). Eviction is gap-semantics-preserving as long as
  * `idleStateTimeoutSec >= gapSeconds` (enforced): any row arriving after
  * eviction has `ts > watermark > lastTs + gap`, so the batch rule would
  * have started a new session for it anyway.
  *
  * '''Re-appearing-entity contract.''' Eviction drops the running session
  * counter with the state, so an entity that returns after its state was
  * evicted re-bases `session_id` at 0. Session ids are therefore unique
  * per (entity, state epoch), not globally monotone per entity — consumers
  * that need a globally unique session key should key on
  * `(entity, first ts of the session)`, which is stable under re-basing.
  * Passing `idleStateTimeoutSec = None` disables eviction entirely (state
  * grows O(#entities) forever): that is the exact-parity mode the replay
  * harness uses to hash-compare against the batch operator, not a
  * production configuration.
  *
  * Late data beyond the watermark is dropped by the upstream
  * `withWatermark`; in-order data within an entity is guaranteed by Spark's
  * per-group iterator ordering ONLY if the source preserves it, so the
  * worker sorts each micro-batch group by ts (micro-batches are small per
  * entity; this is not a global sort).
  *
  * Host sessions: each start of a query over this stateful operator leaks
  * one `StreamingQueryListenerBus` on the shared listener bus (Spark runs
  * it on an internal session clone whose query manager never removes its
  * bus); [[StreamDrive.replay]] detaches it, a host's own start does not.
  */
object StreamSessionize {

  case class Point(entity: String, ts: Timestamp)
  case class SessionAssign(entity: String, ts: Timestamp, session_id: Long)
  case class SessState(lastTsMicros: Long, sessionId: Long)

  /** Assign gap-based session ids on a streaming Dataset with columns
    * (entity string, ts timestamp). Output schema matches the batch
    * operator: (entity, ts, session_id), session_id 0-based per entity
    * (per state epoch — see the re-appearing-entity contract above).
    * `idleStateTimeoutSec` defaults to 30 days; must be ≥ `gapSeconds`. */
  def byGap(
      points: DataFrame,
      gapSeconds: Double,
      watermarkDelay: String = "10 minutes",
      idleStateTimeoutSec: Option[Double] = Some(30 * 86400.0)
  ): Dataset[SessionAssign] = {
    idleStateTimeoutSec.foreach(t => require(t >= gapSeconds,
      s"idleStateTimeoutSec ($t) must be >= gapSeconds ($gapSeconds): evicting inside the " +
        "gap horizon would re-base session ids for rows the batch rule keeps in-session"))
    val gapMicros = (gapSeconds * 1e6).toLong
    val typed = points
      .select(col("entity"), col("ts"))
      .withWatermark("ts", watermarkDelay)
      .as(Encoders.product[Point])

    typed
      .groupByKey(_.entity)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        // ceil: flooring a fractional-millisecond horizon (with the ceil'd
        // lastTs registration) could still evict inside the gap
        assignBatch(gapMicros, idleStateTimeoutSec.map(t => math.ceil(t * 1000).toLong))
      )(Encoders.product[SessState], Encoders.product[SessionAssign])
  }

  /** Per-entity, per-micro-batch state transition (+ timeout handling). */
  private def assignBatch(gapMicros: Long, evictAfterMs: Option[Long])(
      entity: String,
      rows: Iterator[Point],
      state: GroupState[SessState]
  ): Iterator[SessionAssign] = {
    if (state.hasTimedOut) {
      // the watermark passed lastTs + idleStateTimeout ≥ lastTs + gap: any
      // future row for this entity starts a new session under the batch
      // rule too, so dropping the state (including the session counter —
      // re-basing contract above) changes no gap decision
      state.remove()
      return Iterator.empty
    }
    // full microsecond precision: Timestamp.getTime is millis-truncated,
    // the sub-milli part lives in getNanos (batch byGap compares micros)
    def micros(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val sorted = rows.toArray.sortBy(p => micros(p.ts)) // within-batch order only
    var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L))
    // Cross-batch stragglers (ts < already-emitted state) are DROPPED, not
    // processed: in append mode earlier assignments cannot be revised, and
    // rewinding lastTs would corrupt the gap decision for every later row
    // (a -30s "gap" followed by a spurious new session). Within-entity
    // order across micro-batches is the operator's documented contract;
    // this makes violations safe instead of silently wrong.
    val out = sorted.flatMap { p =>
      val tsMicros = micros(p.ts)
      if (tsMicros < st.lastTsMicros) None
      else {
        val newSession = st.lastTsMicros != Long.MinValue && tsMicros - st.lastTsMicros > gapMicros
        st = SessState(tsMicros, if (newSession) st.sessionId + 1 else st.sessionId)
        Some(SessionAssign(entity, p.ts, st.sessionId))
      }
    }
    state.update(st)
    evictAfterMs.foreach { ms =>
      if (st.lastTsMicros != Long.MinValue) {
        // event-time timeout must be registered strictly ahead of the
        // current watermark (Spark rejects a timestamp at/behind it);
        // clamping to wm+1 evicts a straggler entity on the next batch.
        // micros→millis rounds UP: flooring would fire the timeout inside
        // the idle horizon for sub-millisecond lastTs, and with
        // idleStateTimeout == gap that could evict an entity whose next
        // row is still within the gap (breaking the ≥-gap invariant the
        // require() promises)
        val lastTsMsCeil = Math.floorDiv(st.lastTsMicros + 999L, 1000L)
        state.setTimeoutTimestamp(
          math.max(lastTsMsCeil + ms, state.getCurrentWatermarkMs() + 1L))
      }
    }
    out.iterator
  }
}
