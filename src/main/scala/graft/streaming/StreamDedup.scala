package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming ingest-time deduplication — the Structured Streaming face of
  * [[graft.dedup.Dedup.exact]] for unbounded document feeds.
  *
  * The reference is batch-only (SURVEY.md §2.9), so this is engine-added
  * capability for the training-data pipeline: a corpus ingested as a stream
  * drops exact duplicates AT ARRIVAL, before they reach storage or any
  * downstream near-dup pass. Expressed entirely with built-ins:
  * content-hash projection + `dropDuplicatesWithinWatermark` — Spark keys
  * per-hash state and, unlike plain `dropDuplicates`, EVICTS state older
  * than the watermark horizon, so a 1000-executor ingest runs with bounded
  * memory (state ∝ distinct hashes per horizon, not per stream lifetime).
  *
  * Canonicalization deviates from the batch operator by necessity: batch
  * keeps the min-id row of each duplicate group (a global choice), a stream
  * keeps the FIRST ARRIVAL (the only causal choice). Duplicates farther
  * apart in event time than the watermark horizon are NOT collapsed — that
  * residue is what the batch [[graft.dedup.Dedup.exact]] sweep removes.
  *
  * Host sessions: each start of a query over this stateful operator leaks
  * one `StreamingQueryListenerBus` on the shared listener bus (Spark runs
  * it on an internal session clone whose query manager never removes its
  * bus); [[StreamDrive.replay]] detaches it, a host's own start does not. */
object StreamDedup {

  /** Drop exact-duplicate docs (same `text` bytes) within the watermark
    * horizon. `docs` must carry an event-time column `tsCol`. Output: the
    * input rows that survived, plus their `content_hash`. */
  def exact(
      docs: DataFrame,
      tsCol: String,
      watermarkDelay: String = "10 minutes",
      text: String = "text"
  ): DataFrame =
    docs
      .withColumn("content_hash", md5(col(text)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("content_hash")
}
