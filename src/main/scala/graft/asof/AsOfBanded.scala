package graft.asof

import org.apache.spark.sql.DataFrame

/** Whale-entity mitigation for the as-of merge (VERDICT r3 item 3): the
  * [[AsOfMerge]] directions planned through [[AsOfMergeExec]]'s
  * range-partitioned mode. The default mode clusters by entity, so one hot
  * entity serializes into ONE task and AQE's skew splitting cannot help (it
  * pattern-matches SMJ/SHJ, not custom execs). The range mode slices both
  * sides by one set of (entity, ts) bounds sampled from the data, so a
  * whale spreads over data-sized slices — as many as the session's
  * `spark.sql.shuffle.partitions` — with no band width to choose. Each
  * slice runs the same one-retained-row walk, fed only its boundary
  * context: the last build row before the slice and the first after it.
  *
  * Semantics are those of the unbanded directions, exactly: the slices
  * order raw keys, so null entities, null event times and NaN/±Inf doubles
  * behave as in the unbanded walk (AsOfBandedSpec asserts exceptAll-equality
  * with the merge and v1 in all three directions, with tolerance,
  * tie-breaks, empty-slice cascades and null entities, at several slice
  * counts).
  */
object AsOfBanded {

  /** [[AsOfMerge.backward]] over data-sized (entity, ts) slices. */
  def backwardBanded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    AsOfMerge.merge(probe, build, entity, ts, valueCols, toleranceSec, buildOrder,
      Direction.Backward, ranged = true)

  /** [[AsOfMerge.forward]] over data-sized (entity, ts) slices. */
  def forwardBanded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    AsOfMerge.merge(probe, build, entity, ts, valueCols, toleranceSec, buildOrder,
      Direction.Forward, ranged = true)

  /** [[AsOfMerge.nearest]] over data-sized (entity, ts) slices. */
  def nearestBanded(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    AsOfMerge.merge(probe, build, entity, ts, valueCols, toleranceSec, buildOrder,
      Direction.Nearest, ranged = true)
}
