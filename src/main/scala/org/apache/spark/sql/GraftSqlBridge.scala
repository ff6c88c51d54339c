package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryListenerBus

/** Package-visibility shim for `Dataset.ofRows` (private[sql]) — the one
  * hook a library needs to hand a custom LogicalPlan back to the public
  * DataFrame API. Standard pattern for third-party Spark extensions; no
  * Spark behavior is altered. */
object GraftSqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `body` on a session sharing `spark`'s context and cache, with a
    * copy of its SQL conf. Each streaming query manager (the clone's, and
    * the one a stateful query's own internal session creates) registers a
    * `StreamingQueryListenerBus` on the shared listener bus that Spark never
    * removes, so every such bus added during `body` is detached afterwards.
    * Calls are serialized so the diff names only this call's buses; a
    * manager another thread creates meanwhile would be detached too. */
  def withClonedSession[T](spark: SparkSession)(body: SparkSession => T): T = synchronized {
    val bus = spark.sparkContext.listenerBus
    def streamBuses = bus.findListenersByClass[StreamingQueryListenerBus]().toSet
    val before = streamBuses
    try body(spark.asInstanceOf[classic.SparkSession].cloneSession())
    finally (streamBuses -- before).foreach(bus.removeListener)
  }

  /** Run the map stages of `deps` concurrently and return each one's bytes
    * per reduce partition (`submitMapStage`, private to Spark, is how
    * adaptive execution runs its query stages); a later job over the
    * shuffles skips those stages. */
  def runMapStages(deps: Seq[org.apache.spark.ShuffleDependency[_, _, _]]): Seq[Array[Long]] =
    deps.map(d => d -> Option.when(d.rdd.partitions.nonEmpty)(d.rdd.sparkContext.submitMapStage(d)))
      .map { case (d, run) =>
        run.fold(new Array[Long](d.partitioner.numPartitions))(_.get().bytesByPartitionId) }

  /** Column from a raw catalyst Expression (for custom codegen'd
    * expressions used through the DataFrame API). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
