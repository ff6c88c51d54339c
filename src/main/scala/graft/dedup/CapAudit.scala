package graft.dedup

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.slf4j.LoggerFactory

/** Runtime signal for the approximate-by-default caps (ADVICE r2): the
  * df-cap in [[Dedup.ngramJaccardPairs]] and the hot-bucket valve in the
  * banded joins silently reduce recall when they bind — callers got no
  * signal short of manually running the audit views. Every capped operator
  * now attaches a zero-cost `observe` metric counting the rows its cap
  * dropped, and a once-per-session listener logs a WARN (with the audit
  * view to run) whenever a completed action observed nonzero drops.
  *
  * Zero-cost: `CollectMetrics` accumulates during the action that was
  * already running — no extra job, no extra shuffle, fully codegen-
  * compatible. Cluster runs surface the same metric in the Spark UI /
  * listener bus, which is exactly the channel a 1000-executor pipeline
  * monitors. */
private[graft] object CapAudit {

  private val log = LoggerFactory.getLogger(getClass)
  private val Prefix = "graft_cap_"
  private val seq = new AtomicLong(0L)
  // weak identity set: a stopped-and-GC'd session must not block a later
  // session from getting its listener (identityHashCode can collide), and
  // the set must not pin sessions for the JVM lifetime
  private val installed = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]()))

  /** Wrap `df` with a drop-counting observation. `droppedRow` must be 1
    * for a row the cap will drop, 0 otherwise; `what` names the operator
    * and `audit` the view that explains the drops. */
  def observeDrops(df: DataFrame, droppedRow: Column, what: String, audit: String): DataFrame = {
    install(df)
    df.observe(
      s"$Prefix${what}_${seq.incrementAndGet()}",
      sum(droppedRow).cast("long").as("dropped_rows"),
      lit(audit).as("audit"))
  }

  /** Hot-key valve: drop every row whose `keys` group holds more than
    * `cap` rows, counting the drops through [[observeDrops]]. The group
    * size is a window count, so when the caller's next operator shuffles on
    * the same keys (a bucket or cell equi-join) the valve adds no exchange.
    * `cap = Int.MaxValue` disables the valve and returns `df` unchanged. */
  def dropHotKeys(df: DataFrame, keys: Seq[Column], cap: Int, what: String, audit: String): DataFrame =
    if (cap == Int.MaxValue) df
    else {
      val counted = df.withColumn("_sz", count(lit(1)).over(Window.partitionBy(keys: _*)))
      observeDrops(counted, when(col("_sz") > cap, 1L).otherwise(0L), what, audit)
        .where(col("_sz") <= cap).drop("_sz")
    }

  /** Collect executed `CollectMetricsExec` rows, descending through AQE
    * wrappers — Spark 4.1's `qe.observedMetrics` does NOT surface metrics
    * that ended up inside adaptive query stages, so the listener walks the
    * final stage tree itself. Known blind spot: if AQE collapses the whole
    * query to an empty relation (all candidates dropped AND no survivors),
    * the observed subtree is cut before it runs and no signal fires — the
    * audit views ([[Dedup.hotShingles]], bucket sizes) remain the ground
    * truth for that degenerate case. */
  private[graft] def collectMetricRows(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[(String, org.apache.spark.sql.Row)] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectMetricRows(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectMetricRows(q.plan)
      case c: org.apache.spark.sql.execution.CollectMetricsExec =>
        (c.name, c.collectedMetrics) +: c.children.flatMap(collectMetricRows)
      case o => o.children.flatMap(collectMetricRows)
    }

  private def install(df: DataFrame): Unit = {
    val spark = df.sparkSession
    if (installed.add(spark)) {
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          // distinct by metric name: a non-AQE plan reports through BOTH
          // channels and must warn once, not twice
          (qe.observedMetrics.toSeq ++ collectMetricRows(qe.executedPlan))
            .distinctBy(_._1).foreach {
            case (name, row) =>
              if (name.startsWith(Prefix)) {
                val dropped = Option(row.getAs[Any]("dropped_rows")).fold(0L)(_.toString.toLong)
                if (dropped > 0L)
                  log.warn(
                    s"[graft] cap '$name' dropped $dropped rows before the candidate join — " +
                      s"recall is reduced; audit with ${row.getAs[String]("audit")} or raise the cap")
              }
          }
        override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      })
    }
  }
}
