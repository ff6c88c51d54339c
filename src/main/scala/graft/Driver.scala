package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The driver session policy, defined once: `Bench`, `QTime`, `PlanDump`,
  * `Verify` and `RunPipeline` all plan and run on [[session]]. (The
  * tests keep a pinned `local[4]` session: they gate plan shapes.)
  *
  * Defaults come from the host: `SPARK_GRAFT_CPUS` sets the local cores,
  * else every core the JVM sees. */
object Driver {

  /** Window buffer threshold, raised so per-entity groups stay in plain
    * on-heap arrays instead of hitting the managed external sorter. */
  private val WindowBuffer = 1048576

  /** collect_list is a TypedImperativeAggregate: ObjectHashAggregateExec
    * silently falls back to SORT-based aggregation after this many hash-map
    * keys per task (Spark default 128). Sized so final-stage maps stay
    * hash-based at bench scale; memory per task is the partition payload
    * either way. */
  private val ObjHashFallback = 4194304

  /** Entries of the JVM-wide compiled-codegen cache (Spark default 100, less
    * than one pass over the registry). A static conf: it takes effect only if
    * no codegen ran in the JVM before [[session]] built the session. */
  private val CodegenCache = 4096

  /** The dataset directory the mains read when none is given. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** The dataset directory of scale factor `sf` ("0.001"): a sibling of [[sfDir]]. */
  def sfDir(sf: String): String = java.nio.file.Paths.get(sfDir).resolveSibling(s"sf$sf").toString

  /** Local cores: `SPARK_GRAFT_CPUS` from `env`, else
    * `Runtime.availableProcessors`. A value that is not a positive integer
    * fails, naming the variable. */
  def cores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors) { v =>
      v.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS='$v' is not a positive integer"))
    }

  /** The session conf for `cores` local cores. */
  def conf(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    // 4 waves per core keeps all cores busy through uneven sort costs (a
    // single wave stalls on stragglers)
    "spark.sql.shuffle.partitions" -> (4 * cores).toString,
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> ObjHashFallback.toString,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCache.toString,
    "spark.sql.windowExec.buffer.in.memory.threshold" -> WindowBuffer.toString,
    // lets AQE coalesce the stages of persisted plans; the engine's one
    // persisted plan, `Dedup.dupClusters`' distributed path, reads ~28%
    // faster warm at sf0.1 on 4 cores (README, "Host sessions")
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** The shared driver session on [[cores]] local cores, logging at WARN from its
    * first line: Spark's INFO log defaults are installed, then lowered, before the builder. */
  def session(): SparkSession = {
    new org.apache.spark.internal.Logging { initializeLogIfNecessary(isInterpreter = false) }
    Configurator.setRootLevel(Level.WARN)
    conf(cores()).foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
  }
}
