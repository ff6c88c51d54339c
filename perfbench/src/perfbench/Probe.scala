package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters summed over the stages of some set of jobs. */
final case class Counts(
    jobs: Long = 0, tasks: Long = 0, taskS: Double = 0, shuffleWrite: Long = 0, outputBytes: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks, taskS + o.taskS,
    shuffleWrite + o.shuffleWrite, outputBytes + o.outputBytes)
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks, taskS - o.taskS,
    shuffleWrite - o.shuffleWrite, outputBytes - o.outputBytes)
}

/** Stage-listener counts, in total and per span. A job is attributed to the
  * span whose id was in the submitting thread's `perfbench.span` local
  * property when it started; threads the engine starts (streaming, AQE
  * broadcasts) inherit that property. */
final class Probe(spark: SparkSession) extends SparkListener {
  private val stageKey = new ConcurrentHashMap[Int, Long]()
  private val byKey = new ConcurrentHashMap[Long, Counts]()
  private var total = Counts()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.Key))).map(_.toLong).getOrElse(0L)
    e.stageIds.foreach(stageKey.put(_, key))
    add(key, Counts(jobs = 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) add(stageKey.getOrDefault(si.stageId, 0L), Counts(
      tasks = si.numTasks, taskS = m.executorRunTime / 1e3,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten, outputBytes = m.outputMetrics.bytesWritten))
  }

  private def add(key: Long, c: Counts): Unit = synchronized {
    total = total + c
    byKey.put(key, byKey.getOrDefault(key, Counts()) + c)
  }

  /** Totals after every event posted so far has been delivered. */
  def totals(): Counts = { PerfbenchBus.drain(spark.sparkContext); synchronized(total) }

  def of(key: Long): Counts = synchronized(byKey.getOrDefault(key, Counts()))
}

object Probe {
  val Key = "perfbench.span"
}

/** Planning time of each completed action, from its
  * `QueryExecution.tracker` phases (parsing, analysis, optimization,
  * planning). Read with [[take]] after draining the bus. */
final class Phases extends QueryExecutionListener {
  private val planS = new ConcurrentLinkedQueue[java.lang.Double]()
  private def record(qe: QueryExecution): Unit =
    planS.add(qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  def take(): Double = {
    var s = 0.0
    var v = planS.poll()
    while (v != null) { s += v; v = planS.poll() }
    s
  }
}

/** One traced call: what it was, when, and the call it happened inside. */
final case class Span(id: Long, parent: Long, run: String, name: String, startNs: Long) {
  var endNs: Long = startNs
  var planS: Double = 0.0
  var counts: Counts = Counts()
  def durS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, written once at exit. When disabled, `span`
  * only runs its body. */
final class Tracer(spark: SparkSession, probe: Probe, phases: Phases) {
  var enabled = false
  var run = ""
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0L), run, name, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(Probe.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Probe.Key, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Like [[span]], and also charges the planning phases of the actions the
    * body ran to the span (waits for the listener bus once). */
  def planned[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      phases.take()
      var sp: Span = null
      val r = span(name) { sp = stack.head; body }
      PerfbenchBus.drain(spark.sparkContext)
      sp.planS = phases.take()
      r
    }

  /** Attach each span's own listener counts, once the bus has drained. */
  def settle(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spans.foreach(s => s.counts = probe.of(s.id))
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the time its children cover. */
  def selfS(s: Span): Double = s.durS - children(s).map(_.durS).sum

  /** Counts of a span and everything under it. */
  def inclusive(s: Span): Counts = children(s).foldLeft(s.counts)((c, k) => c + inclusive(k))

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= Json.obj(
        "id" -> s.id, "parent" -> s.parent, "run" -> s.run, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> selfS(s), "plan_s" -> s.planS,
        "jobs" -> s.counts.jobs, "tasks" -> s.counts.tasks, "task_s" -> s.counts.taskS,
        "shuffle_write_bytes" -> s.counts.shuffleWrite,
        "output_bytes" -> s.counts.outputBytes)
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
