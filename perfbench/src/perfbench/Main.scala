package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark invocation: set up one workload, run closed-loop passes
  * for the given seconds, check every output, and print one summary line.
  *
  *   perfbench.Main --workload grouped --seed 1 --seconds 10 --trace 0
  *     --cores 4 --root perfbench --work <dir> --record <file>
  *
  * With `--trace 0` the summary holds the end-to-end metrics of untraced
  * passes. With `--trace 1` two thirds of the time alternate untraced and
  * traced passes (spans around every call into the engine), then the
  * layer ladder runs; the summary holds the per-layer metrics every
  * workload has and the record every layer metric of this workload. */
object Main {

  final case class Pass(result: PassResult, wallS: Double, counts: Counts, span: Option[Span], gcS: Double)

  /** Collection time of every JVM collector so far, in seconds. */
  private def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try {
        if (a.contains("selftest")) SelfTest.run(a)
        else if (a.contains("pin")) SelfTest.pin(a)
        else run(a)
      }
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      // four task waves per core, for shuffles and for file scans alike,
      // so the heavy-tailed docs do not leave one straggler task per pass
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.files.minPartitionNum", (cores * 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(a: Map[String, String]): Int = {
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val root = a("root")
    val work = a("work")
    val record = Paths.get(a("record"))
    val rounds = 3

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val probe = new Probe(spark)
    spark.sparkContext.addSparkListener(probe)
    val phases = new Phases
    spark.listenerManager.register(phases)
    val tr = new Tracer(spark, probe, phases)

    val canary = Canary.load(Paths.get(s"$root/expected/canary.json"))
    def corpus = new CorpusInput(spark, work, seed, a("docs").toLong, a("splits").toInt)
    val w: Workload = name match {
      case "grouped" => new Flagship(spark, tr, corpus, canary, regroup = false, work)
      case "regroup" => new Flagship(spark, tr, corpus, canary, regroup = true, work)
      case "pipeline" => new PipelineRun(spark, tr, corpus, work)
      case "suite" => new Suite(spark, tr, s"$root/data/sf0.001", Suite.load(Paths.get(s"$root/expected/suite.tsv")))
      case other => sys.error(s"unknown workload $other")
    }

    // --- set-up: inputs made `rounds` times (median), then the pinned
    // checks and one warm-up pass ---
    val inputsS = (1 to rounds).map(_ => time(w.prepare())._2)
    val ((setupFailed, warm), warmupS) = time {
      val bad = w.checkSetup()
      tr.run = s"$name-$seed-warmup"
      (bad, w.pass())
    }
    val setupS = sessionS + Stats.median(inputsS) + warmupS
    val setupChecks = 1 + warm.attempted
    val setupBad = setupFailed ++ warm.failed.map(f => s"warmup:$f")

    // --- measured passes ---
    // Traced runs alternate untraced and traced passes, so that warming up
    // over the run does not bias the tracing overhead.
    def loop(budgetS: Double, minPasses: Int): Seq[Pass] = {
      val out = ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      // start another pass only if a median pass still fits the budget
      while (out.size < minPasses ||
          (System.nanoTime() - t0) / 1e9 + Stats.median(out.map(_.wallS).toSeq) <= budgetS) {
        tr.enabled = traced && out.size % 2 == 1
        tr.run = s"$name-$seed-pass${out.size}"
        val c0 = probe.totals()
        val g0 = gcS()
        val (r, wall) = time(tr.span("pass")(w.pass()))
        val g1 = gcS()
        val c1 = probe.totals()
        out += Pass(r, wall, c1 - c0, tr.spans.find(s => s.run == tr.run && s.name == "pass"), g1 - g0)
      }
      tr.enabled = false
      out.toSeq
    }
    val passes = if (traced) loop(seconds * 2 / 3, 2) else loop(seconds, 1)
    val plain = passes.filter(_.span.isEmpty)
    val (tracedPasses, ladder) =
      if (!traced) (Nil, Map.empty[String, Metric])
      else {
        val ps = passes.filter(_.span.isDefined)
        tr.enabled = true
        tr.run = s"$name-$seed-ladder"
        val l = w.ladder()
        tr.enabled = false
        tr.settle()
        (ps, l)
      }
    val results = passes.map(_.result) ++ w.extra
    val attempted = setupChecks + results.map(_.attempted).sum
    val failedOps = setupBad ++ results.flatMap(_.failed)
    val correct = failedOps.isEmpty

    val e2e = endToEnd(plain, setupS, attempted, failedOps.size)
    val layers =
      if (!traced) Map.empty[String, Metric]
      else perLayer(tr, name, tracedPasses, plain, ladder, sessionS, inputsS, warmupS)

    // --- record ---
    val spanFile = record.resolveSibling(record.getFileName.toString.stripSuffix(".json") + ".spans.jsonl")
    if (traced) tr.write(spanFile)
    val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    def metricsJson(ms: Map[String, Metric]) =
      ms.toSeq.sortBy(_._1).map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit, "n" -> m.n) }.toMap
    Files.createDirectories(record.getParent)
    Files.writeString(record, Json.obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedOps.size,
      "failed_ops" -> failedOps.groupBy(identity).map { case (k, v) => k -> v.size },
      "config" -> Map(
        "cores" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version, "spark_conf" -> conf),
      "inputs" -> w.inputs,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> inputsS, "warmup_s" -> warmupS, "setup_s" -> setupS),
      "passes" -> passes.map(p => Map(
        "traced" -> p.span.isDefined, "wall_s" -> p.wallS, "ops_s" -> p.result.opsS,
        "task_s" -> p.counts.taskS, "jobs" -> p.counts.jobs, "failed" -> p.result.failed)),
      "end_to_end" -> metricsJson(e2e),
      "per_layer" -> metricsJson(layers),
      "span_file" -> (if (traced) spanFile.toString else "")) + "\n")

    val shown = if (traced) layers.filter { case (k, _) => SummaryLayers.contains(k) } else e2e
    if (traced) println("perfbench layers " + Json.render(metricsJson(layers)))
    println(s"perfbench record $record")
    println(Json.obj(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedOps.size,
      "metrics" -> shown.toSeq.sortBy(_._1).map { case (k, m) => k -> Map("value" -> m.value, "unit" -> m.unit) }.toMap))
    spark.stop()
    0
  }

  /** The per-layer metrics every workload has; the summary line carries
    * these, the record carries all. */
  val SummaryLayers: Set[String] = Set(
    "setup.session_s", "setup.inputs_s", "setup.warmup_s", "trace.overhead_s",
    "phase.build_s", "phase.eager_jobs", "phase.plan_s", "phase.exec_s",
    "spark.jobs", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.cores_busy",
    "spark.shuffle_write_bytes")

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def endToEnd(ps: Seq[Pass], setupS: Double, attempted: Int, failed: Int): Map[String, Metric] = {
    val ops = ps.flatMap(_.result.opsS)
    Map(
      "setup_s" -> Metric(setupS, "s", 1),
      "pass_s" -> Metric(Stats.median(ps.map(_.wallS)), "s", ps.size),
      "op_s_p50" -> Metric(Stats.quantile(ops, 0.5), "s", ops.size),
      "op_s_p90" -> Metric(Stats.quantile(ops, 0.9), "s", ops.size),
      "task_s_per_pass" -> Metric(Stats.median(ps.map(_.counts.taskS)), "s", ps.size),
      "ok_frac" -> Metric((attempted - failed).toDouble / attempted, "ratio", attempted),
      "peak_rss_mb" -> Metric(Stats.peakRssMb(), "MB", 1))
  }

  /** Module of a suite query, by name prefix. */
  def module(query: String): String = {
    val p = query.stripPrefix("q_").takeWhile(_ != '_')
    p match {
      case "asof" => "asof"
      case "stream" => "streaming"
      case "dedup" => "dedup"
      case "flt" => "filters"
      case "stat" | "profile" => "stats"
      case "txt" => "text"
      case "mm" => "multimodal"
      case "ip" | "fill" => "interp"
      case "sim" => "ann"
      case "smp" => "sample"
      case "ses" | "seg" => "session"
      case "spatial" => "kernels"
      case "src" | "cnv" => "sources"
      case "tok" => "core"
      case _ => "features" // kin, tmp, roll, ewma, ctx, mobility, resample, seq, viz
    }
  }

  def perLayer(tr: Tracer, name: String, traced: Seq[Pass], plain: Seq[Pass], ladder: Map[String, Metric],
      sessionS: Double, inputsS: Seq[Double], warmupS: Double): Map[String, Metric] = {
    val n = traced.size
    def med(unit: String)(f: Pass => Double): Metric = Metric(Stats.median(traced.map(f)), unit, n)
    def spansOf(p: Pass, prefix: String) = tr.spans.filter(s => s.run == p.span.get.run && s.name.startsWith(prefix))
    def builds(p: Pass) = spansOf(p, "build:")
    def writes(p: Pass) = spansOf(p, "write:")
    val generic = Map(
      "setup.session_s" -> Metric(sessionS, "s", 1),
      "setup.inputs_s" -> Metric(Stats.median(inputsS), "s", inputsS.size),
      "setup.warmup_s" -> Metric(warmupS, "s", 1),
      "trace.overhead_s" -> Metric(
        Stats.median(traced.map(_.wallS)) - Stats.median(plain.map(_.wallS)), "s", n),
      "phase.build_s" -> med("s")(p => builds(p).map(_.durS).sum),
      "phase.eager_jobs" -> med("count")(p => builds(p).map(tr.inclusive(_).jobs).sum.toDouble),
      "phase.plan_s" -> med("s")(p => writes(p).map(_.planS).sum),
      "phase.exec_s" -> med("s")(p => writes(p).map(s => s.durS - s.planS).sum),
      "phase.other_s" -> med("s")(p =>
        p.wallS - builds(p).map(_.durS).sum - writes(p).map(_.durS).sum),
      "spark.jobs" -> med("count")(_.counts.jobs.toDouble),
      "spark.tasks" -> med("count")(_.counts.tasks.toDouble),
      "spark.task_s" -> med("s")(_.counts.taskS),
      // JVM-wide collection time, mean per pass: a pass often has no
      // collection at all, so a median would read 0
      "spark.gc_s" -> Metric(traced.map(_.gcS).sum / n, "s", n),
      "spark.cores_busy" -> med("ratio") { p =>
        val ws = writes(p)
        ws.map(tr.inclusive(_).taskS).sum / math.max(ws.map(_.durS).sum, 1e-9)
      },
      "spark.shuffle_write_bytes" -> med("bytes")(_.counts.shuffleWrite.toDouble))

    val specific: Map[String, Metric] = name match {
      case "suite" =>
        val perModule = traced.map { p =>
          spansOf(p, "op:").groupBy(s => module(s.name.stripPrefix("op:"))).map { case (m, ops) =>
            val kids = ops.flatMap(tr.children)
            val b = kids.filter(_.name.startsWith("build:"))
            val w = kids.filter(_.name.startsWith("write:"))
            m -> Map(
              "build_s" -> b.map(_.durS).sum,
              "eager_jobs" -> b.map(tr.inclusive(_).jobs).sum.toDouble,
              "plan_s" -> w.map(_.planS).sum,
              "exec_s" -> w.map(s => s.durS - s.planS).sum)
          }
        }
        val units = Map("build_s" -> "s", "eager_jobs" -> "count", "plan_s" -> "s", "exec_s" -> "s")
        perModule.flatMap(_.keys).distinct.flatMap { m =>
          units.map { case (k, u) => s"$m.$k" -> Metric(Stats.median(perModule.map(_(m)(k))), u, n) }
        }.toMap
      case "pipeline" =>
        val per = traced.map(p => PipelineRun.layers(tr, p.span.get.run))
        per.head.map { case (k, m) => k -> Metric(Stats.median(per.map(_(k).value)), m.unit, n) }
      case _ => Map.empty
    }
    generic ++ specific ++ ladder
  }
}
