package graft

import graft.core.SyntheticCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main.
  *
  * Headline metric (BASELINE.md): feature-vector THROUGHPUT in tokens/sec
  * for the full kinematic + session feature set over the tokenized-sequence
  * table (doc_id, tokens array<int32>, n_tok, source) — deterministic
  * synthetic corpus, seed 42, heavy-tailed lengths. Runs on the shared
  * [[Driver.session]]; the scaling protocol (local[N] vs local[4N] on
  * identical input) is driven by SPARK_GRAFT_CPUS; tools/run_scaling.sh
  * sweeps it and writes BENCH.md.
  *
  * Prints ONE JSON line:
  *   {"metric":"total","value":<sec>,"unit":"sec","queries":{...},
  *    "sf":"...","cpus":N,"tokens":T,"flagship_sec":s,"tokens_per_sec":r}
  */
object Bench {

  /** The flagship pipeline: scan → zero-shuffle per-doc kernel (8
    * kinematic features + gap sessionize) → consume EVERY feature (so
    * column pruning cannot drop any of the work). No exchange, no sort, no
    * window ([[graft.pipeline.FlagshipJob.consumeAll]], the one definition
    * Bench, PlanDump and RunPipeline share). */
  def flagship(spark: SparkSession, corpusPath: String): (Long, DataFrame) = {
    val corpus = spark.read.parquet(corpusPath)
    val out = graft.pipeline.FlagshipJob.consumeAll(corpus)
    val tokens = corpus.agg(sum(col("n_tok"))).first().getLong(0)
    (tokens, out)
  }

  /** Corpus size when SPARK_GRAFT_BENCH_DOCS is unset. */
  private[graft] val DefaultDocs = 200000L

  // 256 input splits ⇒ ≥8 task waves at 32 cores: stragglers from the
  // heavy-tailed doc lengths amortize instead of serializing the last wave.
  private[graft] def ensureCorpus(spark: SparkSession, nDocs: Long): String = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_corpus_${nDocs}_p256"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      SyntheticCorpus.generate(spark, nDocs)
        .repartition(256)
        .write.mode("overwrite").parquet(path)
    }
    path
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Driver.sfDir
    val cpus = Driver.cores()
    val nDocs = sys.env.get("SPARK_GRAFT_BENCH_DOCS").fold(DefaultDocs)(_.toLong)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = Driver.session()
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val windowBuffer = spark.conf.get("spark.sql.windowExec.buffer.in.memory.threshold")

    // --- per-operator queries on the driver-provided SF dir ---
    // (skipped in the scaling sweep: SPARK_GRAFT_FLAGSHIP_ONLY=1 measures
    // just the headline token-throughput job)
    val flagshipOnly = sys.env.get("SPARK_GRAFT_FLAGSHIP_ONLY").contains("1")
    // SPARK_GRAFT_QUERY_REPS reports the MIN of N passes per query — the
    // weather-robust read (per-query single-pass times move ±3x with host
    // state; see BENCH.md §weather). Default 2 (VERDICT r3 item 4b): one
    // cache miss is the price of per-query numbers that survive weather.
    val queryReps = math.max(1, sys.env.get("SPARK_GRAFT_QUERY_REPS").flatMap(_.toIntOption).getOrElse(2))
    val failedQueries = scala.collection.mutable.LinkedHashSet.empty[String]
    val results =
      if (flagshipOnly) Seq.empty[(String, Double)]
      else SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val times = (1 to queryReps).map { _ =>
          val t0 = System.nanoTime()
          // a failed query must be LOUD (VERDICT r3 item 4a): it lands in
          // failed_queries and on stderr, and its (meaningless, usually
          // fast) wall time is EXCLUDED from the min so a failure duration
          // can't masquerade as a good benchmark number
          val ok =
            try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
            catch {
              case t: Throwable =>
                failedQueries += name
                System.err.println(s"[bench] query $name FAILED: ${t.getClass.getName}: ${t.getMessage}")
                false
            }
          (ok, (System.nanoTime() - t0) / 1e9)
        }
        val good = times.filter(_._1).map(_._2)
        // -1 = no successful rep: unmissable in the JSON, never mistaken
        // for a (fast) real timing
        name -> (if (good.nonEmpty) good.min else -1.0)
      }

    // --- flagship token-throughput (1 warmup + reps, median) ---
    // SPARK_GRAFT_PATHS selects which legs to time: "window" (the
    // flagship: FlagshipJob.consumeAll, the per-doc kernel in the
    // consume-all schema), "grouped" (the bare typed per-doc kernel, zero
    // shuffle), and/or "regroup" (ungrouped grid → run packing → one
    // exchange → per-doc kernel — the general path).
    val paths = sys.env.getOrElse("SPARK_GRAFT_PATHS", "window,grouped,regroup")
      .split(",").map(_.trim).toSet
    val corpusPath = ensureCorpus(spark, nDocs)
    val (tokens, flagshipOut) = flagship(spark, corpusPath)
    // per-run shuffle volume via a stage-metrics listener (protocol in
    // BASELINE.md asks for shuffle bytes alongside throughput)
    val shufWrite = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufRead = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskRun = new java.util.concurrent.atomic.AtomicLong(0L) // executorRunTime ms
    val taskGc = new java.util.concurrent.atomic.AtomicLong(0L)  // jvmGCTime ms
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shufWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufRead.addAndGet(sc.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
        taskRun.addAndGet(sc.stageInfo.taskMetrics.executorRunTime)
        taskGc.addAndGet(sc.stageInfo.taskMetrics.jvmGCTime)
      }
    })
    // stage-completed events are delivered asynchronously; poll the
    // accumulators until they are stable (2 consecutive unchanged reads,
    // bounded) instead of guessing a fixed sleep
    def drainListeners(): Unit = {
      var prev = -1L
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 5000) {
        Thread.sleep(200); waited += 200
        val cur = shufWrite.get() + shufRead.get() + taskRun.get() + taskGc.get()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }
    /** One timed leg: (wall s, task-time s, gc s, alu s, membw s) —
      * task-time is summed executorRunTime across the leg's stages, the
      * contention-robust denominator BENCH.md tracks alongside wall; alu /
      * membw are the host-weather probes run IMMEDIATELY after the rep, so
      * each measurement carries its own weather sample (this VM's wall
      * times swing up to 14x between identical reps in one JVM — r2
      * postmortem measured [61.3, 95.0, 6.9] s back-to-back). */
    def leg(run: () => Unit): (Double, Double, Double, Double, Double, Double, Double) = {
      drainListeners()
      val r0 = taskRun.get(); val g0 = taskGc.get()
      val t0 = System.nanoTime()
      run()
      val wall = (System.nanoTime() - t0) / 1e9
      drainListeners()
      (wall, (taskRun.get() - r0) / 1e3, (taskGc.get() - g0) / 1e3,
        Controls.aluControl(cpus), Controls.membwControl(cpus),
        Controls.chaseControl(cpus), Controls.diskControl())
    }
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
    def jarr(xs: Seq[Double]): String = xs.map(x => f"$x%.3f").mkString("[", ",", "]")

    val writeFlag = () => flagshipOut.write.mode("overwrite").format("noop").save()
    val (flagshipSec, flagLegs, shufWriteRun, shufReadRun) =
      if (paths("window")) {
        leg(writeFlag) // warmup
        shufWrite.set(0L); shufRead.set(0L)
        val rs = (1 to reps).map(_ => leg(writeFlag))
        (median(rs.map(_._1)), rs,
          shufWrite.get() / math.max(reps, 1), shufRead.get() / math.max(reps, 1))
      } else (0.0, Seq.empty[(Double, Double, Double, Double, Double, Double, Double)], 0L, 0L)
    val flagReps = flagLegs.map(_._1)
    val flagTask = if (flagLegs.nonEmpty) median(flagLegs.map(_._2)) else 0.0
    val flagGc = if (flagLegs.nonEmpty) median(flagLegs.map(_._3)) else 0.0
    val tps = if (flagshipSec > 0) tokens / flagshipSec else 0.0
    // task-second throughput: tokens / summed-executor-busy-seconds — the
    // number that survives host contention (wall = taskSec / effective cores)
    val tpts = if (flagTask > 0) tokens / flagTask else 0.0

    // --- grouped (shuffle-free) flagship: typed per-doc kernel ---
    val (groupedSec, grpLegs, gShufWrite) = if (paths("grouped")) {
      val groupedOut = graft.features.TokenKernel
        .docVectors(spark.read.parquet(corpusPath), stepSec = 1L, gapSeconds = 1.5)
      val writeGrp = () => groupedOut.write.mode("overwrite").format("noop").save()
      leg(writeGrp) // warmup
      shufWrite.set(0L)
      val rs = (1 to reps).map(_ => leg(writeGrp))
      // shuffle bytes must stay 0 — a shuffle regression in the grouped plan shows here
      (median(rs.map(_._1)), rs, shufWrite.get() / math.max(reps, 1))
    } else (0.0, Seq.empty[(Double, Double, Double, Double, Double, Double, Double)], 0L)
    val grpReps = grpLegs.map(_._1)
    val grpTask = if (grpLegs.nonEmpty) median(grpLegs.map(_._2)) else 0.0
    val grpGc = if (grpLegs.nonEmpty) median(grpLegs.map(_._3)) else 0.0
    val gTps = if (groupedSec > 0) tokens / groupedSec else 0.0
    val gTpts = if (grpTask > 0) tokens / grpTask else 0.0

    // --- regroup flagship: ungrouped grid → ONE exchange → per-doc kernel ---
    // The exchange is pinned at the session's shuffle partitions (~4
    // waves/core) so AQE's 64 MB coalesce target cannot collapse it to one
    // straggler-bound wave.
    val (regroupSec, rgLegs, rShufWrite) = if (paths("regroup")) {
      val regroupOut = graft.pipeline.FlagshipJob.regroupConsumeAll(
        spark.read.parquet(corpusPath), numPartitions = Some(shufflePartitions))
      val writeRg = () => regroupOut.write.mode("overwrite").format("noop").save()
      leg(writeRg) // warmup
      shufWrite.set(0L)
      val rs = (1 to reps).map(_ => leg(writeRg))
      (median(rs.map(_._1)), rs, shufWrite.get() / math.max(reps, 1))
    } else (0.0, Seq.empty[(Double, Double, Double, Double, Double, Double, Double)], 0L)
    val rgReps = rgLegs.map(_._1)
    val rgTask = if (rgLegs.nonEmpty) median(rgLegs.map(_._2)) else 0.0
    val rTps = if (regroupSec > 0) tokens / regroupSec else 0.0
    val rTpts = if (rgTask > 0) tokens / rgTask else 0.0

    // host-weather probes (alu = register-resident xorshift, membw =
    // streaming sum over a 512 MiB shared array): one sample directly
    // after EVERY rep (arrays below) so each measurement carries its own
    // weather; the scalars are the medians across all sampled legs
    val allLegs = flagLegs ++ grpLegs ++ rgLegs
    val aluSec = if (allLegs.nonEmpty) median(allLegs.map(_._4)) else 0.0
    val membwSec = if (allLegs.nonEmpty) median(allLegs.map(_._5)) else 0.0
    val chaseSec = if (allLegs.nonEmpty) median(allLegs.map(_._6)) else 0.0
    val diskSec = if (allLegs.nonEmpty) median(allLegs.map(_._7)) else 0.0

    Controls.release() // drop the 768 MiB probe working sets before exit
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val failedJson = failedQueries.map("\"" + _ + "\"").mkString("[", ",", "]")
    // -1 failure sentinels must not subtract from the headline total (a
    // broken query would otherwise read as a phantom speedup)
    val total = results.map(_._2).filter(_ >= 0).sum + flagshipSec
    val totalS = f"$total%.3f"
    // host-weather regime stamp (VERDICT r4 #2): the documented good band
    // is ALU ≈ 0.6–0.8 s — a sweep/suite recorded outside it carries the
    // ±3× weather and must not be read at face value. The stamp rides the
    // JSON so the recorded artifact adjudicates itself.
    val regime = if (aluSec > 0.0 && aluSec <= 0.85) "good" else "degraded"
    val jsonLine =
      s"""{"metric":"total","value":$totalS,"unit":"sec","queries":$qs,"sf":"$sfDir","cpus":$cpus,"tokens":$tokens,"flagship_sec":${f"$flagshipSec%.3f"},"tokens_per_sec":${tps.toLong},"flagship_reps_sec":${jarr(flagReps)},"flagship_rep_task_sec":${jarr(flagLegs.map(_._2))},"flagship_rep_alu_sec":${jarr(flagLegs.map(_._4))},"flagship_rep_membw_sec":${jarr(flagLegs.map(_._5))},"flagship_rep_chase_sec":${jarr(flagLegs.map(_._6))},"flagship_rep_disk_sec":${jarr(flagLegs.map(_._7))},"flagship_task_sec":${f"$flagTask%.3f"},"flagship_gc_sec":${f"$flagGc%.3f"},"tokens_per_task_sec":${tpts.toLong},"grouped_sec":${f"$groupedSec%.3f"},"grouped_tokens_per_sec":${gTps.toLong},"grouped_reps_sec":${jarr(grpReps)},"grouped_task_sec":${f"$grpTask%.3f"},"grouped_gc_sec":${f"$grpGc%.3f"},"grouped_tokens_per_task_sec":${gTpts.toLong},"grouped_rep_task_sec":${jarr(grpLegs.map(_._2))},"grouped_rep_alu_sec":${jarr(grpLegs.map(_._4))},"grouped_rep_membw_sec":${jarr(grpLegs.map(_._5))},"grouped_rep_chase_sec":${jarr(grpLegs.map(_._6))},"grouped_rep_disk_sec":${jarr(grpLegs.map(_._7))},"regroup_sec":${f"$regroupSec%.3f"},"regroup_tokens_per_sec":${rTps.toLong},"regroup_reps_sec":${jarr(rgReps)},"regroup_task_sec":${f"$rgTask%.3f"},"regroup_tokens_per_task_sec":${rTpts.toLong},"regroup_rep_task_sec":${jarr(rgLegs.map(_._2))},"regroup_rep_alu_sec":${jarr(rgLegs.map(_._4))},"regroup_rep_membw_sec":${jarr(rgLegs.map(_._5))},"regroup_rep_chase_sec":${jarr(rgLegs.map(_._6))},"regroup_shuffle_write_bytes":$rShufWrite,"alu_control_sec":${f"$aluSec%.3f"},"membw_control_sec":${f"$membwSec%.3f"},"chase_control_sec":${f"$chaseSec%.3f"},"disk_control_sec":${f"$diskSec%.3f"},"regime":"$regime","window_buffer":$windowBuffer,"shuffle_write_bytes":$shufWriteRun,"shuffle_read_bytes":$shufReadRun,"grouped_shuffle_write_bytes":$gShufWrite,"shuffle_partitions":$shufflePartitions,"input_partitions":256,"query_reps":$queryReps,"failed_queries":$failedJson}"""
    // full line FIRST (humans + file), compact summary LAST: the round
    // driver records a bounded stdout tail, and BENCH_r04.json's 2000-char
    // window cut the full line mid-object ("parsed": null — VERDICT r4 #5).
    // The final line is therefore a SELF-CONTAINED < 1 KB summary; the
    // per-query map and per-rep arrays live in the full line and in
    // `bench_out.json` (committed per round).
    println(jsonLine)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outPath),
      (jsonLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception => System.err.println(s"[bench] could not write $outPath: $e") }
    val compact =
      s"""{"metric":"total","value":$totalS,"unit":"sec","sf":"$sfDir","cpus":$cpus,"tokens":$tokens,"flagship_sec":${f"$flagshipSec%.3f"},"tokens_per_sec":${tps.toLong},"tokens_per_task_sec":${tpts.toLong},"grouped_sec":${f"$groupedSec%.3f"},"grouped_tokens_per_sec":${gTps.toLong},"regroup_sec":${f"$regroupSec%.3f"},"regroup_tokens_per_sec":${rTps.toLong},"alu_control_sec":${f"$aluSec%.3f"},"membw_control_sec":${f"$membwSec%.3f"},"regime":"$regime","n_queries":${results.size},"queries_total_sec":${f"${results.map(_._2).filter(_ >= 0).sum}%.3f"},"failed_queries":$failedJson,"detail_file":"$outPath"}"""
    println(compact)
    spark.stop()
  }
}
