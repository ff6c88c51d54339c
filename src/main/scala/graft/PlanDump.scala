package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * plans/r06/<query>_{before,after}.txt evidence the optimization rounds
  * commit, planned on the shared [[Driver.session]]. Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <query1> <query2> ..."
  * Special names: `flagship` (FlagshipJob.consumeAll on Bench's default
  * corpus, generated if missing), `flagship_window_reference`,
  * `flagship_regroup`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = Driver.sfDir
    val spark = Driver.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    lazy val corpus = spark.read.parquet(Bench.ensureCorpus(spark, Bench.DefaultDocs))
    names.foreach { name =>
      val df = name match {
        case "flagship" => graft.pipeline.FlagshipJob.consumeAll(corpus)
        case "flagship_window_reference" =>
          graft.pipeline.FlagshipJob.windowReferenceConsumeAll(corpus)
        case "flagship_regroup" => graft.pipeline.FlagshipJob.regroupConsumeAll(corpus)
        // the q_stream_asof replay executes eagerly (its returned frame is
        // the collected memory sink), so the evidentiary plan is the
        // per-micro-batch stream-static join — dumped here in batch mode
        // (same operators) with/without the round-6 broadcast
        case "stream_asof_join_shuffle" | "stream_asof_join_broadcast" =>
          import org.apache.spark.sql.functions._
          val probe = spark.read.parquet(s"$sfDir/events.parquet")
            .select(col("event_id"), col("user_id"), col("ts"))
          val build = spark.read.parquet(s"$sfDir/orders.parquet")
            .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
              col("o_orderkey"), col("o_totalprice"))
          val hist = graft.streaming.StreamAsOf.compactBuild(
            build, "user_id", "ts", Seq("o_orderkey", "o_totalprice"), Seq("o_orderkey"))
          graft.streaming.StreamAsOf.enrichCompacted(probe, hist, "user_id", "ts",
            Seq("o_orderkey", "o_totalprice"),
            broadcastHistories = name.endsWith("broadcast"))
        case q => SparkEntry.queries(q)(spark, sfDir)
      }
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
