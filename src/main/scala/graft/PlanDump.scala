package graft

/** The plan printer: writes `.explain("formatted")` of each named query
  * to `<outDir>/<query>_<suffix>.txt` (the plans/r06 before/after evidence),
  * planned on the shared [[Driver.session]]. Usage:
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <query1> <query2> ..."
  * Special names: `flagship` (FlagshipJob.consumeAll on Bench's default
  * corpus, generated if missing), `flagship_window_reference`,
  * `flagship_regroup`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: PlanDump <outDir> <suffix> <query1> [query2 ...]")
      sys.exit(2)
    }
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
          val (probe, build) = SparkEntry.asOfSides(spark, sfDir)
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
