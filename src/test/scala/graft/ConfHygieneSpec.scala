package graft

import graft.asof.{AsOfMerge, AsOfMergeStrategy}
import graft.dedup.Dedup
import org.apache.spark.BusDrain

/** Engine code never crashes on a host session's configuration and leaves
  * the session as it found it: no conf written, no view, cache or streaming
  * listener bus left behind. */
class ConfHygieneSpec extends SparkSpec {

  /** Run `body` and put `key` back the way it was, set or unset. */
  private def restoring(key: String)(body: => Unit): Unit = {
    val before = spark.conf.getAll.get(key)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def mainSources: List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "no sources under src/main/scala")
    files
  }

  test("src/main reads exactly the 9 documented SPARK_GRAFT_* variables") {
    val found = mainSources.flatMap(f => "SPARK_GRAFT_[A-Z_]+".r.findAllIn(java.nio.file.Files.readString(f))).toSet
    val documented = Seq("SF_DIR", "CPUS", "BENCH_DOCS", "BENCH_REPS",
      "FLAGSHIP_ONLY", "QUERY_REPS", "PATHS", "BENCH_OUT", "ONLY").map("SPARK_GRAFT_" + _).toSet
    assert(found == documented,
      s"undocumented: ${(found -- documented).toSeq.sorted}; missing: ${(documented -- found).toSeq.sorted}")
  }

  test("src/main caches only in dupClusters and RunPipeline.main, and sets conf only on a replay clone") {
    // (file, enclosing member) pairs allowed to match: dupClusters'
    // distributed path, RunPipeline's input on the session its main builds,
    // and the replay's state partitions on its cloned session
    val allowed = Map(
      "cache/persist" -> Set("Dedup.scala" -> "dupClusters", "RunPipeline.scala" -> "main"),
      "conf.set" -> Set("StreamDrive.scala" -> "replay"))
    val patterns = Map("cache/persist" -> """\.(cache\(\)|persist\()""".r, "conf.set" -> """conf\.set\(""".r)
    val member = """^  (?:private(?:\[\w+\])? )?def (\w+)""".r
    val stray = for {
      f <- mainSources
      name = f.getFileName.toString
      (what, pattern) <- patterns.toSeq
      (line, i, in) <- java.nio.file.Files.readAllLines(f).toArray.map(_.toString).zipWithIndex
        .scanLeft(("", 0, "")) { case ((_, _, cur), (l, i)) =>
          (l, i + 1, member.findFirstMatchIn(l).fold(cur)(_.group(1))) }.drop(1)
      if pattern.findFirstIn(line).isDefined && !allowed(what)(name -> in)
    } yield s"$what at $name:$i ($in): ${line.trim}"
    assert(stray.isEmpty, stray.mkString("\n"))
  }

  test("building every query and running the stream and IVF queries leaves the host session as found") {
    val aqeCached = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val sc = spark.sparkContext
    def tables = spark.catalog.listTables().collect().map(_.name).toSet
    restoring(aqeCached) {
      spark.conf.unset(aqeCached)
      spark.catalog.clearCache() // earlier suites may leave theirs
      val (conf, views, buses) = (spark.conf.getAll, tables, BusDrain.streamingBuses(sc))
      val dir = sfDir("0.001")
      val built = SparkEntry.specs.map(q => q.name -> q.build(spark, dir)).toMap
      for (q <- Seq("q_stream_asof", "q_stream_ses", "q_stream_dedup", "q_sim_ivf_topk"))
        built(q).write.format("noop").mode("overwrite").save()
      assert(spark.conf.getAll == conf, (spark.conf.getAll.toSet diff conf.toSet).toString)
      assert(tables == views)
      assert(BusDrain.streamingBuses(sc) == buses)
      assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty)
    }
  }

  test("non-numeric spark.sql.shuffle.partitions (Databricks `auto`) falls back to default parallelism") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val docs = Seq(("a", "the quick brown fox jumps"), ("b", "the quick brown fox leaps")).toDF("doc_id", "text")
    var pairs: org.apache.spark.sql.DataFrame = null
    restoring(key) {
      org.apache.spark.sql.RawConf.put(spark, key, "auto")
      // the builder used to throw NumberFormatException here
      pairs = Dedup.ngramJaccardPairs(docs, k = 2, threshold = 0.1)
    }
    assert(pairs.count() == 1)
  }

  test("AsOfMerge installs its strategy once and keeps the host's strategies in order") {
    import spark.implicits._
    object HostA extends org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = Nil
    }
    object HostB extends org.apache.spark.sql.execution.SparkStrategy {
      def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) = Nil
    }
    val probe = Seq((1L, 10L)).toDF("k", "ts")
    val build = Seq((1L, 5L, 1.0)).toDF("k", "ts", "v")
    val before = spark.experimental.extraStrategies
    try {
      spark.experimental.extraStrategies = Seq(HostA, HostB)
      for (_ <- 1 to 3) {
        AsOfMerge.backward(probe, build, "k", "ts", Seq("v"))
        AsOfMerge.nearest(probe, build, "k", "ts", Seq("v"))
      }
      assert(spark.experimental.extraStrategies == Seq(HostA, HostB, AsOfMergeStrategy))
    } finally spark.experimental.extraStrategies = before
  }
}
