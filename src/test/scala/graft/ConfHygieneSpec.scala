package graft

import graft.asof.{AsOfMerge, AsOfMergeStrategy}
import graft.core.Tuning
import graft.dedup.Dedup

/** Engine code never crashes on a host session's configuration and never
  * silently rewrites an explicit host setting. */
class ConfHygieneSpec extends SparkSpec {

  /** Run `body` and put `key` back the way it was, set or unset. */
  private def restoring(key: String)(body: => Unit): Unit = {
    val before = spark.conf.getAll.get(key)
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("src/main reads exactly the 10 documented SPARK_GRAFT_* variables") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty, "no sources under src/main/scala")
    val found = files.flatMap(f => "SPARK_GRAFT_[A-Z_]+".r.findAllIn(java.nio.file.Files.readString(f))).toSet
    val documented = Seq("SF_DIR", "CPUS", "AQE_CACHED", "BENCH_DOCS", "BENCH_REPS",
      "FLAGSHIP_ONLY", "QUERY_REPS", "PATHS", "BENCH_OUT", "ONLY").map("SPARK_GRAFT_" + _).toSet
    assert(found == documented,
      s"undocumented: ${(found -- documented).toSeq.sorted}; missing: ${(documented -- found).toSeq.sorted}")
  }

  test("SPARK_GRAFT_AQE_CACHED parses case-insensitively; an unparseable value keeps the default") {
    assert(Tuning.adaptiveCachedFlag(None))
    assert(Tuning.adaptiveCachedFlag(Some("true")))
    assert(!Tuning.adaptiveCachedFlag(Some("false")))
    assert(!Tuning.adaptiveCachedFlag(Some("False")))
    assert(!Tuning.adaptiveCachedFlag(Some(" FALSE ")))
    assert(Tuning.adaptiveCachedFlag(Some("TRUE")))
    // was passed verbatim to a boolean conf: IllegalArgumentException
    assert(Tuning.adaptiveCachedFlag(Some("0")))
    assert(Tuning.adaptiveCachedFlag(Some("flase")))
  }

  test("ensureAdaptiveCachedPlans sets its key only when the host has not") {
    restoring(Tuning.Key) {
      spark.conf.unset(Tuning.Key)
      Tuning.ensureAdaptiveCachedPlans(spark)
      assert(spark.conf.getAll.get(Tuning.Key).contains(
        Tuning.adaptiveCachedFlag(sys.env.get("SPARK_GRAFT_AQE_CACHED")).toString))
      // an explicit host setting survives, also through a table loader
      import spark.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft_conf_").toString
      Seq(1).toDF("event_id").write.parquet(s"$dir/events.parquet")
      spark.conf.set(Tuning.Key, "false")
      Tuning.ensureAdaptiveCachedPlans(spark)
      SparkEntry.events(spark, dir)
      assert(spark.conf.get(Tuning.Key) == "false")
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
