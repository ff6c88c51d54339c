package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver session policy as plain values: no session is started. */
class DriverSpec extends AnyFunSuite {

  test("conf: local[cores], 4 × cores shuffle partitions, both thresholds, UTC, UI off") {
    assert(Driver.conf(3) == Map(
      "spark.master" -> "local[3]",
      "spark.sql.shuffle.partitions" -> "12",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
      "spark.sql.codegen.cache.maxEntries" -> "4096",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "1048576",
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
  }

  test("cores: SPARK_GRAFT_CPUS, else availableProcessors") {
    assert(Driver.cores(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Driver.cores(Map("SPARK_GRAFT_CPUS" -> "6")) == 6)
    assert(Driver.cores(Map("SPARK_GRAFT_CPUS" -> " 2 ")) == 2)
  }

  test("a SPARK_GRAFT_CPUS that is not a positive integer fails, naming the variable") {
    for (bad <- Seq("", "four", "4.0", "0", "-2")) {
      val e = intercept[IllegalArgumentException](Driver.cores(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
