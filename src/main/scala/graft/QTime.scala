package graft

/** Ad-hoc single-query timer: `runMain graft.QTime q_a,q_b [sfDir] [reps]`
  * times just the named [[SparkEntry.specs]] (3 reps default; an unknown
  * name fails before the session starts) on
  * the shared [[Driver.session]], so its timings reproduce Bench's — the
  * fast feedback loop for optimizing one operator without paying a full
  * Bench pass. Also usable sbt-free via tools/bench_java.sh. */
object QTime {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QTime <q1,q2,...> [sfDir] [reps]")
    val specs = SparkEntry.select(args(0).split(",").toSeq)
    val sfDir = if (args.length > 1) args(1) else Driver.sfDir
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Driver.session()
    for (q <- specs; rep <- 1 to reps) {
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.mode("overwrite").format("noop").save()
      println(f"QTIME ${q.name} rep$rep ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
