package graft

import graft.dedup.Dedup
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The banded pair operators are lazy builders: calling one starts no
  * Spark job and leaves no persisted frame behind. The caller owns every
  * action and every cache. */
class BandedPairsLazySpec extends SparkSpec {

  /** Spark jobs started while `build` runs, and the persisted RDD ids it
    * added. The input is read before the count starts: a parquet read
    * infers its schema with a job of its own. */
  private def footprint(build: => DataFrame): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusDrain.drain(sc)
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    try {
      build
      BusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    (jobs.get, sc.getPersistentRDDs.keySet.toSet -- before)
  }

  private lazy val docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
  private lazy val embs = spark.read.parquet(s"${sfDir("0.001")}/embeddings.parquet")

  Seq[(String, () => DataFrame)](
    "minhashLshPairs" -> (() => Dedup.minhashLshPairs(docs, estThreshold = 0.25)),
    "simhashHammingPairs" -> (() => Dedup.simhashHammingPairs(docs, maxHamming = 3)),
    "embeddingNearDupPairs" -> (() => Dedup.embeddingNearDupPairs(embs, threshold = 0.2, rowsPerBand = 2))
  ).foreach { case (name, build) =>
    test(s"$name starts no Spark job and persists nothing") {
      docs.schema; embs.schema
      val (jobs, persisted) = footprint(build())
      assert(jobs == 0, s"$name started $jobs Spark job(s) while building its plan")
      assert(persisted.isEmpty, s"$name left persisted RDDs behind: $persisted")
    }
  }
}
