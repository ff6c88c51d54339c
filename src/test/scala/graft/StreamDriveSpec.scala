package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.streaming.StreamDrive
import org.apache.spark.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Driver-gate replay harness: the REAL streaming operators, driven over
  * the sf0.001 testdata via a file source in event-time-ordered micro-
  * batches, must equal the batch operators row-for-row (the same contract
  * the DuckDB oracle checks for q_stream_dedup / q_stream_ses). */
class StreamDriveSpec extends SparkSpec {

  private val Sf = sfDir("0.001")

  test("replayed streaming dedup == distinct texts of the documents table") {
    val got = StreamDrive.dedupOverDocuments(spark, Sf)
    val want = spark.read.parquet(s"$Sf/documents.parquet")
      .select(md5(col("text")).as("content_hash"),
        length(col("text")).cast("long").as("n_chars"))
      .distinct()
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("replayed streaming sessionize == batch gap rule over events") {
    val got = StreamDrive.sessionizeOverEvents(spark, Sf, gapSeconds = 3600.0)
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("user_id").cast("string").as("entity"),
        col("ts").cast("timestamp").as("ts"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("entity")).orderBy(col("ts"))
    val want = ev
      .withColumn("gap",
        when(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w) > 3600000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("gap")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("entity")).orderBy(col("ts"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("entity"), col("ts"), col("session_id"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("a replay never touches the host session's conf or catalog") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    // differs from the replay's one state partition per core
    val host = (spark.sparkContext.defaultParallelism + 3).toString
    val seen = ConcurrentHashMap.newKeySet[String]()
    val done = new AtomicBoolean(false)
    val poller = new Thread(() => while (!done.get) { seen.add(spark.conf.get(key)); Thread.sleep(1) })
    spark.conf.set(key, host)
    try {
      poller.start()
      StreamDrive.asOfOverEvents(spark, Sf)
    } finally {
      done.set(true)
      poller.join()
      spark.conf.set(key, before)
    }
    assert(seen.asScala.toSet == Set(host))
    val views = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_stream_sink_"))
    assert(views.isEmpty, views.mkString(", "))
  }

  test("replays leave no streaming listener bus behind") {
    val sc = spark.sparkContext
    val before = BusDrain.streamingBuses(sc)
    val counts = (1 to 5).map { _ => StreamDrive.asOfOverEvents(spark, Sf); BusDrain.streamingBuses(sc) }
    assert(counts == Seq.fill(5)(before))
  }

  test("each replay runs exactly two non-empty micro-batches") {
    val batches = new ConcurrentHashMap[String, Integer]()
    // replays run on cloned sessions, whose progress events reach only the
    // shared context's bus, not `spark.streams` listeners
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case p: QueryProgressEvent if p.progress.numInputRows > 0 && p.progress.name.startsWith("graft_stream_sink_") =>
          batches.merge(p.progress.name, 1, (a: Integer, b: Integer) => a + b)
        case _ => ()
      }
    }
    val replays: Seq[(String, () => DataFrame)] = Seq(
      "dedup" -> (() => StreamDrive.dedupOverDocuments(spark, Sf)),
      "sessionize" -> (() => StreamDrive.sessionizeOverEvents(spark, Sf, gapSeconds = 3600.0)),
      "as-of" -> (() => StreamDrive.asOfOverEvents(spark, Sf)))
    spark.sparkContext.addSparkListener(listener)
    try for ((name, run) <- replays) {
      batches.clear()
      run()
      BusDrain.drain(spark.sparkContext)
      assert(batches.values.asScala.toSeq.map(_.intValue) == Seq(2), s"$name: $batches")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
