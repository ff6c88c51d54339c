package graft

import graft.streaming.StreamDrive
import org.apache.spark.sql.functions._

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
}
