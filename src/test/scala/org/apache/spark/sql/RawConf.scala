package org.apache.spark.sql

/** Test-only: put a session conf value WITHOUT the type check that
  * `spark.conf.set` runs, to reproduce hosts whose runtime accepts values
  * open-source Spark rejects (Databricks' `spark.sql.shuffle.partitions =
  * auto`). */
object RawConf {
  def put(spark: SparkSession, key: String, value: String): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.settings.put(key, value)
}
