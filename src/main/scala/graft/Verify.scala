package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each [[SparkEntry.specs]] result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Runs on the
  * shared [[Driver.session]], the session Bench times. A failed query is
  * reported on stderr and skipped; the closing stderr line counts them. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // optional subset for local iteration: SPARK_GRAFT_ONLY=q_a,q_b
    // (unset → all queries; the driver never sets it)
    val selected = sys.env.get("SPARK_GRAFT_ONLY")
      .fold(SparkEntry.specs)(only => SparkEntry.select(only.split(",").map(_.trim).toSeq))
    val spark = Driver.session()
    new java.io.File(outDir).mkdirs()
    val failed = selected.filterNot { q =>
      try {
        q.build(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/${q.name}")
        true
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        false
      }
    }.map(_.name)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${failed.size} of ${selected.size} queries failed" +
      (if (failed.isEmpty) "" else failed.mkString(": ", ", ", "")))
    spark.stop()
  }
}
