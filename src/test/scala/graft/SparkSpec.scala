package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, lazily started). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession
    .builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  import graft.core.TrajSchema

  /** PTRAIL micro-fixture (core/tests/TrajectoryDF_tests.py:15-30, de-duped
    * timestamps so per-entity order is total). */
  def fixture: DataFrame = {
    import spark.implicits._
    Seq(
      ("1", "2008-10-23 05:53:05", 39.984094, 116.319236),
      ("1", "2008-10-23 05:53:06", 39.984198, 116.319322),
      ("1", "2008-10-23 05:53:11", 39.984224, 116.319402),
      ("1", "2008-10-23 05:53:16", 39.984224, 116.319404),
      ("1", "2008-10-23 05:53:21", 39.984224, 116.568956),
      ("3", "2008-10-23 05:53:06", 40.1, 116.5),
      ("3", "2008-10-23 05:55:06", 40.2, 116.6),
      ("3", "2008-10-23 05:59:06", 40.3, 116.7)
    ).toDF("traj_id", "ts_s", "lat", "lon")
      .selectExpr("traj_id", "cast(ts_s as timestamp) as ts", "lat", "lon")
  }

  val S: TrajSchema = TrajSchema()

  /** The testdata directory of scale factor `sf`: [[Driver.sfDir]]`(sf)`. */
  def sfDir(sf: String): String = Driver.sfDir(sf)

  def col1(df: DataFrame, c: String): Seq[Option[Double]] =
    df.orderBy("traj_id", "ts").select(c).collect().toSeq.map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))

  def assertClose(got: Option[Double], want: Option[Double], tol: Double = 1e-9): Unit =
    (got, want) match {
      case (None, None)         => ()
      case (Some(g), Some(w))   => assert(math.abs(g - w) <= tol * math.max(1.0, math.abs(w)), s"$g != $w")
      case _                    => fail(s"null-mask mismatch: $got vs $want")
    }
}
