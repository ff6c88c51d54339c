package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** `SparkEntry.table` reads with declared schemas: each must equal the
  * schema Spark infers from the parquet files at every scale factor
  * present, and an undeclared table must fail by name. */
class TableSchemaSpec extends SparkSpec {

  /** The `sfN` directories beside [[Driver.sfDir]]. */
  private lazy val sfDirs: Seq[String] = {
    val listing = Files.list(Paths.get(sfDir("0.001")).getParent)
    try listing.iterator().asScala.filter(p => Files.isDirectory(p) && p.getFileName.toString.matches("sf[0-9.]+"))
      .map(_.toString).toSeq.sorted
    finally listing.close()
  }

  test("declared testdata schemas equal the inferred ones at every scale factor") {
    assert(sfDirs.contains(sfDir("0.001")), s"sf0.001 missing: found $sfDirs")
    for (dir <- sfDirs; (name, declared) <- SparkEntry.TableSchemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(declared == inferred, s"$dir/$name: declared ${declared.toDDL} != inferred ${inferred.toDDL}")
      assert(SparkEntry.table(spark, dir, name).schema == inferred, s"$dir/$name")
    }
  }

  test("an undeclared table fails, naming it") {
    val e = intercept[IllegalArgumentException](SparkEntry.table(spark, sfDir("0.001"), "lineitem"))
    assert(e.getMessage.contains("'lineitem'"), e.getMessage)
  }
}
