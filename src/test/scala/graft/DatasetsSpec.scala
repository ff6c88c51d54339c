package graft

import java.nio.file.Files

import graft.sources.Datasets
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, TimestampType}

/** S2 loaders: reference column mappings applied through canonical ingest
  * (rename + coerce + validate), including the ships dropna behavior. */
class DatasetsSpec extends SparkSpec {

  private def writeCsv(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve(name)
    Files.writeString(f, content)
    f.toString
  }

  test("ships mapping renames/coerces and drops null mandatory rows") {
    val path = writeCsv("ships.csv",
      """VesselName,DateTime,Lat,Lon,Speed
        |alpha,2024-01-01 00:00:00,10.5,-20.25,3.2
        |alpha,2024-01-01 01:00:00,10.6,-20.30,3.4
        |,2024-01-01 02:00:00,10.7,-20.35,3.6
        |beta,2024-01-01 00:30:00,,-21.0,1.0
        |beta,2024-01-01 01:30:00,11.0,-21.1,1.1
        |gamma,2024-01-01 03:00:00,12.0,-22.0,
        |""".stripMargin)
    val (df, s) = Datasets.load(spark, "ships", path)
    // ref dropna() is ALL-column: the null-Speed gamma row drops too
    assert(df.count() == 3)
    assert(df.where(col(s.id) === "gamma").count() == 0)
    val sch = df.schema
    assert(sch(s.id).dataType == StringType)
    assert(sch(s.ts).dataType == TimestampType)
    assert(sch(s.lat).dataType == DoubleType && sch(s.lon).dataType == DoubleType)
    // extra column preserved through ingest
    assert(df.columns.contains("Speed"))
    assert(df.where(col(s.id) === "alpha").count() == 2)
  }

  test("geolife mapping uses its dataset-specific headers (datetime/id)") {
    val path = writeCsv("geolife.csv",
      """id,datetime,lat,long
        |1,2008-10-23 05:53:05,39.984094,116.319236
        |1,2008-10-23 05:53:06,39.984198,116.319322
        |""".stripMargin)
    val (df, s) = Datasets.load(spark, "geolife", path)
    assert(df.count() == 2)
    assert(df.select(s.idCol).distinct().count() == 1)
  }

  test("loadHabitat reads the starkey_habitat table as a plain CSV: header and inferred types") {
    val path = writeCsv("starkey_habitat.csv",
      """id,habitat,elevation_m,canopy
        |1,meadow,1234.5,0.25
        |2,forest,1301.0,0.8
        |""".stripMargin)
    val df = Datasets.loadHabitat(spark, path)
    assert(df.schema.map(f => f.name -> f.dataType) == Seq("id" -> IntegerType,
      "habitat" -> StringType, "elevation_m" -> DoubleType, "canopy" -> DoubleType))
    assert(df.orderBy("id").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1, "meadow", 1234.5, 0.25), Seq(2, "forest", 1301.0, 0.8)))
  }

  test("unknown dataset rejected with the known list") {
    val e = intercept[IllegalArgumentException](Datasets.load(spark, "nope", "/tmp/x.csv"))
    assert(e.getMessage.contains("unknown dataset"))
  }
}
