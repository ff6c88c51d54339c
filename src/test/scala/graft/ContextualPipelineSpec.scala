package graft

import graft.features.{Contextual, Conversions}
import graft.pipeline.Pipeline
import graft.session.Sessionize
import org.apache.spark.sql.functions._

class ContextualSpec extends SparkSpec {
  import spark.implicits._

  test("C1 visited_location flags exact coordinate matches") {
    val layer = fixture.where($"traj_id" === "3").select($"lat", $"lon").withColumn("name", lit("den"))
    val out = Contextual.visitedLocation(fixture, S, layer, "den", "name")
    assert(out.where($"Visited_den" === 1).count() == 3)
    assert(out.count() == fixture.count())
  }

  test("C3 ray-casting point-in-polygon: square membership") {
    val sq = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0))
    val pts = Seq(("1", 5.0, 5.0), ("1", 15.0, 5.0), ("1", -1.0, 3.0), ("1", 9.99, 9.99))
      .toDF("traj_id", "lat", "lon")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00")))
    val in = Contextual.insidePolygon(pts, S, sq).select("lat", "lon").collect().toSet
    assert(in.map(r => (r.getDouble(0), r.getDouble(1))) == Set((5.0, 5.0), (9.99, 9.99)))
  }

  test("C3 horizontal edges build no crossing term; membership equals the every-edge sum") {
    val rect = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0))
    val house = Seq((0.0, 0.0), (0.0, 10.0), (6.0, 10.0), (9.0, 5.0), (6.0, 0.0))
    def pip(p: Seq[(Double, Double)]) = Contextual.pointInPolygon($"lat", $"lon", p)
    // inside, outside, and exactly on the latitude of an edge or a vertex
    val pts = Seq((5.0, 5.0), (15.0, 5.0), (-1.0, 3.0), (0.0, 5.0), (10.0, 5.0), (0.0, -3.0),
      (10.0, 20.0), (6.0, 5.0), (6.0, 12.0), (9.0, 5.0), (9.0, 4.0), (3.0, 10.0))
      .toDF("lat", "lon")
    val caseWhens = pts.select(pip(rect)).queryExecution.analyzed.expressions
      .flatMap(_.collect { case w: org.apache.spark.sql.catalyst.expressions.CaseWhen => w })
    assert(caseWhens.length == 2, s"a rectangle has 2 crossable edges, built ${caseWhens.length} terms")
    // the same crossing test with one term per edge, horizontal edges included
    def everyEdge(p: Seq[(Double, Double)], lat: Double, lon: Double): Boolean =
      p.indices.count { i =>
        val (yi, xi) = p(i)
        val (yj, xj) = p((i + 1) % p.length)
        (yi > lat) != (yj > lat) && lon < (xj - xi) * (lat - yi) / (yj - yi) + xi
      } % 2 == 1
    for ((name, poly) <- Seq("rect" -> rect, "house" -> house)) {
      pts.select($"lat", $"lon", pip(poly)).as[(Double, Double, Boolean)].collect().foreach {
        case (lat, lon, in) => assert(in == everyEdge(poly, lat, lon), s"$name at ($lat, $lon)")
      }
    }
    val flat = Seq((5.0, 0.0), (5.0, 10.0))
    assert(pts.select(pip(flat)).collect().forall(!_.getBoolean(0)), "a zero-area polygon contains nothing")
  }

  test("C4 intersect returns shared in-polygon coordinates") {
    val poly = Seq((39.0, 116.0), (41.0, 116.0), (41.0, 117.0), (39.0, 117.0))
    val out = Contextual.intersectInsidePolygon(
      fixture.where($"traj_id" === "3"), fixture.where($"traj_id" === "3"), S, poly)
    assert(out.count() == 3) // self-intersection: each in-polygon point pairs with itself
  }

  test("S4 NSEW conversion: signs and W wrap") {
    val df = Seq(("12.3N", "45.6W"), ("10.0S", "200.0W"), ("5.5N", "170.0E"))
      .toDF("lat_s", "lon_s")
    val out = df.select(
      Conversions.parseLat($"lat_s").as("lat"),
      Conversions.parseLon($"lon_s").as("lon")
    ).collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    assert(out == Seq((12.3, -45.6), (-10.0, 160.0), (5.5, 170.0)))
  }

  test("S4 convertDirectionsToDegreeLatLon: N/S/E/W signs, W wrap below -180, trim and case") {
    val df = Seq(
      ("a", "12.3N", "190.0W"), // W: -190 < -180 wraps to 170
      ("b", " 10.0s ", "45.6w "), // trimmed, lower-case suffixes
      ("c", "5.5n", " 170.0e"),
      ("d", "7.0S", "180.0W"), // -180 is not below -180: no wrap
      ("e", "1.5N", "190.0E") // E is taken as written, no wrap
    ).toDF("id", "la", "lo")
    val out = Conversions.convertDirectionsToDegreeLatLon(df, "la", "lo")
    assert(out.columns.toSeq == Seq("id", "la", "lo"))
    val got = out.orderBy("id").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 12.3, 170.0), ("b", -10.0, -45.6), ("c", 5.5, 170.0),
      ("d", -7.0, -180.0), ("e", 1.5, 190.0)))
  }
}

class PipelineSpec extends SparkSpec {

  test("stage runner: lineage manifest, metrics, and crash-resume skip") {
    val root = java.nio.file.Files.createTempDirectory("graft_pipe").toString
    val runner = Pipeline.local(root)
    val c1 = runner.runStage("kin", fixture, "traj_id", nBuckets = 4)(df =>
      graft.features.Kinematic.withDistance(df, S))
    assert(c1.map(_.bucket).toSet == Set(0, 1, 2, 3))
    assert(c1.map(_.rows).sum == fixture.count())
    // resume: nothing left to do
    val c2 = runner.runStage("kin", fixture, "traj_id", nBuckets = 4)(df =>
      graft.features.Kinematic.withDistance(df, S))
    assert(c2.isEmpty)
    // read-back covers all rows and carries the feature
    val back = runner.readStage(spark, "kin")
    assert(back.count() == fixture.count())
    assert(back.columns.contains("Distance"))
    // partial-manifest resume: drop one bucket's manifest line, re-run fills only it
    val mf = java.nio.file.Paths.get(s"$root/_manifest_kin.jsonl")
    val lines = java.nio.file.Files.readAllLines(mf)
    java.nio.file.Files.write(mf, lines.subList(0, 3))
    val c3 = runner.runStage("kin", fixture, "traj_id", nBuckets = 4)(df =>
      graft.features.Kinematic.withDistance(df, S))
    assert(c3.size == 1)
  }
}

class StayPointSpec extends SparkSpec {
  test("stay-point ids are constant within a run and stops respect min duration") {
    val out = Sessionize.byStayPoint(fixture, S, distM = 100.0, minStopSeconds = 1.0)
    assert(out.count() == fixture.count())
    assert(out.columns.contains("is_stop") && out.columns.contains("stop_run_id"))
  }
}
