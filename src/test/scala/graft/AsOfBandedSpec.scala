package graft

import graft.asof.{AsOfBanded, AsOfJoin, AsOfMerge, AsOfMergeExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The range-partitioned as-of (whale-entity splitting over data-sized
  * (entity, ts) slices with boundary carries) must be exactly equal to the
  * unbanded merge and to v1 — including tolerance, tie-breaks, slices with
  * no build rows (carry cascade), null entities, null event times and
  * NaN/±Inf doubles — at any slice count, and must actually spread a whale
  * entity over several tasks where the unbanded exec serializes it. */
class AsOfBandedSpec extends SparkSpec {

  /** Deterministic multi-entity frame: entity "w" is the whale (90% of
    * rows), builds are sparse so many probe slices have no in-slice build. */
  private def frames: (DataFrame, DataFrame) = {
    val sq = spark
    import sq.implicits._
    val probe = ((0 until 900).map(i => ("w", 10.0 + i * 7.3, i.toLong)) ++
      (0 until 50).map(i => (s"e${i % 7}", 5.0 + i * 11.1, 1000L + i)) ++
      Seq((null.asInstanceOf[String], 100.0, 2000L), (null.asInstanceOf[String], 900.0, 2001L)))
      .toDF("entity", "ts", "pid")
    val build = ((0 until 40).map(i => ("w", 3.0 + i * 160.9, i.toLong, i * 1.5)) ++
      (0 until 12).map(i => (s"e${i % 7}", 2.0 + i * 301.7, 100L + i, i * 2.5)) ++
      Seq((null.asInstanceOf[String], 50.0, 500L, 9.9),
        ("lonely", 1.0, 600L, 1.0))) // build-only entity
      .toDF("entity", "ts", "bid", "v")
    (probe, build)
  }

  private type AsOf = (DataFrame, DataFrame, String, String, Seq[String], Double, Seq[String]) => DataFrame
  private val directions: Seq[(String, AsOf, AsOf, AsOf)] = Seq(
    ("backward", AsOfBanded.backwardBanded, AsOfMerge.backward, AsOfJoin.backward),
    ("forward", AsOfBanded.forwardBanded, AsOfMerge.forward, AsOfJoin.forward),
    ("nearest", AsOfBanded.nearestBanded, AsOfMerge.nearest, AsOfJoin.nearest))

  /** Sorted rendered rows: one execution per frame, NaN-safe equality. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Runs `body` at each slice count: 1, 3 and the session default. */
  private def atSliceCounts(body: String => Unit): Unit =
    for (n <- Seq(Some("1"), Some("3"), None)) {
      n.foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
      try body(n.getOrElse("default"))
      finally spark.conf.unset("spark.sql.shuffle.partitions")
    }

  /** Each direction's banded form ≡ its unbanded merge ≡ v1 on [[frames]],
    * with and without tolerance, tie-broken by bid, at every slice count. */
  private def assertParity(dirs: Seq[String]): Unit = {
    val (probe, build) = frames
    val chosen = directions.filter(d => dirs.contains(d._1))
    val want = (for ((dir, _, merge, v1) <- chosen; tol <- Seq(-1.0, 400.0)) yield {
      val m = rows(merge(probe, build, "entity", "ts", Seq("bid", "v"), tol, Seq("bid")))
      assert(m == rows(v1(probe, build, "entity", "ts", Seq("bid", "v"), tol, Seq("bid"))),
        s"$dir tol=$tol: merge vs v1")
      (dir, tol) -> m
    }).toMap
    atSliceCounts { n =>
      for ((dir, banded, _, _) <- chosen; tol <- Seq(-1.0, 400.0)) {
        val got = rows(banded(probe, build, "entity", "ts", Seq("bid", "v"), tol, Seq("bid")))
        assert(got == want((dir, tol)), s"$dir slices=$n tol=$tol vs merge and v1")
      }
    }
  }

  test("banded ≡ unbanded merge ≡ v1, with tolerance and tie-breaks, across band sizes") {
    assertParity(Seq("backward"))
  }

  test("forward and nearest banded ≡ their unbanded merges across band sizes") {
    assertParity(Seq("forward", "nearest"))
  }

  test("null ts and NaN/±Inf doubles: banded ≡ the unbanded walk (raw keys, no caveat)") {
    val sq = spark
    import sq.implicits._
    val odd = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val probe = (frames._1.as[(String, Double, Long)].collect().toSeq ++
      odd.zipWithIndex.map { case (t, i) => ("w", t, 3000L + i) } ++
      odd.zipWithIndex.map { case (t, i) => ("e1", t, 3100L + i) })
      .toDF("entity", "ts", "pid")
      .unionByName(Seq(("w", 3200L), ("e2", 3201L)).toDF("entity", "pid")
        .select(col("entity"), lit(null).cast("double").as("ts"), col("pid")))
    val build = (frames._2.as[(String, Double, Long, Double)].collect().toSeq ++
      odd.zipWithIndex.map { case (t, i) => ("w", t, 700L + i, 0.5) } ++
      Seq(("e1", Double.NaN, 710L, 0.5), ("e2", 5000.0, 711L, 0.5)))
      .toDF("entity", "ts", "bid", "v")
      .unionByName(Seq(("w", 720L), ("e2", 721L)).toDF("entity", "bid")
        .select(col("entity"), lit(null).cast("double").as("ts"), col("bid"), lit(0.5).as("v")))
    val want = (for ((dir, _, merge, _) <- directions; tol <- Seq(-1.0, 400.0))
      yield (dir, tol) -> rows(merge(probe, build, "entity", "ts", Seq("bid", "v"), tol, Seq("bid")))).toMap
    atSliceCounts { n =>
      for ((dir, banded, _, _) <- directions; tol <- Seq(-1.0, 400.0)) {
        val got = rows(banded(probe, build, "entity", "ts", Seq("bid", "v"), tol, Seq("bid")))
        assert(got == want((dir, tol)), s"$dir slices=$n tol=$tol vs merge")
      }
    }
  }

  test("forward/nearest carries cascade across empty bands in both directions") {
    val sq = spark
    import sq.implicits._
    // builds only at the extremes; probes spread over many slices with no
    // build row: forward must take the late build, nearest must pick the
    // closer extreme per probe (backward on ties)
    val probe = (0 until 20).map(i => ("a", 100.0 + i * 100.0, i.toLong)).toDF("entity", "ts", "pid")
    val build = Seq(("a", 5.0, 1L), ("a", 3000.0, 2L)).toDF("entity", "ts", "bid")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val fwd = AsOfBanded.forwardBanded(probe, build, "entity", "ts", Seq("bid"))
      // probes at ts ≤ 3000 get bid 2; later ones unmatched
      assert(fwd.where(col("bid") === 2L).count() == probe.where(col("ts") <= 3000.0).count())
      assert(fwd.where(col("bid").isNull).count() == probe.where(col("ts") > 3000.0).count())
      val near = AsOfBanded.nearestBanded(probe, build, "entity", "ts", Seq("bid"))
      assert(rows(near) == rows(AsOfMerge.nearest(probe, build, "entity", "ts", Seq("bid"))),
        "nearest across empty slices")
      // midpoint check: |Δ| to build 1 vs build 2 crosses at ts ≈ 1502.5
      assert(near.where(col("pid") === 13L).select("bid").head().getLong(0) == 1L) // ts=1400
      assert(near.where(col("pid") === 15L).select("bid").head().getLong(0) == 2L) // ts=1600
    } finally spark.conf.unset("spark.sql.shuffle.partitions")
  }

  test("carry cascades across probe bands with no build rows at all") {
    val sq = spark
    import sq.implicits._
    // single early build; probes far later, over 8 slices that hold no
    // build row, must all still match it
    val probe = (0 until 20).map(i => ("a", 1000.0 + i * 100.0, i.toLong)).toDF("entity", "ts", "pid")
    val build = Seq(("a", 5.0, 7L)).toDF("entity", "ts", "bid")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val banded = AsOfBanded.backwardBanded(probe, build, "entity", "ts", Seq("bid"))
      assert(banded.select(spark_partition_id()).distinct().count() >= 2, "one slice only")
      assert(banded.where(col("bid") === 7L).count() == 20)
      // one task walking every slice (a coalesce above) keeps each slice's carry
      assert(banded.coalesce(1).where(col("bid") === 7L).count() == 20)
    } finally spark.conf.unset("spark.sql.shuffle.partitions")
  }

  test("banding bounds per-task rows where the unbanded exec trips the skew warning") {
    val (probe, build) = frames
    spark.conf.set(AsOfMergeExec.SkewWarnRowsKey, "600")
    try {
      val before = AsOfMergeExec.skewWarningCount.get()
      AsOfMerge.backward(probe, build, "entity", "ts", Seq("bid", "v")).count()
      assert(AsOfMergeExec.skewWarningCount.get() > before,
        "whale entity should trip the warning unbanded")
      val mid = AsOfMergeExec.skewWarningCount.get()
      val banded = AsOfBanded.backwardBanded(probe, build, "entity", "ts", Seq("bid", "v"))
      // the walk's task is the slice: the whale's probe rows land in ≥2
      val whaleTasks = banded.where(col("entity") === "w")
        .select(spark_partition_id()).distinct().count()
      assert(whaleTasks >= 2, s"whale rows in $whaleTasks task(s)")
      assert(AsOfMergeExec.skewWarningCount.get() == mid,
        "banded run must stay under the same per-task threshold")
    } finally spark.conf.unset(AsOfMergeExec.SkewWarnRowsKey)
  }
}
