package graft

import graft.core.{SyntheticCorpus, TokenAdapter}
import graft.features.{Kinematic, TokenKernel}
import graft.session.Sessionize
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** The re-group route (ungrouped grid → each doc's contiguous run packed
  * into one row → one exchange + key-only sort → per-doc kernel; VERDICT
  * r4 #1) must equal the declarative window path BIT-FOR-BIT — including
  * on SPARSE grids (missing positions), where the per-step Δt and
  * session-boundary logic has to reproduce the window chain's lag
  * arithmetic exactly — and must not depend on how the grid's rows are
  * clustered. */
class RegroupKernelSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val corpus = {
    import spark.implicits._
    val edge = Seq(
      ("edge_empty", Array.empty[Int], "web"),
      ("edge_one", Array(7), "web"),
      ("edge_two", Array(7, 11), "web"),
      ("edge_three", Array(7, 11, 13), "web"),
      ("edge_null", null.asInstanceOf[Array[Int]], "web")
    ).toDF("doc_id", "tokens", "source")
      .withColumn("n_tok", coalesce(size(col("tokens")), lit(0)))
    SyntheticCorpus.generate(spark, nDocs = 80, medianLen = 48, skewEvery = 25, skewFactor = 10)
      .unionByName(edge).cache()
  }

  // the window path over an arbitrary (possibly sparse) grid
  private def windowRows(grid: org.apache.spark.sql.DataFrame, ts: graft.core.TrajSchema) =
    Sessionize
      .byGap(Kinematic.withKinematics(grid, ts), ts, gapSeconds = 1.5)
      .select(
        (Seq("doc_id", "pos", "token", "lat", "lon") ++ Kinematic.AllFeatures :+ "session_id").map(col): _*)

  test("contiguous grid: regroup route == window path bitwise") {
    val (grid, ts) = TokenAdapter.explodeTokens(corpus)
    val win = windowRows(grid, ts)
    val ker = TokenKernel.regroupTokenRows(grid).toDF()
      .select(win.columns.toIndexedSeq.map(col): _*)
    assert(win.count() == ker.count())
    assert(win.exceptAll(ker).count() == 0, "window-path rows missing from regroup kernel")
    assert(ker.exceptAll(win).count() == 0, "regroup-kernel rows missing from window path")
  }

  test("SPARSE grid (dropped positions → irregular Δt): regroup == window bitwise") {
    val (grid0, ts) = TokenAdapter.explodeTokens(corpus)
    // knock out ~1/3 of positions deterministically: Δpos ∈ {1, 2, 3, …},
    // so per-step dt and the gap boundary (gap = 1.5 s < 2·step) both vary
    val grid = grid0.where(pmod(xxhash64(col("doc_id"), col("pos")), lit(3)) =!= 0)
    val win = windowRows(grid, ts)
    val ker = TokenKernel.regroupTokenRows(grid).toDF()
      .select(win.columns.toIndexedSeq.map(col): _*)
    assert(win.count() == ker.count())
    assert(win.count() > 0)
    // sessions really do split on the sparse grid (Δpos ≥ 2 ⇒ gap > 1.5 s)
    assert(ker.agg(max(col("session_id"))).first().getLong(0) > 0)
    assert(win.exceptAll(ker).count() == 0, "window-path rows missing from regroup kernel")
    assert(ker.exceptAll(win).count() == 0, "regroup-kernel rows missing from window path")
  }

  // per-doc vectors from the window consume-all aggregate must match the
  // kernel's: n and n_sessions exactly, sums to float-reassociation noise
  private def assertMatchesWindow(
      grid: org.apache.spark.sql.DataFrame, ts: graft.core.TrajSchema,
      ker: org.apache.spark.sql.DataFrame): Unit = {
    val ses = Sessionize.byGap(Kinematic.withKinematics(grid, ts), ts, gapSeconds = 1.5)
    val aggs = Kinematic.AllFeatures.map(f => sum(col(f)).as(s"sum_$f")) :+
      max(col("session_id")).as("n_sessions") :+ count(lit(1)).as("n")
    val win = ses.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val joined = win.alias("w").join(ker.alias("k"), Seq("doc_id"), "full")
    assert(joined.count() == win.count() && win.count() == ker.count())
    assert(joined.where(
      col("w.n").isNull || col("k.n").isNull ||
        col("w.n") =!= col("k.n") || col("w.n_sessions") =!= col("k.n_sessions")).count() == 0)
    val mismatches = Kinematic.AllFeatures.map { f =>
      val w = col(s"w.sum_$f"); val k = col(s"k.sum_$f")
      joined.where(
        when(w.isNull || k.isNull, w.isNotNull || k.isNotNull)
          .otherwise(abs(w - k) > abs(w) * 1e-12 + 1e-9)).count()
    }
    assert(mismatches.forall(_ == 0), s"sum mismatches: ${Kinematic.AllFeatures.zip(mismatches)}")
  }

  test("per-doc vectors on the sparse grid: regroup == window consume-all agg") {
    val (grid0, ts) = TokenAdapter.explodeTokens(corpus)
    val grid = grid0.where(pmod(xxhash64(col("doc_id"), col("pos")), lit(3)) =!= 0)
    assertMatchesWindow(grid, ts, TokenKernel.regroupDocVectorsSorted(grid).toDF())
  }

  test("shuffled and partly clustered grids: per-doc vectors == window agg, bitwise == contiguous") {
    val (grid, ts) = TokenAdapter.explodeTokens(corpus)
    val contiguous = TokenKernel.regroupDocVectorsSorted(grid).toDF()
    // round-robin: runs of about one row, each doc spread over every partition
    val shuffled = grid.repartition(5)
    // runs of up to 8 adjacent positions, scattered in random order
    val partly = grid.orderBy(xxhash64(col("doc_id"), floor(col("pos") / 8)))
    for ((name, g) <- Seq("shuffled" -> shuffled, "partly clustered" -> partly)) {
      val ker = TokenKernel.regroupDocVectorsSorted(g).toDF()
      assertMatchesWindow(g, ts, ker)
      assert(ker.exceptAll(contiguous).count() == 0 && contiguous.exceptAll(ker).count() == 0,
        s"$name grid: per-doc vectors differ from the contiguous grid's")
    }
  }

  test("contiguous grid: the exchange writes ONE row per non-empty doc") {
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    val ds = TokenKernel.regroupDocVectorsSorted(grid)
    val docs = ds.collect().length
    assert(docs == corpus.where(size(col("tokens")) > 0).count())
    val written = collect(ds.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
      .map(_.metrics("shuffleRecordsWritten").value)
    assert(written == Seq(docs.toLong), s"shuffle records written per exchange: $written, docs: $docs")
  }

  test("sort-grouped plan: ONE exchange, key-only sort, no aggregate map, no window") {
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    val plan = TokenKernel.regroupDocVectorsSorted(grid).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    // exactly one Sort, keyed on doc_id alone (the grouping key), nothing else
    val sorts = "Sort \\[([^\\]]*)\\]".r.findAllMatchIn(plan).map(_.group(1)).toList
    assert(sorts.length == 1 && sorts.head.contains("doc_id") && !sorts.head.contains(","),
      s"expected one key-only sort, got $sorts\n$plan")
  }

  test("explicit numPartitions: STILL one exchange (groupBy reuses the repartition), count pinned") {
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    val ds = TokenKernel.regroupDocVectorsSorted(grid, numPartitions = Some(7))
    val plan = ds.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1,
      s"explicit repartition must be REUSED by the group, not doubled:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"), plan)
    // REPARTITION_BY_NUM origin: AQE must not coalesce the pinned count
    assert(ds.rdd.getNumPartitions == 7, s"expected 7 pinned partitions, got ${ds.rdd.getNumPartitions}")
  }

  test("WHALE doc (VERDICT r5 #4): one multi-million-token doc among small docs " +
    "completes in the O(n_doc) envelope with kernel parity") {
    import spark.implicits._
    // 4M-token whale + small neighbors — the whale's packed array is the
    // documented reduce-task memory envelope (one doc, ~32 MB of longs),
    // far past any plausible partition row count; a map task holds one run
    // (the whale ships as a few capped runs)
    val whaleLen = 4000000
    val docs = Seq(
      ("whale", Array.tabulate(whaleLen)(i => (i * 2654435761L >>> 40).toInt), "web"),
      ("small_a", Array(1, 2, 3, 4, 5), "web"),
      ("small_b", Array.tabulate(97)(i => i * 7), "web")
    ).toDF("doc_id", "tokens", "source")
      .withColumn("n_tok", size(col("tokens")))
    val (grid, _) = TokenAdapter.explodeTokens(docs)
    val t0 = System.nanoTime()
    val regroup = TokenKernel.regroupDocVectorsSorted(grid).toDF().collect()
    val wallSec = (System.nanoTime() - t0) / 1e9
    assert(regroup.length == 3, "every doc (incl. the whale) must emit a vector")
    // parity against the pre-grouped kernel (same DocState, positions==null
    // path) — the whale's 4M-step fold must agree exactly
    val grouped = TokenKernel.docVectors(docs).toDF().collect()
    val byId = grouped.map(r => r.getString(0) -> r).toMap
    regroup.foreach { r =>
      val g = byId(r.getString(0))
      assert(r == g, s"regroup/grouped mismatch for ${r.getString(0)}")
    }
    // completion sanity: a whale that triggered quadratic work or spill
    // explosion would blow far past this bound (typ. < 60 s on 4 cores)
    assert(wallSec < 300.0, s"whale regroup took $wallSec s — envelope violated")
  }
}
