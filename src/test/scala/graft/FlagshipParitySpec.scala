package graft

import graft.core.SyntheticCorpus
import graft.features.Kinematic
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-6 optimization guard: `FlagshipJob.consumeAll` plans the
  * zero-shuffle per-doc kernel (the corpus input is pre-grouped,
  * so the explode→exchange→window chain re-derived a grouping the storage
  * already had). The REFERENCE window formulation is retained verbatim
  * (`windowReferenceConsumeAll`), and this spec pins the optimization's
  * correctness contract: same schema (names, order), same doc set, and the
  * same values — n / n_sessions exactly, the float sums within the same
  * tolerance discipline TokenKernelSpec uses (identical accumulation order
  * ⇒ near-bit-equal; the tolerance only absorbs partial-aggregate merge
  * order in the reference plan). */
class FlagshipParitySpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    val edge = Seq(
      ("edge_empty", Array.empty[Int], "web"),
      ("edge_one", Array(7), "web"),
      ("edge_two", Array(7, 11), "web"),
      ("edge_null", null.asInstanceOf[Array[Int]], "web")
    ).toDF("doc_id", "tokens", "source")
      .withColumn("n_tok", coalesce(size(col("tokens")), lit(0)))
    SyntheticCorpus.generate(spark, nDocs = 120, medianLen = 40, skewEvery = 25, skewFactor = 12)
      .unionByName(edge).cache()
  }

  private def assertConsumeAllEqual(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.columns.toSeq == b.columns.toSeq, s"$what: column order differs")
    val joined = a.alias("x").join(b.alias("y"), Seq("doc_id"), "full")
    assert(joined.count() == a.count() && a.count() == b.count(), s"$what: doc sets differ")
    assert(joined.where(
      col("x.n").isNull || col("y.n").isNull ||
        col("x.n") =!= col("y.n") || col("x.n_sessions") =!= col("y.n_sessions")).count() == 0,
      s"$what: n / n_sessions differ")
    Kinematic.AllFeatures.foreach { f =>
      val x = col(s"x.sum_$f"); val y = col(s"y.sum_$f")
      val bad = joined.where(
        when(x.isNull || y.isNull, x.isNotNull || y.isNotNull)
          .otherwise(abs(x - y) > abs(x) * 1e-12 + 1e-9)).count()
      assert(bad == 0, s"$what: sum_$f differs on $bad docs")
    }
  }

  test("default flagship (kernel) == reference window formulation") {
    val default = graft.pipeline.FlagshipJob.consumeAll(corpus)
    val reference = graft.pipeline.FlagshipJob.windowReferenceConsumeAll(corpus)
    assertConsumeAllEqual(default, reference, "kernel vs window reference")
  }

  test("default flagship plan is shuffle-free (no exchange, no window)") {
    val plan = graft.pipeline.FlagshipJob.consumeAll(corpus)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), s"unexpected exchange in:\n$plan")
    assert(!plan.contains("Window"), s"unexpected window operator in:\n$plan")
  }

  test("regroup impl column selection == reference window formulation") {
    val regroup = graft.pipeline.FlagshipJob
      .regroupConsumeAll(corpus)
      .select(graft.pipeline.FlagshipJob.consumeAll(corpus).columns.toIndexedSeq.map(col): _*)
    val reference = graft.pipeline.FlagshipJob.windowReferenceConsumeAll(corpus)
    assertConsumeAllEqual(regroup, reference, "regroup vs window reference")
  }
}
