package graft.pipeline

import graft.core.TokenAdapter
import graft.features.Kinematic
import graft.session.Sessionize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE flagship job, defined once (Bench times it, specs audit its plan,
  * RunPipeline ships it): tokenized sequences → 8 kinematic features → gap
  * sessionize → consume-all per-doc vector (every feature summed so column
  * pruning cannot drop any of the work).
  *
  * [[consumeAll]] runs it through the zero-shuffle per-doc kernel;
  * [[windowReferenceConsumeAll]] is the window formulation it replaced, kept
  * as the semantics reference; [[regroupConsumeAll]] is the general path for
  * ungrouped grids. FlagshipParitySpec asserts all three produce the same
  * rows. */
object FlagshipJob {

  val GapSeconds = 1.5

  /** Output column order of the window formulation — every flagship
    * implementation presents this exact schema. */
  private val ConsumeAllColumns: Seq[String] =
    "doc_id" +: Kinematic.AllFeatures.map(f => s"sum_$f") :+ "n_sessions" :+ "n"

  /** The flagship consume-all job. The INPUT is the pre-grouped
    * tokenized-sequence table (one entity per row, observations in order),
    * so the optimal physical plan is the zero-shuffle typed kernel
    * ([[graft.features.TokenKernel.docVectors]]) — re-grouping what the
    * storage layout already groups is pure overhead (optimization guide
    * §2.4/§8: use what you know that the optimizer does not). No exchange,
    * no sort, no window. */
  def consumeAll(corpus: DataFrame): DataFrame =
    graft.features.TokenKernel.docVectors(corpus, stepSec = 1L, gapSeconds = GapSeconds)
      .toDF().select(ConsumeAllColumns.map(col): _*)

  /** Round-1 window formulation: hash-cluster the compact SEQUENCE rows
    * (~4 B/token through the exchange instead of ~28 B; GenerateExec
    * preserves the partitioning so the window plans no second exchange) →
    * explode → one sort → fused 8-feature window chain → gap sessionize →
    * consume-all agg. Semantics reference for the parity specs and the
    * plan-shape spec. */
  def windowReferenceConsumeAll(corpus: DataFrame): DataFrame = {
    val (grid, ts) = TokenAdapter.explodeTokens(corpus.repartition(col("doc_id")))
    val ses = Sessionize.byGap(Kinematic.withKinematics(grid, ts), ts, GapSeconds)
    val aggs = Kinematic.AllFeatures.map(f => sum(col(f)).as(s"sum_$f")) :+
      max(col("session_id")).as("n_sessions") :+ count(lit(1)).as("n")
    ses.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Same result over the UNGROUPED grid through the re-group route
    * (VERDICT r4 #1): explode (narrow) → pack each doc's contiguous run of
    * grid rows into one row → one exchange + key-only sort → per-doc
    * kernel ([[graft.features.TokenKernel.regroupDocVectorsSorted]]). No
    * window frames — the general-path replacement when the input is not
    * pre-grouped. An explode emits each doc as one run, so one row per doc
    * crosses the exchange: the byte saving that clustering the compact
    * SEQUENCE rows first buys the window formulation. */
  def regroupConsumeAll(corpus: DataFrame, numPartitions: Option[Int] = None): DataFrame = {
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    graft.features.TokenKernel.regroupDocVectorsSorted(
      grid, stepSec = 1L, gapSeconds = GapSeconds, numPartitions = numPartitions).toDF()
  }
}
