package graft.pipeline

import graft.core.TokenAdapter
import graft.features.Kinematic
import graft.session.Sessionize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** THE flagship job, defined once (Bench times it, Explain audits its plan,
  * RunPipeline ships it): tokenized sequences → fused 8-feature kinematic
  * window chain → gap sessionize → consume-all per-doc aggregate (every
  * feature summed so column pruning cannot drop any of the work).
  *
  * `preShuffleCompact` hash-clusters the SEQUENCE rows before the explode
  * (~4 B/token through the exchange instead of ~28 B; GenerateExec
  * preserves the partitioning so the window plans no second exchange) —
  * the cluster-scale default, measured in BENCH.md. */
object FlagshipJob {

  val GapSeconds = 1.5

  /** Output column order of the original window formulation — every
    * flagship implementation must present this exact schema. */
  private val ConsumeAllColumns: Seq[String] =
    "doc_id" +: Kinematic.AllFeatures.map(f => s"sum_$f") :+ "n_sessions" :+ "n"

  /** The flagship consume-all job. The INPUT is the pre-grouped
    * tokenized-sequence table (one entity per row, observations in order),
    * so the optimal physical plan is the zero-shuffle typed kernel
    * ([[graft.features.TokenKernel.docVectors]]) — re-grouping what the
    * storage layout already groups is pure overhead (optimization guide
    * §2.4/§8: use what you know that the optimizer does not). The window
    * formulation that round 1 shipped is retained verbatim below
    * ([[windowReferenceConsumeAll]]) as the semantics reference and stays
    * selectable via `SPARK_GRAFT_FLAGSHIP_IMPL=window` (or `regroup` for
    * the one-exchange general-path route). FlagshipParitySpec asserts all
    * three produce the same rows in the same schema.
    *
    * `preShuffleCompact` only affects the window impl (the default kernel
    * plan has no exchange at all; the regroup route packs each doc's run
    * before its one exchange). */
  def windowConsumeAll(corpus: DataFrame, preShuffleCompact: Boolean = true): DataFrame =
    sys.env.getOrElse("SPARK_GRAFT_FLAGSHIP_IMPL", "grouped") match {
      case "window" => windowReferenceConsumeAll(corpus, preShuffleCompact)
      case "regroup" =>
        regroupConsumeAll(corpus)
          .select(ConsumeAllColumns.map(col): _*)
      case _ =>
        graft.features.TokenKernel.docVectors(corpus, stepSec = 1L, gapSeconds = GapSeconds)
          .toDF().select(ConsumeAllColumns.map(col): _*)
    }

  /** Round-1 window formulation, unchanged: explode → one exchange + sort →
    * fused 8-feature window chain → gap sessionize → consume-all agg.
    * Semantics reference for the parity specs and the Explain plan gate. */
  def windowReferenceConsumeAll(corpus: DataFrame, preShuffleCompact: Boolean = true): DataFrame = {
    val clustered = if (preShuffleCompact) corpus.repartition(col("doc_id")) else corpus
    val (grid, ts) = TokenAdapter.explodeTokens(clustered)
    val ses = Sessionize.byGap(Kinematic.withKinematics(grid, ts), ts, GapSeconds)
    val aggs = Kinematic.AllFeatures.map(f => sum(col(f)).as(s"sum_$f")) :+
      max(col("session_id")).as("n_sessions") :+ count(lit(1)).as("n")
    ses.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Same result through the shuffle-free typed kernel (pre-grouped path;
    * TokenKernelSpec proves equality). */
  def groupedConsumeAll(corpus: DataFrame): DataFrame =
    graft.features.TokenKernel.docVectors(corpus, stepSec = 1L, gapSeconds = GapSeconds).toDF()

  /** Same result over the UNGROUPED grid through the re-group route
    * (VERDICT r4 #1): explode (narrow) → pack each doc's contiguous run of
    * grid rows into one row → one exchange + key-only sort → per-doc
    * kernel ([[graft.features.TokenKernel.regroupDocVectorsSorted]]). No
    * window frames — the general-path replacement when the input is not
    * pre-grouped. An explode emits each doc as one run, so one row per doc
    * crosses the exchange: the byte saving that clustering the compact
    * SEQUENCE rows first (`preShuffleCompact`) buys the window impl. */
  def regroupConsumeAll(corpus: DataFrame, numPartitions: Option[Int] = None): DataFrame = {
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    graft.features.TokenKernel.regroupDocVectorsSorted(
      grid, stepSec = 1L, gapSeconds = GapSeconds, numPartitions = numPartitions).toDF()
  }
}
