package graft

import graft.ann.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-probe LSH top-k: probing the Hamming-1 neighbors of the
  * lowest-margin planes must raise recall vs single-probe at fixed planes,
  * while keeping the broadcast-join plan (corpus side untouched). */
class MultiProbeSpec extends SparkSpec {

  private val Sf = sfDir("0.001")
  private val K = 10

  private def emb = spark.read.parquet(s"$Sf/embeddings.parquet")
  private def queries = emb.where(col("vec_id") < 25)
    .select(col("vec_id").as("query_id"), col("embedding"))

  /** mean fraction of the exact top-k the candidate set recovered */
  private def recall(approx: DataFrame, exact: DataFrame): Double = {
    val hit = exact.join(approx, Seq("query_id", "vec_id"), "left_semi").count()
    hit.toDouble / exact.count()
  }

  test("recall(nProbe=4) > recall(nProbe=1) at fixed planes; plan stays broadcast") {
    val exact = Similarity.cosineTopK(queries, emb, K)
    val single = Similarity.lshTopK(queries, emb, K, planes = 8, nProbe = 1)
    val multi = Similarity.lshTopK(queries, emb, K, planes = 8, nProbe = 4)
    val r1 = recall(single, exact)
    val r4 = recall(multi, exact)
    info(f"recall single=$r1%.3f multi(4)=$r4%.3f")
    assert(r4 > r1, s"multi-probe did not raise recall: $r4 <= $r1")

    val plan = multi.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "multi-probe must stay a broadcast hash join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("nProbe=1 is byte-identical to the previous single-probe behavior") {
    val a = Similarity.lshTopK(queries, emb, K, planes = 8)
    val b = Similarity.lshTopK(queries, emb, K, planes = 8, nProbe = 1)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
