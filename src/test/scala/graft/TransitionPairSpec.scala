package graft

import graft.core.TrajSchema
import graft.features.Transitions
import graft.text.TokenStats
import org.apache.spark.sql.functions._

/** Transition-matrix and token-pair-count laws against brute force. */
class TransitionPairSpec extends SparkSpec {

  import spark.implicits._

  test("transitionCounts: counts, per-state probabilities, no step across entities") {
    // u1: A B A B ; u2: B B  (fed out of order) → steps:
    // u1: A→B, B→A, A→B ; u2: B→B
    val ev = Seq(
      ("u1", 3L, 200L, "A"), ("u1", 1L, 0L, "A"), ("u2", 5L, 0L, "B"),
      ("u1", 2L, 100L, "B"), ("u1", 4L, 300L, "B"), ("u2", 6L, 100L, "B")
    ).map { case (u, e, sec, t) => (u, e, new java.sql.Timestamp(sec * 1000L), t) }
      .toDF("user_id", "event_id", "ts", "event_type")
    val s = TrajSchema(id = "user_id", orderCols = Seq("event_id"))
    val out = Transitions.transitionCounts(ev, s, "event_type")
      .orderBy("state", "next_state").collect()
    val got = out.map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("A", "B", 2L, 1.0), ("B", "A", 1L, 0.5), ("B", "B", 1L, 0.5)),
      s"got ${got.toSeq}")
    // per-state probabilities sum to 1
    val byState = got.groupBy(_._1).map { case (_, rs) => rs.map(_._4).sum }
    byState.foreach(p => assertClose(Some(p), Some(1.0)))
  }

  test("pairCounts: brute-force adjacent pairs; short docs contribute nothing; topK tie order") {
    val docs = Seq(
      (1L, Seq(10L, 20L, 10L, 20L)), // pairs (10,20)x2, (20,10)x1
      (2L, Seq(20L, 10L)),           // (20,10)
      (3L, Seq(7L)),                 // no pair
      (4L, Seq.empty[Long])          // no pair
    ).toDF("doc_id", "tokens")
    val all = TokenStats.pairCounts(docs).orderBy("tok_a", "tok_b").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(all == Map((10L, 20L) -> 2L, (20L, 10L) -> 2L), s"got $all")
    // topK: tie on n=2 broken by (tok_a, tok_b) ascending
    val top1 = TokenStats.pairCounts(docs, topK = 1).collect()
    assert(top1.length == 1 && top1(0).getLong(0) == 10L && top1(0).getLong(1) == 20L)
  }

  test("applyMerge: greedy left-to-right law, ends, runs, identity") {
    val docs = Seq(
      (1L, Seq(1L, 1L, 1L)),          // run of the merged pair → [9, 1]
      (2L, Seq(1L, 2L, 1L, 2L)),      // back-to-back pairs → [9, 9] with (1,2)
      (3L, Seq(2L, 1L)),              // reversed — untouched
      (4L, Seq(1L)), (5L, Seq.empty[Long])
    ).toDF("doc_id", "tokens")
    def merged(a: Long, b: Long) = docs
      .select(col("doc_id"), graft.functions.TextHash.applyMerge(col("tokens"), a, b, 9L).as("t"))
      .orderBy("doc_id").as[(Long, Seq[Long])].collect().map(_._2).toSeq
    assert(merged(1L, 1L) == Seq(Seq(9L, 1L), Seq(1L, 2L, 1L, 2L), Seq(2L, 1L), Seq(1L), Seq()))
    assert(merged(1L, 2L) == Seq(Seq(1L, 1L, 1L), Seq(9L, 9L), Seq(2L, 1L), Seq(1L), Seq()))
  }

  test("mergeIteration elects the argmax pair and rewrites the corpus") {
    val docs = Seq(
      (1L, Seq(5L, 6L, 5L, 6L, 7L)),
      (2L, Seq(5L, 6L, 7L))
    ).toDF("doc_id", "tokens")
    val (out, (a, b, n)) = graft.text.TokenStats.mergeIteration(docs, newId = 100L)
    assert((a, b, n) == ((5L, 6L, 3L)), s"got ($a, $b, $n)")
    val rows = out.orderBy("doc_id").as[(Long, Seq[Long])].collect().map(_._2).toSeq
    assert(rows == Seq(Seq(100L, 100L, 7L), Seq(100L, 7L)))
  }

  test("pairCounts plans one map-side-combined aggregate and TakeOrdered, no global sort") {
    val docs = (1 to 50).map(i => (i.toLong, Seq.fill(5)((i % 7).toLong))).toDF("doc_id", "tokens")
    val plan = TokenStats.pairCounts(docs, topK = 10).queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"), s"pairs: map-side partial count\n$plan")
    assert(plan.contains("TakeOrderedAndProject") && !"\\bSort \\[".r.findAllIn(plan).hasNext,
      s"pairs: TakeOrderedAndProject, no global Sort\n$plan")
    assert(!plan.contains("Join"), "no join in the pair explode")
    assert("Exchange".r.findAllIn(plan).length == 1, s"pairs: one exchange\n$plan")
  }
}
