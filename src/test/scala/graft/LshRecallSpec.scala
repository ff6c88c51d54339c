package graft

import graft.dedup.Dedup
import graft.functions.TextHashKernel
import org.apache.spark.unsafe.types.UTF8String

/** Labeled-recall audit for MinHash-LSH candidate generation (VERDICT r3
  * stretch 8): a synthetic corpus with PLANTED near-duplicate pairs at
  * known token-replacement rates; per (numHashes, bands) configuration the
  * measured recall per true-Jaccard bucket is compared against the
  * theoretical S-curve 1 − (1 − j^r)^b — turning the scaladoc sizing law
  * into measured numbers (table mirrored in BENCH.md §LSH recall).
  *
  * All randomness is a seeded LCG → the corpus, the true Jaccards, and the
  * measured recalls are bit-stable across runs.
  */
class LshRecallSpec extends SparkSpec {

  // deterministic LCG (numerical recipes constants)
  private final class Lcg(seed: Long) {
    private var s = seed
    def nextInt(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound).toInt + bound) % bound
    }
    def nextDouble(): Double = nextInt(1 << 30) / (1 << 30).toDouble
  }

  /** True 3-shingle Jaccard via the SAME kernel the operator hashes with. */
  private def jaccard3(a: String, b: String): Double = {
    def sh(t: String): Set[Long] =
      TextHashKernel.shingleHashes(
        TextHashKernel.tokenHashes(UTF8String.fromString(t)), 3).toLongArray().toSet
    val (sa, sb) = (sh(a), sh(b))
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size
  }

  test("planted near-dup recall tracks the 1-(1-j^r)^b sizing law per band config") {
    val sq = spark
    import sq.implicits._
    val nBase = 150
    val docLen = 60
    val replaceRates = Array(0.02, 0.10, 0.20, 0.35) // → Jaccard ≈ .94/.72/.50/.28
    val docs = (0 until nBase).flatMap { i =>
      val rng = new Lcg(1000 + i)
      val base = Array.fill(docLen)(s"t${rng.nextInt(1000)}")
      val rate = replaceRates(i % replaceRates.length)
      val mrng = new Lcg(5000 + i)
      val mutant = base.map(w => if (mrng.nextDouble() < rate) s"m${mrng.nextInt(1000)}" else w)
      Seq((2L * i, base.mkString(" ")), (2L * i + 1, mutant.mkString(" ")))
    }
    val df = docs.toDF("doc_id", "text")
    val truth = (0 until nBase).map { i =>
      (2L * i, 2L * i + 1, jaccard3(docs(2 * i)._2, docs(2 * i + 1)._2))
    }
    val buckets = Seq((0.8, 1.01), (0.6, 0.8), (0.4, 0.6), (0.2, 0.4))

    val configs = Seq((16, 8), (16, 4), (32, 8)) // (numHashes, bands); r = n/b
    val report = new StringBuilder
    val foundByConfig = scala.collection.mutable.Map.empty[(Int, Int), Set[(Long, Long)]]
    for ((nh, b) <- configs) {
      val r = nh / b
      val found = Dedup.minhashLshPairs(df, k = 3, numHashes = nh, bands = b, estThreshold = 0.0)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      foundByConfig((nh, b)) = found
      for ((lo, hi) <- buckets) {
        val inB = truth.filter(t => t._3 >= lo && t._3 < hi)
        if (inB.nonEmpty) {
          val rec = inB.count(t => found.contains((t._1, t._2))).toDouble / inB.size
          val jMid = inB.map(_._3).sum / inB.size
          val theory = 1.0 - math.pow(1.0 - math.pow(jMid, r), b)
          report.append(f"| $nh%2d×$b%d (r=$r%d) | [$lo%.1f,${math.min(hi, 1.0)}%.1f) n=${inB.size}%3d | j̄=$jMid%.2f | recall $rec%.3f | theory ${theory}%.3f |\n")
          // measured recall must sit near the S-curve: the LSH is unbiased,
          // so a wide tolerance catches wiring bugs (dropped bands, wrong
          // hash family) without flaking on bucket granularity
          assert(math.abs(rec - theory) < 0.2,
            f"($nh,$b) bucket [$lo,$hi): recall $rec%.3f vs theory $theory%.3f")
        }
      }
    }
    println("LSH planted-pair recall (mirror into BENCH.md §LSH recall):")
    print(report)

    // the high-similarity bucket must be near-certain in the broad r=2
    // shape (16×8); note the LIBRARY default is bands=4 (r=4), the strict
    // near-dup shape — this spec's table is what to size against
    val rec16x8 = {
      val found = foundByConfig((16, 8))
      val hi = truth.filter(_._3 >= 0.8)
      hi.count(t => found.contains((t._1, t._2))).toDouble / hi.size
    }
    assert(rec16x8 > 0.95, f"16x8 high-sim recall $rec16x8%.3f below 0.95")
  }
}
