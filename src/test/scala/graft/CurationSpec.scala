package graft

import graft.dedup.Dedup
import graft.sample.{Sampling, TokenPacking}
import graft.text.CorpusStats
import org.apache.spark.sql.functions._

/** Curation-pipeline operator laws: temperature mixture sampling, the
  * per-stratum quality gate (exact and approx modes), quality-aware cluster
  * representatives, and context-window chunking. */
class CurationSpec extends SparkSpec {

  import spark.implicits._

  private def docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")

  // ---- mixture sampling ----

  test("mixture at τ=1 degenerates to a uniform keep rate (≡ byHash)") {
    val m = Sampling.byMixture(docs, "lang", temperature = 1.0, targetFraction = 0.2, key = "doc_id")
    val h = Sampling.byHash(docs, 0.2, "doc_id")
    // τ=1 ⇒ f_s = targetFraction algebraically; Σp_s can sit 1 ulp off 1.0,
    // which may move a stratum's integer threshold by ONE hash bucket
    // (1e-6 of the key space) — allow at most that boundary sliver
    val nStrata = docs.select("lang").distinct().count()
    assert(m.exceptAll(h).count() <= nStrata && h.exceptAll(m).count() <= nStrata)
    assert(math.abs(m.count() - h.count()) <= nStrata)
  }

  test("mixture at τ<1 boosts tail strata relative to head strata") {
    val n = docs.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val head = n.maxBy(_._2)._1
    val tail = n.minBy(_._2)._1
    val m = Sampling.byMixture(docs, "lang", temperature = 0.5, targetFraction = 0.2, key = "doc_id")
    val kept = m.groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val headRate = kept.getOrElse(head, 0L).toDouble / n(head)
    val tailRate = kept.getOrElse(tail, 0L).toDouble / n(tail)
    assert(tailRate > headRate,
      s"τ=0.5 must up-weight the smallest stratum: tail $tail $tailRate ≤ head $head $headRate")
    // repeatable
    assert(Sampling.byMixture(docs, "lang", 0.5, 0.2, "doc_id").exceptAll(m).count() == 0)
  }

  test("mixture caps a boosted tail stratum at keep-all, never duplicates") {
    // extreme boost: tiny τ → near-uniform shares; the 2-row stratum's
    // boosted quota exceeds its size → fraction capped at 1.0
    val df = (Seq.fill(500)("big") ++ Seq.fill(2)("small")).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "src")
    val m = Sampling.byMixture(df, "src", temperature = 0.1, targetFraction = 0.5, key = "doc_id")
    val kept = m.groupBy("src").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.getOrElse("small", 0L) == 2L, "capped stratum keeps ALL its rows exactly once")
    assert(m.count() == m.select("doc_id").distinct().count())
  }

  test("mixture with many strata takes the broadcast-join path with the same semantics") {
    // 70 strata > MaxCaseStrata=64 → join branch; τ=1 law must still hold
    val df = (0L until 700L).map(i => (i, s"s${i % 70}")).toDF("doc_id", "src")
    val m = Sampling.byMixture(df, "src", temperature = 1.0, targetFraction = 0.3, key = "doc_id")
    val h = Sampling.byHash(df, 0.3, "doc_id")
    assert(m.exceptAll(h).count() <= 70 && h.exceptAll(m).count() <= 70)
    assert(m.columns.toSeq == df.columns.toSeq, "threshold plumbing columns must not leak")
    // repeatable through the join path too
    assert(Sampling.byMixture(df, "src", 1.0, 0.3, "doc_id").exceptAll(m).count() == 0)
  }

  test("sub-microsecond interval bands fail loudly instead of collapsing") {
    val p = Seq((1L, "u", "2024-01-01 00:00:00")).toDF("event_id", "entity", "ts_s")
      .selectExpr("event_id", "entity", "cast(ts_s as timestamp) as ts")
    val i = Seq((1L, "u", "2024-01-01 00:00:00", "2024-01-01 01:00:00")).toDF("iv_id", "entity", "s_s", "e_s")
      .selectExpr("iv_id", "entity", "cast(s_s as timestamp) as s", "cast(e_s as timestamp) as e")
    intercept[IllegalArgumentException] {
      graft.asof.IntervalJoin.banded(p, i, "entity", "ts", "s", "e", Seq("iv_id"),
        probeKey = "event_id", bandSec = 1e-7)
    }
  }

  // ---- quality gate ----

  test("quality gate drops null-scored rows in BOTH modes") {
    val df = Seq(
      (1L, "a", Some(0.9)), (2L, "a", Some(0.5)), (3L, "a", None),
      (4L, "b", None), (5L, "b", None)
    ).toDF("doc_id", "source", "score")
    val exact = CorpusStats.qualityGate(df, "score", "source", 1.0, exact = true)
    val approx = CorpusStats.qualityGate(df, "score", "source", 1.0, exact = false)
    val wantIds = Set(1L, 2L) // keepFraction 1.0 keeps every SCORED row
    assert(exact.select("doc_id").collect().map(_.getLong(0)).toSet == wantIds)
    assert(approx.select("doc_id").collect().map(_.getLong(0)).toSet == wantIds)
  }

  test("exact quality gate keeps exactly ⌈f·n⌉ per stratum, best-first") {
    val scored = graft.text.TextFeatures.withQuality(docs)
    val gated = CorpusStats.qualityGate(scored, "quality_score", "source", 0.4, exact = true)
    val perSrc = scored.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptSrc = gated.groupBy("source").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    perSrc.foreach { case (s, n) =>
      assert(keptSrc.getOrElse(s, 0L) == math.ceil(0.4 * n).toLong, s"stratum $s")
    }
    // kept min ≥ dropped max within each stratum (best-first)
    val worstKept = gated.groupBy("source").agg(min("quality_score").as("mn"))
    val dropped = scored.join(gated.select("doc_id"), Seq("doc_id"), "left_anti")
    val bestDropped = dropped.groupBy("source").agg(max("quality_score").as("mx"))
    val bad = worstKept.join(bestDropped, "source").where(col("mx") > col("mn")).count()
    assert(bad == 0, "a dropped row outscored a kept row in the same stratum")
  }

  test("approx quality gate tracks the exact gate within sketch tolerance") {
    val scored = graft.text.TextFeatures.withQuality(docs)
    val exact = CorpusStats.qualityGate(scored, "quality_score", "source", 0.4, exact = true)
    val approx = CorpusStats.qualityGate(scored, "quality_score", "source", 0.4, exact = false)
    val ne = exact.count().toDouble
    val na = approx.count().toDouble
    assert(math.abs(na - ne) / ne < 0.15, s"approx kept $na vs exact $ne")
  }

  // ---- quality-aware representative ----

  test("keepBest elects exactly one representative per cluster by (score desc, id asc)") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L), // cluster 1
      (4L, 4L),                     // singleton
      (5L, 5L), (6L, 5L)            // cluster 5, one unscored member
    ).toDF("doc_id", "cluster_id")
    val scores = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (6L, 0.2))
      .toDF("doc_id", "score")
    val out = Dedup.keepBest(clusters, scores).collect()
      .map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep_best"))).toMap
    assert(out(2L), "highest score wins")
    assert(!out(3L), "equal-score tie broken by smaller id")
    assert(!out(1L) && out(4L))
    assert(out(6L) && !out(5L), "scored member beats the null-scored one")
    val elected = Dedup.keepBest(clusters, scores)
      .groupBy("cluster_id").agg(sum(when(col("keep_best"), 1).otherwise(0)).as("n"))
      .where(col("n") =!= 1).count()
    assert(elected == 0, "exactly one representative per cluster")
  }

  // ---- chunking ----

  test("chunking covers every token; overlap-0 chunks reassemble the document exactly") {
    val seqs = docs.select(col("doc_id"), graft.functions.TextHash.tokenHashes(col("text")).as("tokens"))
      .withColumn("n_tok", size(col("tokens")))
    val chunked = TokenPacking.chunkTokens(seqs, "tokens", maxLen = 32, overlap = 0)
    // reassembly: concat slices in chunk order == original array
    val re = chunked.groupBy("doc_id")
      .agg(flatten(sort_array(collect_list(struct(col("chunk_id"), col("chunk_tokens")))).getField("chunk_tokens")).as("re"))
    val mismatch = seqs.join(re, "doc_id").where(col("re") =!= col("tokens")).count()
    assert(mismatch == 0, "overlap-0 chunk concatenation must round-trip the token array")
    // every chunk obeys the length law
    val badLen = chunked.where(col("tok_len") > 32 || col("tok_len") <= 0).count()
    assert(badLen == 0)
  }

  test("bloom-prefilter decontamination ≡ the broadcast-exact path, including empty benchmark") {
    val corpus = docs.where(col("doc_id") >= 10)
    val bench = docs.where(col("doc_id") < 10)
    val exact = Dedup.contaminatedDocs(corpus, bench, k = 3)
    val bloom = Dedup.contaminatedDocsBloom(corpus, bench, k = 3)
    assert(exact.exceptAll(bloom).count() == 0 && bloom.exceptAll(exact).count() == 0,
      "the exact-confirm stage must make the bloom path bit-identical")
    // tiny filter (high fpp) still exact — sizing affects cost, not output
    val tiny = Dedup.contaminatedDocsBloom(corpus, bench, k = 3, estItems = 8, numBits = 64)
    assert(exact.exceptAll(tiny).count() == 0 && tiny.exceptAll(exact).count() == 0)
    // empty benchmark → empty result, no analysis error
    assert(Dedup.contaminatedDocsBloom(corpus, bench.limit(0), k = 3).count() == 0)
  }

  test("quality tiers: ANSI ntile sizes per stratum, best rows in tier 1") {
    val scored = graft.text.TextFeatures.withQuality(docs)
    val tiered = CorpusStats.qualityTiers(scored, "quality_score", "source", tiers = 4)
    val sizes = tiered.groupBy("source", "tier").count().collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(r => r.getInt(1) -> r.getLong(2)).toMap)
    sizes.foreach { case (src, byTier) =>
      val n = byTier.values.sum
      (1 to 4).foreach { t =>
        val want = n / 4 + (if (t <= n % 4) 1 else 0)
        assert(byTier.getOrElse(t, 0L) == want, s"source $src tier $t: ${byTier.get(t)} != $want")
      }
    }
    // tier-1 min score ≥ tier-4 max score within a stratum
    val t1 = tiered.where(col("tier") === 1).groupBy("source").agg(min("quality_score").as("mn"))
    val t4 = tiered.where(col("tier") === 4).groupBy("source").agg(max("quality_score").as("mx"))
    assert(t1.join(t4, "source").where(col("mx") > col("mn")).count() == 0)
  }

  test("packed sequences: bins materialize in doc order, bounded by budget, separator optional") {
    val seqs = docs.select(col("doc_id"), col("lang").as("source"),
        graft.functions.TextHash.tokenHashes(col("text")).as("tokens"))
      .withColumn("n_tok", size(col("tokens")))
    val packed = TokenPacking.packSequences(seqs, budget = 512)
    // token conservation: Σ packed = Σ n_tok
    val totIn = seqs.agg(sum("n_tok")).head().getLong(0)
    val totOut = packed.agg(sum("n_tokens")).head().getLong(0)
    assert(totIn == totOut)
    // packing law: docs are assigned by START offset and never split, so a
    // bin fits in budget EXCLUDING its last member (total < budget + last)
    val binned = TokenPacking.contiguous(seqs, budget = 512)
    val lastLen = binned.groupBy("source", "bin_id")
      .agg(max_by(col("n_tok"), col("doc_id")).as("last_len"))
    val over = packed.join(lastLen, Seq("source", "bin_id"))
      .where(col("n_tokens") - col("last_len") >= 512).count()
    assert(over == 0, "a bin held ≥ budget tokens before its last member")
    // separator adds exactly n_docs tokens per bin
    val sep = TokenPacking.packSequences(seqs, budget = 512, sep = Some(-1L))
      .select(col("source"), col("bin_id"), col("n_docs").as("nd"), col("n_tokens").as("nt_sep"))
    val both = packed.join(sep, Seq("source", "bin_id"))
    assert(both.where(col("nt_sep") =!= col("n_tokens") + col("nd")).count() == 0)
  }

  test("chunking with overlap: starts advance by maxLen−overlap and re-cover the tail") {
    val df = Seq((1L, (0L until 100L).toArray)).toDF("doc_id", "tokens")
      .withColumn("n_tok", size(col("tokens")))
    val rows = TokenPacking.chunkTokens(df, "tokens", maxLen = 40, overlap = 10)
      .orderBy("chunk_id").select("chunk_id", "tok_start", "tok_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0L, 0L, 40L), (1L, 30L, 40L), (2L, 60L, 40L)),
      s"100 tokens at 40/10 must chunk as 0-40, 30-70, 60-100, got ${rows.toSeq}")
    intercept[IllegalArgumentException] {
      TokenPacking.chunk(df, maxLen = 10, overlap = 10)
    }
  }
}
