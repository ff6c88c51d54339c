package graft

import graft.sample.{Sampling, TokenPacking}
import org.apache.spark.sql.functions._

/** Deterministic sampling laws + contiguous-packing invariants. */
class SamplingSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")

  test("hash sampling is repeatable, monotone in fraction, and roughly proportional") {
    val s10a = Sampling.byHash(docs, 0.1, "doc_id").select("doc_id")
    val s10b = Sampling.byHash(docs, 0.1, "doc_id").select("doc_id")
    assert(s10a.exceptAll(s10b).count() == 0, "same (key, seed, fraction) must select the same rows")
    val s01 = Sampling.byHash(docs, 0.01, "doc_id").select("doc_id")
    val s50 = Sampling.byHash(docs, 0.5, "doc_id").select("doc_id")
    assert(s01.exceptAll(s10a).count() == 0 && s10a.exceptAll(s50).count() == 0,
      "samples must nest: 1% ⊆ 10% ⊆ 50%")
    val n = docs.count().toDouble
    val got = s10a.count().toDouble / n
    assert(got > 0.03 && got < 0.25, s"10% sample wildly off: $got")
    // a different seed draws a different subset
    assert(Sampling.byHash(docs, 0.1, "doc_id", seed = 1).select("doc_id")
      .exceptAll(s10a).count() > 0)
  }

  test("stratified sampling applies per-stratum rates and the default elsewhere") {
    val s = Sampling.stratified(docs, "lang", Map("en" -> 1.0), key = "doc_id",
      defaultFraction = 0.0)
    val langs = s.select("lang").distinct().collect().map(_.getString(0)).toSet
    assert(langs == Set("en"), s"only the 100% stratum may survive a 0 default, got $langs")
    assert(s.count() == docs.where(col("lang") === "en").count())
  }

  test("contiguous packing: offset = running token sum; bin = offset's budget window") {
    val seqs = docs.select(col("doc_id"), col("lang").as("source"),
      size(graft.functions.TextHash.tokenHashes(col("text"))).as("n_tok"))
    val packed = TokenPacking.contiguous(seqs, budget = 512)
    val rows = packed.orderBy("source", "doc_id")
      .select("source", "n_tok", "bin_id", "bin_offset").collect()
    var src = ""
    var cum = 0L
    rows.foreach { r =>
      if (r.getString(0) != src) { src = r.getString(0); cum = 0L }
      assert(r.getLong(3) == cum, s"offset must equal the running sum at $r")
      assert(r.getLong(2) == cum / 512, s"bin must be the offset's 512-window at $r")
      cum += r.getInt(1)
    }
    // oversized docs straddle: a doc bigger than the budget occupies its
    // start window and the NEXT doc lands past the skipped windows
    import spark.implicits._
    val big = Seq((1L, "s", 5000), (2L, "s", 10), (3L, "s", 10)).toDF("doc_id", "source", "n_tok")
    val bp = TokenPacking.contiguous(big, budget = 512).orderBy("doc_id")
      .select("bin_id", "bin_offset").as[(Long, Long)].collect()
    assert(bp(0) == (0L, 0L) && bp(1) == (9L, 5000L) && bp(2) == (9L, 5010L),
      s"straddle layout wrong: ${bp.toSeq}")
  }

  test("sharded packing keeps per-stream contiguity and partitions the docs") {
    val seqs = docs.select(col("doc_id"), col("lang").as("source"),
      size(graft.functions.TextHash.tokenHashes(col("text"))).as("n_tok"))
    val packed = TokenPacking.contiguous(seqs, budget = 512, shards = 4)
    assert(packed.count() == seqs.count(), "sharding must not drop or duplicate docs")
    val rows = packed.orderBy("source", "shard", "doc_id")
      .select("source", "shard", "n_tok", "bin_offset").collect()
    var key = ("", -1L)
    var cum = 0L
    rows.foreach { r =>
      val k = (r.getString(0), r.getLong(1))
      if (k != key) { key = k; cum = 0L }
      assert(r.getLong(3) == cum, s"per-(source, shard) offsets must be contiguous at $r")
      cum += r.getInt(2)
    }
  }
}
