package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adapter between the graft's authoritative input table
  * `(doc_id string, tokens array<int32>, n_tok int32, source string)`
  * (BASELINE.json input_hint) and the canonical entity×timestamp grid the
  * PTRAIL-semantics operators run on: `doc_id` ≙ traj_id, token position ≙
  * the monotone timestamp.
  *
  * Per-row invariant: `tokens` survives explode → feature pipeline →
  * reassembly with EXACT array equality (audited by [[tokensMatch]] and the
  * TokenAdapterSpec round-trip test).
  */
object TokenAdapter {

  val Epoch: Long = 0L // 1970-01-01T00:00:00Z in micros

  /** Deterministic fraction in [0,1) from arbitrary columns (xxhash64-based,
    * seed fixed) — the FIXTURES.md h1/h2 channel construction. */
  private def hashFrac(seed: Int, cols: Column*): Column =
    (xxhash64((lit(seed) +: cols): _*).cast("double") / 1.8446744073709552e19) + 0.5

  /** Explode the sequence table to the canonical grid:
    * (doc_id, pos, token, ts, lat, lon). `ts = epoch + pos·stepSec` keeps
    * T1–T8 meaningful; `lat/lon` are bounded deterministic channels of
    * (token, pos) so the kinematic kernels run verbatim (FIXTURES.md §4).
    * One narrow generator — no shuffle; parquet scans prune `tokens` only
    * when features need it. */
  def explodeTokens(seqTable: DataFrame, stepSec: Long = 1L): (DataFrame, TrajSchema) = {
    val grid = seqTable
      .select(col("doc_id"), col("source"), posexplode(col("tokens")).as(Seq("pos", "token")))
      .withColumn("ts", timestamp_micros(lit(Epoch) + col("pos").cast("long") * (stepSec * 1000000L)))
      .withColumn("lat", lit(-90.0) + hashFrac(1, col("token"), col("pos")) * 180.0)
      .withColumn("lon", lit(-180.0) + hashFrac(2, col("token"), col("pos")) * 360.0)
    (grid, TrajSchema(id = "doc_id", ts = "ts", lat = "lat", lon = "lon", orderCols = Seq("pos")))
  }

  /** Reassemble the grid back to sequences, order restored by pos. */
  def reassemble(grid: DataFrame): DataFrame =
    grid
      .groupBy(col("doc_id"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("token")))), _.getField("token"))
          .as("tokens"),
        first(col("source")).as("source")
      )
      .withColumn("n_tok", size(col("tokens")).cast("int"))
      .withColumn("tokens", col("tokens").cast("array<int>"))

  /** Audit: number of documents whose token array does NOT round-trip
    * exactly (must be 0 — the north rule's per-row invariant). */
  def tokensMatch(original: DataFrame, reassembled: DataFrame): Long =
    original
      .select(col("doc_id"), col("tokens"))
      .join(reassembled.select(col("doc_id"), col("tokens").as("tokens2")), Seq("doc_id"), "full")
      .where(not(col("tokens") <=> col("tokens2")))
      .count()
}

/** Deterministic synthetic sequence corpus (seed=42, no external data) per
  * FIXTURES.md §4: heavy-tailed lengths (a few entities at ~100× median to
  * exercise whale-doc skew), xxhash-PRNG tokens. Pure `spark.range` +
  * expressions — generated distributed, never on the driver.
  */
object SyntheticCorpus {

  def generate(
      spark: SparkSession,
      nDocs: Long,
      medianLen: Int = 64,
      vocab: Int = 50000,
      skewEvery: Long = 1000,
      skewFactor: Int = 100,
      seed: Long = 42L
  ): DataFrame = {
    val u = (xxhash64(lit(seed), col("id")).cast("double") / 1.8446744073709552e19) + 0.5
    // log-uniform length in [median/4, median*4), every `skewEvery`-th doc ×skewFactor
    val len0 = (lit(medianLen / 4) + floor(pow(lit(16.0), u) * (medianLen / 4.0))).cast("int")
    val len = when(pmod(col("id"), lit(skewEvery)) === 0, len0 * skewFactor).otherwise(len0)
    spark
      .range(nDocs)
      .select(
        format_string("doc%09d", col("id")).as("doc_id"),
        transform(
          sequence(lit(0), len - 1),
          i => pmod(xxhash64(lit(seed), col("id"), i), lit(vocab)).cast("int")
        ).as("tokens"),
        when(pmod(col("id"), lit(3)) === 0, "web")
          .when(pmod(col("id"), lit(3)) === 1, "books")
          .otherwise("code")
          .as("source")
      )
      .withColumn("n_tok", size(col("tokens")).cast("int"))
  }
}
