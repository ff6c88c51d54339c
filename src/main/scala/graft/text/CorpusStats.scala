package graft.text

import graft.functions.TextHash
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level text statistics — quality signals that need a pass over the
  * WHOLE corpus before they can score a single document (unlike the
  * per-row features in [[TextFeatures]]). Both operators here follow the
  * same 100-TB shape: one map-side-combinable aggregate builds a
  * vocabulary-sized side table, the side table is capped to a broadcastable
  * bound, and scoring is a broadcast join over the exploded token stream —
  * the corpus itself is never shuffled at data scale (explode keeps a
  * document's tokens contiguous, so the per-doc re-aggregation collapses in
  * the partial-agg stage and only #docs-sized rows cross the wire).
  */
object CorpusStats {

  /** CCNet-style unigram language-model quality score: the mean negative
    * log-likelihood of a document's tokens under the corpus unigram
    * distribution. High scores mark documents full of rare garbage tokens;
    * low scores mark natural, in-distribution text — the classic cheap
    * proxy for "would a real LM find this document surprising".
    *
    * Definition (engine-portable, mirrored op-for-op by the DuckDB oracle):
    * with `c(w)` = corpus count of token `w` over the top-`vocabCap` tokens
    * (ranked by count desc, token asc — deterministic) and `T` = TOTAL
    * token count (including out-of-vocabulary tokens),
    * `score(d) = mean over tokens w of −ln(max(c(w), 1) / T)` — an OOV
    * token scores as a count-1 singleton. `vocabCap` (default 2^16) bounds
    * the broadcast side at web scale the same way IVF's `trainCap` bounds
    * Lloyd training; it is inactive at test scale but mirrored in the
    * oracle so parity survives corpus growth.
    *
    * Output: (id, n_tokens, n_oov, logprob) for every document with ≥1
    * token. `logprob` is exact (unrounded) — callers round to their grid.
    */
  def unigramLogProb(
      df: DataFrame,
      id: String = "doc_id",
      text: String = "text",
      vocabCap: Int = 65536
  ): DataFrame = {
    require(vocabCap > 0, s"vocabCap must be positive, got $vocabCap")
    val toks = df.select(col(id), explode(TextHash.tokens(col(text))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    // top-vocabCap by (count desc, token asc): TakeOrdered — per-partition
    // top-N + driver merge, no global sort shuffle
    val vocab = counts.orderBy(col("c").desc, col("tok").asc).limit(vocabCap)
    // total over ALL tokens (pre-cap): OOV probability mass stays honest
    val totals = counts.agg(sum(col("c")).as("total"))
    toks
      .join(broadcast(vocab), Seq("tok"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col(id))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("c").isNull, 1L).otherwise(0L)).as("n_oov"),
        avg(-log(coalesce(col("c"), lit(1L)).cast("double") / col("total").cast("double")))
          .as("logprob"))
  }

  /** TF-IDF top-`k` terms per document — the standard keyword/topic surface
    * a curation pipeline keys on (dedup explanations, topic balancing,
    * boilerplate diagnosis).
    *
    * `tfidf(d, w) = tf(d, w) · (ln((N + 1) / (df(w) + 1)) + 1)` — the
    * smoothed formulation, so df = N (a term in every document) still
    * scores > 0 and df + 1 never divides by zero. Ranking is per-document
    * by (tfidf desc, term asc); ties across equal (tf, df) pairs are exact
    * double ties in both engines, so the term tie-break makes row_number
    * deterministic.
    *
    * Plan shape: tf is counted inside each row ([[TextHash.termCounts]]:
    * a document is one row, so `id` must be unique) and exploded as
    * (id, term, tf), so the corpus never crosses a shuffle keyed on
    * (id, term). Three shuffles remain: df (a map-side-combined count by
    * term, vocabulary-sized, joined back broadcast), N (one row per
    * partition) and the top-k window by document, whose map side keeps at
    * most k rows per document and partition. The price is a second scan of
    * the text column: the df aggregate and the scoring side each read it.
    *
    * Output: (id, term, tf, df, tfidf, rank), rank ∈ [1, k]; `tfidf` exact
    * (unrounded).
    */
  def tfidfTopK(
      df: DataFrame,
      k: Int = 5,
      id: String = "doc_id",
      text: String = "text"
  ): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tf = df.select(col(id), explode(TextHash.termCounts(col(text))).as("t"))
      .select(col(id), col("t.term").as("term"), col("t.tf").as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "tfidf",
        col("tf") * (log((col("n_docs") + 1L).cast("double") / (col("df") + 1L).cast("double")) + 1.0))
    val w = Window.partitionBy(col(id)).orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(id), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
  }

  /** Per-stratum quality gate: keep the top `keepFraction` of rows in each
    * stratum by (`scoreCol` desc, `id` asc) — the "keep the best 40% of
    * each source" curation step, rank-based so there is NO percentile
    * interpolation ambiguity: kept count per stratum is exactly
    * ⌈keepFraction · n⌉.
    *
    * Two modes, the same pattern as the embedding dedup's exact/LSH pair:
    *
    *   - `exact = false` (the 100-TB default): per-stratum score threshold
    *     via `approx_percentile` (a tiny map-side-combinable sketch
    *     aggregate, #strata output rows, broadcast back as a filter) — the
    *     corpus is scanned twice and never shuffled. Kept set is
    *     approximate at the boundary (sketch error `1/accuracy`), which is
    *     what production gates run.
    *   - `exact = true` (the oracle/verification path): one
    *     `row_number()` window per stratum — exact, but a stratum is a
    *     WHOLE window partition, so a giant stratum serializes into one
    *     task; only for low-cardinality verification scale.
    *
    * NULL-scored rows are unscorable and are dropped in BOTH modes (a null
    * score cannot clear any threshold; keeping it in one mode and not the
    * other would make mode choice change the row set for a reason
    * unrelated to sketch accuracy). The quota is computed over the SCORED
    * rows of each stratum.
    *
    * Output: the kept input rows, unchanged schema. */
  def qualityGate(
      df: DataFrame,
      scoreCol: String,
      strataCol: String,
      keepFraction: Double,
      id: String = "doc_id",
      exact: Boolean = false,
      accuracy: Int = 10000
  ): DataFrame = {
    require(keepFraction >= 0.0 && keepFraction <= 1.0, "keepFraction must be in [0, 1]")
    val scored = df.where(col(scoreCol).isNotNull)
    if (exact) {
      val w = Window.partitionBy(col(strataCol)).orderBy(col(scoreCol).desc, col(id).asc)
      val cnt = Window.partitionBy(col(strataCol))
      scored.withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(cnt))
        .where(col("_rn") <= ceil(lit(keepFraction) * col("_n")))
        .drop("_rn", "_n")
    } else {
      val thr = scored.groupBy(col(strataCol).as("_s"))
        .agg(approx_percentile(col(scoreCol), lit(1.0 - keepFraction), lit(accuracy)).as("_thr"))
      scored.join(broadcast(thr), col(strataCol) <=> col("_s"))
        .where(col(scoreCol) >= col("_thr"))
        .drop("_s", "_thr")
    }
  }

  /** Per-stratum quality tiers: every row gets its `ntile(tiers)` bucket by
    * (`scoreCol` desc, `id` asc) within its stratum — the curriculum /
    * data-mixing view (tier 1 = the best ~1/tiers of each source, tier
    * `tiers` = the worst). ANSI ntile, identical in every engine: the
    * first `n mod tiers` buckets get one extra row. Same window-per-stratum
    * shape as [[qualityGate]]'s exact mode and the same caveat: giant
    * strata serialize into one task — tier at the granularity you can sort
    * (source/domain), or pre-shard the stratum key. Output: input columns +
    * `tier`. */
  def qualityTiers(
      df: DataFrame,
      scoreCol: String,
      strataCol: String,
      tiers: Int,
      id: String = "doc_id"
  ): DataFrame = {
    require(tiers > 0, s"tiers must be positive, got $tiers")
    val w = Window.partitionBy(col(strataCol)).orderBy(col(scoreCol).desc, col(id).asc)
    df.withColumn("tier", ntile(tiers).over(w))
  }
}
