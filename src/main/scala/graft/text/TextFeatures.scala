package graft.text

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language ID, document fingerprinting. All pure column
  * expressions (codegen'd, shuffle-free) — at 100 TB these run at scan
  * speed with full column pruning.
  */
object TextFeatures {

  /** Count of pattern occurrences via length-difference (engine-portable —
    * identical in the DuckDB oracle, no regexp_count dependency). */
  private def countMatches(text: Column, pattern: String): Column =
    length(text) - length(regexp_replace(text, pattern, ""))

  /** PII-ish surface-pattern counts (emails, IPv4s, long digit runs) — the
    * signal a scrubbing/filter stage keys on before redaction. Counts only:
    * redaction itself is a `regexp_replace` away and policy-specific.
    * Patterns are RE2-safe (no lookarounds/backrefs) so they evaluate
    * identically under Java regex and the DuckDB oracle. */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val Ipv4Pattern: String = "[0-9]+\\.[0-9]+\\.[0-9]+\\.[0-9]+"
  val LongDigitRunPattern: String = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"

  def withPiiCounts(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("n_emails", size(regexp_extract_all(col(text), lit(EmailPattern), lit(0))))
      .withColumn("n_ipv4", size(regexp_extract_all(col(text), lit(Ipv4Pattern), lit(0))))
      .withColumn("n_digit_runs", size(regexp_extract_all(col(text), lit(LongDigitRunPattern), lit(0))))

  /** BPE-ish pre-tokenizer regex (GPT-2 style simplified to an RE2-safe
    * subset — letter runs, digit runs, punctuation runs, each with optional
    * leading space): the usual cheap proxy for "how many tokens will the
    * tokenizer emit" in training-data accounting. */
  val BpeIshPattern: String =
    " ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+"

  /** Token accounting: whitespace tokens + BPE-ish regex pieces. */
  def withTokenCounts(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("n_tokens_ws", size(TextHash.tokens(col(text))))
      .withColumn("n_tokens_bpeish", size(regexp_extract_all(col(text), lit(BpeIshPattern), lit(0))))

  /** Quality features: exact ratios of character classes + mean token
    * length + a composite score. All divisions are single correctly-rounded
    * IEEE ops on integers → bit-identical across engines. */
  def withQuality(df: DataFrame, text: String = "text"): DataFrame = {
    val t = col(text)
    val len = length(t).cast("double")
    val toks = TextHash.tokens(t)
    df.withColumn("n_tokens", size(toks))
      .withColumn("digit_ratio", countMatches(t, "[0-9]").cast("double") / len)
      .withColumn("punct_ratio", countMatches(t, "[^0-9A-Za-z\\s]").cast("double") / len)
      .withColumn("upper_ratio", countMatches(t, "[A-Z]").cast("double") / len)
      .withColumn("space_ratio", countMatches(t, "\\s").cast("double") / len)
      .withColumn(
        "mean_token_len",
        when(size(toks) > 0, aggregate(toks, lit(0L), (a, w) => a + length(w)).cast("double") / size(toks))
      )
      .withColumn(
        "quality_score",
        // heuristic in [0,1]: penalize digit/punct-heavy, reward 3..8-char tokens
        greatest(
          lit(0.0),
          lit(1.0) - col("digit_ratio") * 2.0 - col("punct_ratio") * 2.0 -
            abs(col("mean_token_len") - 5.5) / 10.0
        )
      )
  }

  /** Stopword-hit counts per language; deterministic n-gram-free heuristic
    * (the container has no langid model — this is the classic
    * stopword-profile scorer). Ties break by the fixed language order.
    * Canonical word lists live next to the codegen kernel. */
  val StopwordProfiles: Seq[(String, Seq[String])] =
    graft.functions.TextHashKernel.LangProfiles

  def langScore(toks: Column, words: Seq[String]): Column =
    if (words.isEmpty) lit(0)
    else size(filter(toks, w => lower(w).isin(words.map(lit(_)): _*)))

  /** Adds per-language hit counts + `lang_pred` (argmax, fixed-order ties,
    * "und" = undetermined when nothing matches). One codegen'd pass over
    * the raw string ([[graft.functions.LangHitsExpr]] — one hash-map probe
    * per token) instead of langs × words interpreted `lower().isin()`
    * comparisons per token; [[withLangIdHof]] is the parity reference
    * (LangIdParitySpec asserts equality). */
  def withLangId(df: DataFrame, text: String = "text"): DataFrame = {
    val hit = df.withColumn("_lh", TextHash.langHits(col(text)))
    val scored = StopwordProfiles.zipWithIndex.foldLeft(hit) { case (acc, ((l, _), i)) =>
      acc.withColumn(s"hits_$l", col("_lh")(i))
    }
    scored.withColumn("lang_pred", argmaxLang).drop("_lh")
  }

  /** HOF formulation of [[withLangId]] (parity reference — the exact
    * `size(filter(toks, lower(w).isin(…)))` chain the DuckDB oracle
    * mirrors). */
  def withLangIdHof(df: DataFrame, text: String = "text"): DataFrame = {
    val toks = TextHash.tokens(col(text))
    val scored = StopwordProfiles.foldLeft(df.withColumn("_toks", toks)) { case (acc, (l, ws)) =>
      acc.withColumn(s"hits_$l", langScore(col("_toks"), ws))
    }
    scored.withColumn("lang_pred", argmaxLang).drop("_toks")
  }

  /** Sequential argmax over the `hits_<lang>` columns: ties keep the
    * earlier language, "und" when nothing matches. */
  private def argmaxLang: Column =
    StopwordProfiles.map(_._1).foldLeft((lit("und"), lit(0))) { case ((bl, bs), l) =>
      val better = col(s"hits_$l") > bs
      (when(better, lit(l)).otherwise(bl), when(better, col(s"hits_$l")).otherwise(bs))
    }._1

  /** Document fingerprint: 31-base polynomial rolling hash mod 2^31−1 over
    * the raw characters — stable, engine-portable, O(len). */
  def withFingerprint(df: DataFrame, text: String = "text"): DataFrame =
    df.withColumn("fingerprint", TextHash.polyHash(col(text)))

  /** Winnowing-style k-gram fingerprint set: min shingle hash per document
    * (1-permutation minhash) — cheap near-dup prefilter. */
  def withMinShingle(df: DataFrame, text: String = "text", k: Int = 3): DataFrame =
    df.withColumn("min_shingle", array_min(TextHash.shingleHashes(TextHash.tokenHashes(col(text)), k)))

  /** Max run length over a SORTED array = the highest element frequency —
    * one fold, no map state. Part of the HOF parity reference for the
    * codegen [[graft.functions.RepetitionExpr]] kernel (see
    * [[withRepetitionHof]]). */
  private def maxFreq(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit(Long.MinValue).as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1L).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"), greatest(acc("best"), run).as("best"))
      },
      acc => acc("best"))

  /** Within-document repetition metrics — the Gopher/FineWeb-style quality
    * signals a pretraining filter thresholds on (heavily repeated n-grams
    * mark boilerplate/spam):
    *
    *  - `dup_2gram_frac` / `dup_3gram_frac`: fraction of n-gram SLOTS whose
    *    gram also occurs elsewhere in the doc, = (n − distinct)/n (0 for
    *    docs shorter than the gram).
    *  - `top_2gram_frac`: occurrences of the most frequent 2-gram / total
    *    2-grams — catches single-phrase spam that the dup fraction dilutes.
    *
    * Grams are compared by the engine-portable positioned shingle hashes,
    * so the DuckDB oracle reproduces every count exactly; the ratios are
    * one int-int division each (single correctly-rounded IEEE op per
    * engine). Pure per-row column expressions: shuffle-free, scan-speed,
    * fully column-pruned at 100 TB.
    *
    * Runs as ONE codegen static call per row
    * ([[graft.functions.RepetitionExpr]]: primitive gram buffers, one sort
    * + run-length pass per k) — the interpreted-HOF chain it replaced
    * (`aggregate` fold + `array_sort`/`array_distinct`, ~1µs/element with
    * an UnsafeArrayData per step) is kept below as [[withRepetitionHof]]
    * and bit-parity-proven in TextKernelParitySpec. */
  def withRepetition(df: DataFrame, text: String = "text"): DataFrame = {
    val m = TextHash.repetitionMetrics(TextHash.tokenHashes(col(text)))
    // coalesce mirrors the HOF's null-text behavior (its WHEN branches
    // fall through to 0.0 on a null input instead of propagating null)
    df.withColumn("_rep", m)
      .withColumn("dup_2gram_frac", coalesce(col("_rep")(0), lit(0.0)))
      .withColumn("dup_3gram_frac", coalesce(col("_rep")(1), lit(0.0)))
      .withColumn("top_2gram_frac", coalesce(col("_rep")(2), lit(0.0)))
      .drop("_rep")
  }

  /** HOF formulation of [[withRepetition]] (parity reference only). */
  def withRepetitionHof(df: DataFrame, text: String = "text"): DataFrame = {
    val th = TextHash.tokenHashes(col(text))
    def gramFracs(k: Int): (Column, Column) = {
      val grams = TextHash.positionedShingleHashes(th, k)
      val n = size(grams).cast("double")
      val dup = when(size(grams) > 0,
        (size(grams) - size(array_distinct(grams))).cast("double") / n).otherwise(0.0)
      val top = when(size(grams) > 0,
        maxFreq(array_sort(grams)).cast("double") / n).otherwise(0.0)
      (dup, top)
    }
    val (dup2, top2) = gramFracs(2)
    val (dup3, _) = gramFracs(3)
    df.withColumn("dup_2gram_frac", dup2)
      .withColumn("dup_3gram_frac", dup3)
      .withColumn("top_2gram_frac", top2)
  }
}
