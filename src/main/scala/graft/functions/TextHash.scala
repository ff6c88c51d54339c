package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic text hashing.
  *
  * All hashes here are pure integer arithmetic (31-base polynomial rolling
  * hash mod 2^31−1) over ASCII codepoints, so the DuckDB oracle can compute
  * IDENTICAL values — unlike xxhash64/murmur which are Spark-internal. Used
  * by dedup (shingles, minhash, simhash) and fingerprinting. No overflow:
  * max intermediate < 2^36 ≪ 2^63.
  */
object TextHash {

  val P: Long = 2147483647L // 2^31 − 1 (Mersenne prime)

  private def kcol(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)
  private def kexp(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  /** Polynomial rolling hash of a string: fold h → (h·31 + code) mod P.
    * Native codegen'd kernel ([[PolyHashExpr]]); [[polyHashHof]] is the
    * declarative formulation it is parity-tested against. */
  def polyHash(text: Column): Column = kcol(PolyHashExpr(kexp(text)))

  /** HOF formulation of [[polyHash]] (kept as the parity reference). */
  def polyHashHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31L + c) % P
    )

  /** Whitespace tokens, empties dropped (leading/trailing-safe). */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), w => w =!= "")

  /** Per-document term counts, `array<struct<term, tf>>`: the [[tokens]]
    * of one row counted in one codegen'd pass ([[TermCountsExpr]]). */
  def termCounts(text: Column): Column = kcol(TermCountsExpr(kexp(text)))

  /** Per-token polynomial hashes (codegen'd kernel). */
  def tokenHashes(text: Column): Column = kcol(TokenHashesExpr(kexp(text)))

  /** Per-language stopword-hit counts, one codegen'd pass
    * ([[LangHitsExpr]] over [[TextHashKernel.LangProfiles]]). */
  def langHits(text: Column): Column = kcol(LangHitsExpr(kexp(text)))

  /** HOF formulation of [[tokenHashes]] (parity reference). */
  def tokenHashesHof(text: Column): Column =
    transform(tokens(text), w => polyHashHof(w))

  /** Distinct k-word shingle hashes from a token-hash array:
    * s_i = (wh_i·31² + wh_{i+1}·31 + … ) mod P (codegen'd kernel). */
  def shingleHashes(tokenHashes: Column, k: Int): Column =
    kcol(ShingleHashesExpr(kexp(tokenHashes), k))

  /** POSITIONED (non-distinct) k-shingle hashes: element i is the shingle
    * starting at token i (0-based after posexplode). Used by span-level
    * decontamination, where the position is the payload — the distinct
    * kernel can't serve it. HOF formulation (O(n·k) interpreted): span
    * reporting is an audit/scrub pass over the already-flagged slice of
    * the corpus, not the broad-scan hot path. */
  def positionedShingleHashes(tokenHashes: Column, k: Int): Column = {
    val n = size(tokenHashes)
    val win = n - (k - 1)
    val combined = (1 until k).foldLeft(slice(tokenHashes, lit(1), win)) { (acc, j) =>
      zip_with(acc, slice(tokenHashes, lit(j + 1), win), (a, b) => (a * 31L + b) % P)
    }
    when(n >= k, combined).otherwise(array().cast("array<bigint>"))
  }

  /** HOF formulation of [[shingleHashes]] (parity reference): O(n·k) per
    * row via k shifted zip_with views. */
  def shingleHashesHof(tokenHashes: Column, k: Int): Column = {
    val n = size(tokenHashes)
    val win = n - (k - 1)
    val combined = (1 until k).foldLeft(slice(tokenHashes, lit(1), win)) { (acc, j) =>
      zip_with(acc, slice(tokenHashes, lit(j + 1), win), (a, b) => (a * 31L + b) % P)
    }
    when(n >= k, array_distinct(combined)).otherwise(array().cast("array<bigint>"))
  }

  /** Universal hash family over [0,P): h_i(x) = (a_i·x + b_i) mod P with
    * fixed odd multipliers — identical in SQL. */
  def affine(x: Column, i: Int): Column = {
    val a = 2654435761L % P * (2 * i + 1) % P
    val b = (40503L * (i + 1)) % P
    (x * (a % P) % P + b) % P
  }

  /** MinHash signature (array of numHashes mins over the shingle set);
    * empty shingle set → array of P (sentinel). Codegen'd kernel. */
  def minhash(shingles: Column, numHashes: Int): Column =
    kcol(MinhashExpr(kexp(shingles), numHashes))

  /** HOF formulation of [[minhash]] (parity reference): ONE fold over the
    * shingle array computing all hash functions per element. */
  def minhashHof(shingles: Column, numHashes: Int): Column = {
    val init = array(Seq.fill(numHashes)(lit(P)): _*)
    aggregate(
      shingles,
      init,
      (acc, x) => {
        val hashes = array((0 until numHashes).map { i =>
          val a = 2654435761L % P * (2 * i + 1) % P
          val b = (40503L * (i + 1)) % P
          (x * a % P + b) % P
        }: _*)
        zip_with(acc, hashes, (m, h) => least(m, h))
      }
    )
  }

  /** Repetition metrics [dup_2gram_frac, dup_3gram_frac, top_2gram_frac]
    * from a token-hash array — codegen'd kernel ([[RepetitionExpr]]); the
    * HOF formulation lives in
    * [[graft.text.TextFeatures.withRepetitionHof]] as the parity
    * reference. */
  def repetitionMetrics(tokenHashes: Column): Column =
    kcol(RepetitionExpr(kexp(tokenHashes)))

  /** Greedy left-to-right merge of adjacent pair (a, b) → m over a token
    * array — the rewrite half of one BPE iteration
    * ([[graft.text.TokenStats.pairCounts]] is the scoring half); codegen'd
    * single-pass kernel ([[ApplyMergeExpr]]). */
  def applyMerge(tokenHashes: Column, a: Long, b: Long, m: Long): Column =
    kcol(ApplyMergeExpr(kexp(tokenHashes), a, b, m))

  /** 62-bit SimHash from token hashes: two independent 31-bit poly-affine
    * hashes per token give bits 0..61; bit b of the fingerprint is 1 iff
    * Σ_tokens (2·bit_b(h_tok) − 1) > 0. Returned as BIGINT. */
  def simhashBits: Int = 62
}
