package graft.sample

import graft.functions.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic corpus sampling for training-data pipelines (engine-added;
  * the reference has no sampling surface — SURVEY.md §2.9).
  *
  * All selection is PURE HASH ARITHMETIC over the row key (the portable
  * [[TextHash]] affine family, not `rand()`/`sample()`), which buys the
  * three properties production pipelines actually need:
  *
  *   - REPEATABLE: the same (key, seed, fraction) keeps the same rows on
  *     every run, every executor count, every retry — no RNG state;
  *   - CONSISTENT ACROSS TABLES: any table keyed by the same id samples the
  *     SAME entities, so features/labels/metadata stay joinable;
  *   - MONOTONE IN FRACTION: the 10% sample is a superset of the 1% sample
  *     (selection is `bucket < fraction·M`), so sweeps nest.
  *
  * And it is oracle-able bit-for-bit in any engine (plain integer SQL). */
object Sampling {

  /** Number of hash buckets the unit interval is quantized to. */
  val Buckets: Long = 1000000L

  /** The key column as a hashable long, resolved against `df`'s schema:
    * integral keys by value, string keys via the portable polyHash — any
    * other type is rejected LOUDLY (a silent `cast("long")` on e.g. a UUID
    * would null out and sample ZERO rows with no error). */
  private[sample] def keyed(df: DataFrame, key: String): Column = {
    import org.apache.spark.sql.types._
    df.schema(key).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(key).cast("long")
      case StringType                                    => TextHash.polyHash(col(key))
      case other =>
        throw new IllegalArgumentException(s"sampling key '$key' must be integral or string, got $other")
    }
  }

  /** Uniform sample bucket in [0, [[Buckets]]) for an already-long key
    * expression: affine(pmod(key, P), seed-salt) mod Buckets. */
  def bucket(key: Column, seed: Int = 0): Column =
    TextHash.affine(pmod(key.cast("long"), lit(TextHash.P)), seed) % Buckets

  /** Keep ~`fraction` of rows, decided by the key hash alone. */
  def byHash(df: DataFrame, fraction: Double, key: String, seed: Int = 0): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    df.where(bucket(keyed(df, key), seed) < (fraction * Buckets).toLong)
  }

  /** Per-stratum fractions (e.g. per-language corpus mixing): rows in a
    * stratum listed in `fractions` keep its rate; unlisted strata keep
    * `defaultFraction`. One scan, no shuffle — the mixing weights of a
    * 100-TB pretraining corpus as a WHERE clause. */
  def stratified(
      df: DataFrame,
      strataCol: String,
      fractions: Map[String, Double],
      key: String,
      defaultFraction: Double = 0.0,
      seed: Int = 0
  ): DataFrame = {
    require((defaultFraction +: fractions.values.toSeq).forall(f => f >= 0.0 && f <= 1.0),
      "fractions must be in [0, 1]")
    val threshold = fractions.foldLeft(lit((defaultFraction * Buckets).toLong)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit((f * Buckets).toLong)).otherwise(acc)
    }
    df.where(bucket(keyed(df, key), seed) < threshold)
  }

  /** Temperature-scaled mixture sampling (the XLM-R / multilingual-LM
    * rebalancing law): sample stratum `s` with probability ∝ p_s^τ where
    * p_s is its corpus share, then scale so the EXPECTED overall keep rate
    * is `targetFraction`. τ = 1 reproduces the corpus mixture; τ → 0
    * approaches uniform-over-strata; τ < 1 up-weights tail strata (the
    * low-resource-language boost). Per-stratum keep fractions are capped at
    * 1.0 (a tail stratum whose boosted share exceeds its size keeps ALL its
    * rows — this sampler never duplicates, so the realized mixture is the
    * capped one).
    *
    * Plan shape: one tiny map-side-combinable aggregate (`#strata` rows,
    * bounded by `maxStrata`) collected to the driver to compute the keep
    * thresholds, then ONE scan with the [[byHash]] predicate — the corpus
    * is never shuffled. Fully deterministic: weights are computed with a
    * FIXED operation order (strata sorted ascending, sequential fold), so
    * the thresholds — and therefore the kept row set — are bit-reproducible
    * across engines (the DuckDB oracle mirrors the fold op-for-op; τ = 0.5
    * uses `sqrt`, correctly rounded in IEEE-754, hence bit-identical
    * cross-engine; other τ go through `pow`, which is deterministic
    * per-engine but only ~1-ulp portable).
    *
    * The stratum column is compared AS A STRING (null-safe; a null stratum
    * is its own stratum, folded last to match SQL NULLS LAST). */
  def byMixture(
      df: DataFrame,
      strataCol: String,
      temperature: Double,
      targetFraction: Double,
      key: String,
      seed: Int = 0,
      maxStrata: Int = 100000
  ): DataFrame = {
    require(temperature > 0.0, s"temperature must be > 0, got $temperature")
    require(targetFraction >= 0.0 && targetFraction <= 1.0, "targetFraction must be in [0, 1]")
    val s = col(strataCol).cast("string")
    val counts = df.groupBy(s.as("_s")).agg(count(lit(1)).as("_n"))
      .limit(maxStrata + 1).collect()
    require(counts.length <= maxStrata,
      s"byMixture saw > $maxStrata strata — '$strataCol' is not a mixture column")
    // deterministic fold order: ascending strata, null stratum LAST —
    // matching DuckDB's default NULLS LAST so the oracle's ordered list
    // fold reproduces sumW bit-for-bit. CAVEAT (documented, not enforced):
    // Java sorts by UTF-16 code unit, DuckDB by UTF-8 byte — identical for
    // ASCII strata (the realistic lang/source/domain case); supplementary-
    // plane stratum names would reorder the fold and perturb thresholds by
    // ulps.
    val sorted = counts
      .map(r => (Option(r.getString(0)), r.getLong(1)))
      .sortBy { case (st, _) => (st.isEmpty, st.getOrElse("")) }
    val nTotal = sorted.map(_._2).sum
    def weight(n: Long): Double = {
      val p = n.toDouble / nTotal.toDouble
      if (temperature == 0.5) math.sqrt(p) else math.pow(p, temperature)
    }
    val sumW = sorted.foldLeft(0.0) { case (acc, (_, n)) => acc + weight(n) }
    val thresholds = sorted.map { case (stratum, n) =>
      val f = math.min(1.0, targetFraction * (weight(n) / sumW) * nTotal.toDouble / n.toDouble)
      stratum -> math.floor(f * Buckets).toLong
    }
    if (thresholds.length <= MaxCaseStrata) {
      // few strata: inline CASE chain — the scan stays filter-only (no join,
      // no exchange; PlanShapeSpec asserts this shape)
      val threshold = thresholds.foldLeft(lit(0L): Column) {
        case (acc, (stratum, t)) =>
          when(s <=> stratum.map(lit).getOrElse(lit(null)), lit(t)).otherwise(acc)
      }
      df.where(bucket(keyed(df, key), seed) < threshold)
    } else {
      // many strata: a CASE chain one level deep per stratum overflows the
      // analyzer's recursive transforms (~few thousand) and costs O(#strata)
      // string compares PER ROW — broadcast the tiny threshold table instead
      val spark = df.sparkSession
      import spark.implicits._
      val thrDf = broadcast(
        thresholds.toSeq.map { case (st, t) => (st.orNull, t) }.toDF("_mix_s", "_mix_thr"))
      df.join(thrDf, s <=> col("_mix_s"))
        .where(bucket(keyed(df, key), seed) < col("_mix_thr"))
        .drop("_mix_s", "_mix_thr")
    }
  }

  /** Above this stratum count [[byMixture]] switches from an inline CASE
    * threshold (filter-only plan) to a broadcast threshold join — deep
    * CaseWhen trees blow the analyzer stack and linear-scan per row. */
  val MaxCaseStrata: Int = 64

  /** Per-key frequency cap: keep at most `n` rows per `keyCol`, chosen by
    * `priority` (first = best) — the C4/FineWeb-style per-domain cap that
    * stops one hot domain (boilerplate mills, mirrors, crawl loops) from
    * dominating a training mixture. Unlike [[byMixture]] (which rescales
    * the whole distribution) this is a hard ceiling with an explicit
    * keep-the-best policy — e.g. `priority = (quality desc, id asc)`.
    *
    * `priority` must be a TOTAL order per key (tie-break on a unique id)
    * or the kept set is nondeterministic under re-partitioning.
    *
    * Scale shape: rank-limit, not a global sort — the `row_number <= n`
    * filter triggers Catalyst's WindowGroupLimit rewrite, which inserts a
    * per-MAP-PARTITION group-limit BEFORE the exchange (each task forwards
    * at most `n` rows per key it sees), so a whale domain ships
    * O(n × tasks) rows through the shuffle, never its full row set. The
    * plan spec asserts the map-side limit is present. */
  def capPerKey(df: DataFrame, keyCol: String, n: Int, priority: Seq[Column]): DataFrame = {
    require(n >= 1, s"per-key cap must be >= 1, got $n")
    require(priority.nonEmpty, "capPerKey needs an explicit priority order")
    val w = Window.partitionBy(col(keyCol)).orderBy(priority: _*)
    df.withColumn("_cap_rn", row_number().over(w))
      .where(col("_cap_rn") <= n)
      .drop("_cap_rn")
  }
}

/** Sequence packing: assign documents to fixed token-budget bins — the
  * standard pretraining step that concatenates documents up to a context
  * window. The distributed formulation is CONTIGUOUS packing: within each
  * (partition key, deterministic order), bin id = ⌊(cumulative tokens −
  * n_tok) / budget⌋ — one window cumsum, no sequential packer, documents
  * larger than the budget get their own bin(s). Greedy first-fit packs
  * marginally tighter but is inherently sequential; contiguous packing is
  * the shape that parallelizes (and what large pipelines actually run). */
object TokenPacking {

  /** Adds `bin_id` (0-based per packing stream) and `bin_offset` (the doc's
    * first-token offset inside its stream). Deterministic order: orderCol
    * ascending within a stream.
    *
    * SCALE KNOB: the cumsum is sequential WITHIN a window partition, so one
    * giant source would serialize on a single task. `shards > 1` splits each
    * source into `shards` independent packing streams by the portable hash
    * of `orderCol` (each stream packs separately — exactly how production
    * packers parallelize; bins never span shards). The output gains the
    * `shard` column; shards = 1 keeps the single-stream layout. */
  def contiguous(
      df: DataFrame,
      budget: Int,
      nTokCol: String = "n_tok",
      partCol: String = "source",
      orderCol: String = "doc_id",
      shards: Int = 1
  ): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(shards >= 1, "shards must be >= 1")
    val base = if (shards == 1) df.withColumn("_shard", lit(0L))
      else df.withColumn("_shard", Sampling.bucket(Sampling.keyed(df, orderCol)) % shards)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol), col("_shard")).orderBy(col(orderCol))
    val cum = sum(col(nTokCol)).over(w)
    val out = base.withColumn("_cum", cum)
      .withColumn("bin_id", floor((col("_cum") - col(nTokCol)).cast("double") / budget).cast("long"))
      .withColumn("bin_offset", col("_cum") - col(nTokCol))
      .drop("_cum")
    if (shards == 1) out.drop("_shard") else out.withColumnRenamed("_shard", "shard")
  }

  /** Context-window chunking: split each document into overlapping windows
    * of at most `maxLen` tokens with `overlap` tokens shared between
    * consecutive chunks — the standard long-document → training-sample
    * step. Chunk starts advance by `maxLen − overlap`; the FINAL chunk is
    * whatever remains (shorter than `maxLen`, never re-based backward, so
    * chunk boundaries are a pure function of `n_tok` and every token
    * position is covered exactly ⌈coverage⌉ times). A document with
    * `n_tok ≤ 0` yields no chunks.
    *
    * Pure per-row `explode(sequence(...))` — zero shuffle, scan-speed at
    * any corpus size; output cardinality is Σ ⌈(n_tok − overlap) / step⌉,
    * the same blow-up any chunker pays. Output: input columns +
    * (chunk_id, tok_start, tok_len). */
  def chunk(
      df: DataFrame,
      maxLen: Int,
      overlap: Int = 0,
      nTokCol: String = "n_tok"
  ): DataFrame = {
    require(maxLen > 0, "maxLen must be positive")
    require(overlap >= 0 && overlap < maxLen, s"overlap must be in [0, maxLen), got $overlap")
    val step = maxLen - overlap
    val n = col(nTokCol).cast("long")
    // ceil((n - maxLen) / step) on integers = (n - maxLen + step - 1) div step
    val extra = greatest(lit(0L), floor((n - maxLen + step - 1).cast("double") / step).cast("long"))
    df.where(n > 0)
      .withColumn("chunk_id", explode(sequence(lit(0L), extra)))
      .withColumn("tok_start", col("chunk_id") * step)
      .withColumn("tok_len", least(lit(maxLen.toLong), n - col("tok_start")))
  }

  /** [[chunk]] plus the chunk's actual token slice (north-rule per-row
    * invariant surface: the concatenation of slices at `overlap = 0`
    * round-trips the document exactly). `tokensCol` is an array column;
    * `nTokCol` must equal its size. */
  def chunkTokens(
      df: DataFrame,
      tokensCol: String,
      maxLen: Int,
      overlap: Int = 0,
      nTokCol: String = "n_tok"
  ): DataFrame =
    chunk(df, maxLen, overlap, nTokCol)
      .withColumn("chunk_tokens",
        slice(col(tokensCol), (col("tok_start") + 1).cast("int"), col("tok_len").cast("int")))

  /** Materialize the packed sequences [[contiguous]] plans: one output row
    * per (stream, bin) holding the member documents' tokens concatenated
    * in `orderCol` order, optionally with a separator token between
    * documents (the EOS/document-boundary convention). This is the step
    * that turns bin ASSIGNMENTS into the physical training sequences.
    *
    * The per-bin `collect_list` is NOT the unbounded-group anti-pattern:
    * a document is assigned to the bin its START offset falls in (documents
    * are never split), so a bin holds < `budget` tokens BEFORE its last
    * member and at most `budget + len(last member) − 1` in total — every
    * group buffer is bounded by the context budget plus one document, the
    * same bound the downstream trainer's sample buffer needs anyway. One
    * shuffle on (stream, bin).
    *
    * Output: (partCol [, shard], bin_id, n_docs, n_tokens, packed). */
  def packSequences(
      df: DataFrame,
      budget: Int,
      tokensCol: String = "tokens",
      nTokCol: String = "n_tok",
      partCol: String = "source",
      orderCol: String = "doc_id",
      shards: Int = 1,
      sep: Option[Long] = None
  ): DataFrame = {
    val binned = contiguous(df, budget, nTokCol, partCol, orderCol, shards)
    val keys = if (shards == 1) Seq(partCol, "bin_id") else Seq(partCol, "shard", "bin_id")
    val member = sep match {
      case Some(s) => concat(col(tokensCol).cast("array<long>"), array(lit(s)))
      case None    => col(tokensCol).cast("array<long>")
    }
    binned
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        flatten(sort_array(collect_list(struct(col(orderCol).as("_o"), member.as("_t"))))
          .getField("_t")).as("packed"))
      .withColumn("n_tokens", size(col("packed")).cast("long"))
      .select(keys.map(col) ++ Seq(col("n_docs"), col("n_tokens"), col("packed")): _*)
  }
}
