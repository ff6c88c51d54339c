package graft

import graft.ann.Similarity
import graft.core.TokenAdapter
import graft.dedup.Dedup
import graft.features.Kinematic
import graft.functions.TextHash
import graft.interp.Interpolation
import graft.multimodal.Multimodal
import graft.text.TextFeatures
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document/embedding-pipeline query specs (dedup, similarity, text
  * analysis) plus the stats pivot — part of [[SparkEntry.specs]]. Oracle parity
  * notes: all text hashing is exact integer arithmetic (TextHash); cosine
  * uses a sequential fold mirrored by list_reduce in DuckDB (bit-identical);
  * stats percentiles/means of pre-rounded features round at grid-safe
  * digits (see SparkEntry's rounding-policy scaladoc).
  */
object DocQueries {
  import SparkEntry.{r, table}

  private def docs(sp: SparkSession, dir: String): DataFrame = table(sp, dir, "documents")
  private def embs(sp: SparkSession, dir: String): DataFrame = table(sp, dir, "embeddings")

  /** Deterministic media table derived from `documents`: payload = UTF-8
    * bytes of the ASCII-cleaned text (so byte values == codepoints and the
    * DuckDB oracle can mirror the stub codec exactly), metadata from
    * n_chars. Exercises the real multimodal plumbing (binary column, typed
    * meta struct, partition-batch decode) on driver-provided data. */
  private def media(sp: SparkSession, dir: String): DataFrame =
    docs(sp, dir).select(
      col("doc_id").as("id"),
      when(pmod(col("doc_id"), lit(3)) === 0, "image")
        .when(pmod(col("doc_id"), lit(3)) === 1, "audio")
        .otherwise("video").as("modality"),
      encode(regexp_replace(col("text"), "[^ -~]", ""), "UTF-8").as("media"),
      struct(
        (pmod(col("n_chars"), lit(1024)) + 16).cast("int").as("width"),
        (pmod(col("n_chars"), lit(768)) + 16).cast("int").as("height"),
        lit("stub").as("codec"),
        (pmod(col("n_chars"), lit(60)) * 1000 + 1000).cast("int").as("duration_ms")
      ).as("meta")
    )

  /** Little-endian int32 bytes of a non-negative column value (shared by
    * the BMP/WAV synthetic-container builders — one definition so the
    * byte layout cannot drift between formats). */
  private def le32(v: Column): Column = {
    val h = substring(lpad(hex(v.cast("long")), 16, "0"), 9, 8)
    unhex(concat(substring(h, 7, 2), substring(h, 5, 2), substring(h, 3, 2), substring(h, 1, 2)))
  }

  /** Little-endian int16 HEX DIGITS of a (possibly negative, two's
    * complement) column value — returned as hex text so per-sample calls
    * can be concat_ws'd before one final unhex. */
  private def le16hex(v: Column): Column = {
    val h = lpad(hex(pmod(v.cast("long"), lit(65536L))), 4, "0")
    concat(substring(h, 3, 2), substring(h, 1, 2))
  }

  /** The media view in DuckDB SQL (op-for-op mirror of [[media]]). */
  private val MediaSql: String =
    """WITH m AS (
      |  SELECT doc_id AS id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |    regexp_replace(text, '[^ -~]', '', 'g') AS t,
      |    (n_chars % 1024 + 16)::INT AS width,
      |    (n_chars % 768 + 16)::INT AS height,
      |    (n_chars % 60 * 1000 + 1000)::INT AS duration_ms
      |  FROM documents
      |)""".stripMargin

  // DuckDB fragments mirroring TextHash op-for-op
  private val P = "2147483647"
  private def sqlPoly(e: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(string_split($e, ''), c -> ascii(c)::BIGINT)), (h, c) -> (h * 31 + c) % $P)"
  private val sqlToks = "list_filter(regexp_split_to_array(text, '\\s+'), w -> w != '')"
  private def sqlWordHashes = s"list_transform($sqlToks, w -> ${sqlPoly("w")})"
  /** distinct 3-gram shingle hashes from word-hash list `wh` */
  private val sqlShingles =
    s"CASE WHEN len(wh) >= 3 THEN list_distinct([(((wh[i] * 31 + wh[i+1]) % $P) * 31 + wh[i+2]) % $P for i in generate_series(1, len(wh) - 2)]) ELSE [] END"
  /** minhash signature position j (0-based) over shingle list `sh` */
  private def sqlMinhashAt(j: String): String =
    s"coalesce(list_min(list_transform(sh, x -> (x * ((506952114 * ($j * 2 + 1)) % $P) % $P + (40503 * ($j + 1)) % $P) % $P)), $P)"
  /** sequential-fold dot product of DOUBLE lists a, b */
  private def sqlDot(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, [$a[i]::DOUBLE * $b[i]::DOUBLE for i in generate_series(1, len($a))]), (x, y) -> x + y)"
  /** projection of list `v` onto portable hyperplane p — op-for-op mirror of
    * SimilarityKernel.lshBucket's per-plane fold (1-based SQL i ↔ 0-based
    * kernel i+1; every op exact-IEEE or integer, so buckets match bitwise) */
  private def sqlLshPlaneSum(v: String, p: Int): String = {
    val a = 506952114L * (2 * p + 1) % TextHash.P
    val b = (40503L * (p + 1)) % TextHash.P
    s"list_reduce(list_prepend(0.0::DOUBLE, [$v[i]::DOUBLE * ((((i * 506952114) % $P * $a % $P + $b) % $P)::DOUBLE / 2147483647.0 - 0.5) for i in generate_series(1, len($v))]), (x, y) -> x + y)"
  }
  /** full `planes`-bit LSH bucket of list `v` (sign bit per plane) */
  private def sqlLshBucket(v: String, planes: Int): String =
    (0 until planes)
      .map(p => s"(CASE WHEN ${sqlLshPlaneSum(v, p)} > 0.0 THEN ${1L << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Shared connected-components CTE chain (minhash sigs → LSH pairs →
    * undirected edges → recursive min-label closure). Ends at `lab(node,
    * label)`; callers select their own output shape. */
  private val sqlClusterCtes: String =
    s"""WITH RECURSIVE t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
       |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
       |sigs AS (SELECT doc_id, [${sqlMinhashAt("i")} for i in generate_series(0, 15)] AS sig FROM s),
       |lshp AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
       |  WHERE (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
       |      OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])
       |    AND len(list_filter([a.sig[i] = b.sig[i] for i in generate_series(1, 16)], x -> x))::DOUBLE / 16 >= 0.25
       |),
       |und AS (SELECT id_a AS src, id_b AS dst FROM lshp UNION SELECT id_b AS src, id_a AS dst FROM lshp),
       |nodes AS (SELECT DISTINCT src AS node FROM und),
       |cc AS (
       |  SELECT node, node AS label FROM nodes
       |  UNION
       |  SELECT u.dst AS node, cc.label FROM cc JOIN und u ON u.src = cc.node WHERE cc.label < u.dst
       |),
       |lab AS (SELECT node, min(label) AS label FROM cc GROUP BY node)""".stripMargin

  /** `qs(doc_id, source, quality_score)` — the quality-score pipeline of
    * q_txt_quality inlined (each named ratio substituted verbatim, so every
    * IEEE op and its order is unchanged). */
  private val sqlQualityScoreCte: String =
    s"""qt AS (SELECT doc_id, source, text, length(text)::DOUBLE AS lc, $sqlToks AS toks FROM documents),
       |qs AS (
       |  SELECT doc_id, source,
       |    greatest(0.0, 1.0
       |      - (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / lc * 2.0
       |      - (length(text) - length(regexp_replace(text, '[^0-9A-Za-z\\s]', '', 'g')))::DOUBLE / lc * 2.0
       |      - abs((CASE WHEN len(toks) > 0 THEN
       |          list_reduce(list_prepend(0::BIGINT, list_transform(toks, w -> length(w)::BIGINT)), (a, b) -> a + b)::DOUBLE / len(toks)
       |        END) - 5.5) / 10.0) AS quality_score
       |  FROM qt)""".stripMargin

  // ONE oracle per decontamination semantics — the broadcast-exact and
  // bloom-prefilter formulations verify against the same SQL
  private val decontamSql =
    s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
       |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
       |bench AS (SELECT DISTINCT unnest(sh) AS x FROM s WHERE doc_id < 20),
       |inv AS (SELECT doc_id, unnest(sh) AS x FROM s WHERE doc_id >= 20)
       |SELECT inv.doc_id, count(*) AS n_hits
       |FROM inv JOIN bench USING (x) GROUP BY inv.doc_id""".stripMargin

  /** The 72 per-entity stat columns of q_stat_wide / q_stat_long, SQL side. */
  private val statSelect: String = SparkEntry.kinOut.flatMap { case (f, e, d) =>
    val re = s"round($e, $d) + 0.0"
    val dq = d + 2
    Seq(
      s"""round(quantile_cont($re, 0.1), $dq) + 0.0 AS "p10_$f"""",
      s"""round(quantile_cont($re, 0.25), $dq) + 0.0 AS "p25_$f"""",
      s"""round(quantile_cont($re, 0.5), $dq) + 0.0 AS "p50_$f"""",
      s"""round(quantile_cont($re, 0.75), $dq) + 0.0 AS "p75_$f"""",
      s"""round(quantile_cont($re, 0.9), $dq) + 0.0 AS "p90_$f"""",
      s"""min($re) AS "min_$f"""",
      s"""max($re) AS "max_$f"""",
      s"""round(avg($re), 4) + 0.0 AS "mean_$f"""",
      s"""round(stddev($re), 4) + 0.0 AS "std_$f""""
    )
  }.mkString(",\n")

  val specs: Seq[QuerySpec] = Seq(
    // ---- text analysis ----
    QuerySpec("q_txt_quality", (sp, dir) =>
      TextFeatures.withQuality(docs(sp, dir))
        .select(col("doc_id"), col("n_tokens"), col("digit_ratio"), col("punct_ratio"),
          col("upper_ratio"), col("space_ratio"), col("mean_token_len"), col("quality_score")),
      s"""WITH t AS (
         |  SELECT doc_id, text, length(text)::DOUBLE AS lc, $sqlToks AS toks FROM documents
         |), q AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / lc AS digit_ratio,
         |    (length(text) - length(regexp_replace(text, '[^0-9A-Za-z\\s]', '', 'g')))::DOUBLE / lc AS punct_ratio,
         |    (length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')))::DOUBLE / lc AS upper_ratio,
         |    (length(text) - length(regexp_replace(text, '\\s', '', 'g')))::DOUBLE / lc AS space_ratio,
         |    CASE WHEN len(toks) > 0 THEN
         |      list_reduce(list_prepend(0::BIGINT, list_transform(toks, w -> length(w)::BIGINT)), (a, b) -> a + b)::DOUBLE / len(toks)
         |    END AS mean_token_len
         |  FROM t
         |)
         |SELECT doc_id, n_tokens, digit_ratio, punct_ratio, upper_ratio, space_ratio, mean_token_len,
         |  greatest(0.0, 1.0 - digit_ratio * 2.0 - punct_ratio * 2.0 - abs(mean_token_len - 5.5) / 10.0) AS quality_score
         |FROM q""".stripMargin),
    QuerySpec("q_txt_langid", (sp, dir) =>
      TextFeatures.withLangId(docs(sp, dir))
        .select(col("doc_id"), col("hits_en"), col("hits_de"), col("hits_fr"), col("hits_es"), col("lang_pred")),
      {
        val profiles = TextFeatures.StopwordProfiles.filter(_._2.nonEmpty)
        val hitCols = profiles.map { case (l, ws) =>
          val arr = ws.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, w -> list_contains($arr, lower(w)))) AS hits_$l"
        }.mkString(", ")
        // sequential argmax fold, ties keep the earlier language
        val fold = profiles.map(_._1).foldLeft(("'und'", "0")) { case ((bl, bs), l) =>
          (s"CASE WHEN hits_$l > $bs THEN '$l' ELSE $bl END", s"CASE WHEN hits_$l > $bs THEN hits_$l ELSE $bs END")
        }
        s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
           |h AS (SELECT doc_id, $hitCols FROM t)
           |SELECT doc_id, hits_en, hits_de, hits_fr, hits_es, ${fold._1} AS lang_pred FROM h""".stripMargin
      }),
    QuerySpec("q_txt_fingerprint", (sp, dir) =>
      TextFeatures.withFingerprint(docs(sp, dir)).select(col("doc_id"), col("fingerprint")),
      s"""SELECT doc_id, ${sqlPoly("text")} AS fingerprint FROM documents"""),
    QuerySpec("q_txt_min_shingle", (sp, dir) =>
      TextFeatures.withMinShingle(docs(sp, dir)).select(col("doc_id"), col("min_shingle")),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t)
         |SELECT doc_id, list_min(sh) AS min_shingle FROM s""".stripMargin),
    QuerySpec("q_txt_token_counts", (sp, dir) =>
      TextFeatures.withTokenCounts(docs(sp, dir))
        .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_bpeish")),
      s"""SELECT doc_id, len($sqlToks) AS n_tokens_ws,
         |len(regexp_extract_all(text, ' ?[\\p{L}]+| ?[\\p{N}]+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+|[ \\t\\n\\x0B\\f\\r]+')) AS n_tokens_bpeish
         |FROM documents""".stripMargin),
    QuerySpec("q_txt_pii", (sp, dir) =>
      TextFeatures.withPiiCounts(docs(sp, dir))
        .select(col("doc_id"), col("n_emails"), col("n_ipv4"), col("n_digit_runs")),
      s"""SELECT doc_id,
         |  cast(len(regexp_extract_all(text, '${TextFeatures.EmailPattern}')) AS INTEGER) AS n_emails,
         |  cast(len(regexp_extract_all(text, '${TextFeatures.Ipv4Pattern}')) AS INTEGER) AS n_ipv4,
         |  cast(len(regexp_extract_all(text, '${TextFeatures.LongDigitRunPattern}')) AS INTEGER) AS n_digit_runs
         |FROM documents""".stripMargin),
    QuerySpec("q_txt_repetition", (sp, dir) =>
      TextFeatures.withRepetition(docs(sp, dir))
        .select(col("doc_id"), col("dup_2gram_frac"), col("dup_3gram_frac"), col("top_2gram_frac")),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |u2 AS (SELECT doc_id, (wh[i] * 31 + wh[i+1]) % $P AS x
         |       FROM t, unnest(generate_series(1, len(wh) - 1)) AS s2(i)),
         |c2 AS (SELECT doc_id, x, count(*) AS c FROM u2 GROUP BY 1, 2),
         |m2 AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m FROM c2 GROUP BY 1),
         |u3 AS (SELECT doc_id, (((wh[i] * 31 + wh[i+1]) % $P) * 31 + wh[i+2]) % $P AS x
         |       FROM t, unnest(generate_series(1, len(wh) - 2)) AS s3(i)),
         |c3 AS (SELECT doc_id, x, count(*) AS c FROM u3 GROUP BY 1, 2),
         |m3 AS (SELECT doc_id, sum(c) AS n, count(*) AS d FROM c3 GROUP BY 1)
         |SELECT t.doc_id,
         |  coalesce((m2.n - m2.d)::DOUBLE / m2.n::DOUBLE, 0.0) AS dup_2gram_frac,
         |  coalesce((m3.n - m3.d)::DOUBLE / m3.n::DOUBLE, 0.0) AS dup_3gram_frac,
         |  coalesce(m2.m::DOUBLE / m2.n::DOUBLE, 0.0) AS top_2gram_frac
         |FROM t LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)""".stripMargin),
    // corpus-level unigram-LM quality score (CCNet-style): ln is the one
    // non-exact-IEEE op in the chain, so the mean rounds at 6 dp (values
    // ~O(10), accumulated error ~1e-13 ≪ the 5e-7 boundary)
    QuerySpec("q_txt_unigram", (sp, dir) =>
      graft.text.CorpusStats.unigramLogProb(docs(sp, dir))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"), r(col("logprob"), 6).as("logprob")),
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |c AS (SELECT tok, count(*) AS c FROM u GROUP BY tok),
         |vocab AS (SELECT tok, c FROM c ORDER BY c DESC, tok LIMIT 65536),
         |tot AS (SELECT sum(c)::BIGINT AS total FROM c)
         |SELECT u.doc_id, count(*) AS n_tokens,
         |  sum(CASE WHEN v.c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
         |  round(avg(-ln(coalesce(v.c, 1)::DOUBLE / total::DOUBLE)), 6) + 0.0 AS logprob
         |FROM u LEFT JOIN vocab v USING (tok) CROSS JOIN tot
         |GROUP BY u.doc_id""".stripMargin),
    // TF-IDF top-5 terms per doc; RANKS on the exact double score (ties are
    // exact equal-(tf,df) ties in both engines → term tie-break), rounds
    // only the reported score
    QuerySpec("q_txt_tfidf", (sp, dir) =>
      graft.text.CorpusStats.tfidfTopK(docs(sp, dir), k = 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          r(col("tfidf"), 6).as("tfidf"), col("rank")),
      s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS term FROM t),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM u GROUP BY 1, 2),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, dfq.df,
         |    tf.tf * (ln((n_docs + 1)::DOUBLE / (df + 1)::DOUBLE) + 1.0) AS tfidf
         |  FROM tf JOIN dfq USING (term) CROSS JOIN n
         |),
         |r AS (SELECT *, cast(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank FROM s)
         |SELECT doc_id, term, tf, df, round(tfidf, 6) + 0.0 AS tfidf, rank
         |FROM r WHERE rank <= 5""".stripMargin),

    // ---- dedup ----
    QuerySpec("q_dedup_exact", (sp, dir) => Dedup.exact(docs(sp, dir)),
      """WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents)
        |SELECT content_hash, doc_id,
        |  doc_id = min(doc_id) OVER (PARTITION BY content_hash) AS keep
        |FROM h""".stripMargin),
    QuerySpec("q_dedup_jaccard", (sp, dir) => Dedup.ngramJaccardPairs(docs(sp, dir), k = 3, threshold = 0.05),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS x FROM s),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c, any_value(a.n) AS na, any_value(b.n) AS nb
         |  FROM inv a JOIN inv b ON a.x = b.x AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT id_a, id_b, c::DOUBLE / (na + nb - c)::DOUBLE AS jaccard
         |FROM pairs WHERE c::DOUBLE / (na + nb - c)::DOUBLE >= 0.05""".stripMargin),
    QuerySpec("q_dedup_minhash_sig", (sp, dir) =>
      Dedup.minhashSignatures(docs(sp, dir), k = 3, numHashes = 16)
        .select(col("doc_id"), posexplode(col("sig")).as(Seq("i", "sig"))),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t)
         |SELECT doc_id, i, ${sqlMinhashAt("i")} AS sig
         |FROM s, unnest(generate_series(0, 15)) AS t2(i)""".stripMargin),
    QuerySpec("q_dedup_lsh_pairs", (sp, dir) =>
      Dedup.minhashLshPairs(docs(sp, dir), k = 3, numHashes = 16, bands = 4, estThreshold = 0.25),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |sigs AS (SELECT doc_id, [${sqlMinhashAt("i")} for i in generate_series(0, 15)] AS sig FROM s),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sa, b.sig AS sb
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
         |     OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16]
         |)
         |SELECT id_a, id_b,
         |  len(list_filter([sa[i] = sb[i] for i in generate_series(1, 16)], x -> x))::DOUBLE / 16 AS est_jaccard
         |FROM pairs
         |WHERE len(list_filter([sa[i] = sb[i] for i in generate_series(1, 16)], x -> x))::DOUBLE / 16 >= 0.25""".stripMargin),
    QuerySpec("q_dedup_simhash", (sp, dir) => Dedup.simhash(docs(sp, dir)),
      s"""WITH tok AS (SELECT doc_id, unnest($sqlWordHashes) AS h1 FROM documents),
         |wide AS (SELECT doc_id, h1 * 2147483648 + ((h1 * 506952114) % $P + 97531) % $P AS h FROM tok),
         |bits AS (
         |  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
         |  FROM wide, unnest(generate_series(0, 61)) AS t(b)
         |),
         |votes AS (SELECT doc_id, b, sum(vote) AS s FROM bits GROUP BY 1, 2)
         |SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
         |FROM votes GROUP BY doc_id""".stripMargin),
    // SimHash pair search: pigeonhole bands ⇒ recall 1.0 at the budget
    // (h = 3, the library default — see the budget-economics scaladoc)
    QuerySpec("q_dedup_simhash_pairs", (sp, dir) => Dedup.simhashHammingPairs(docs(sp, dir), maxHamming = 3),
      {
        // pigeonhole bands over 62 bits — generated from the SAME
        // Dedup.bandLayout the Spark operator uses, so offsets/widths can
        // never drift between the engines
        val maxHamming = 3
        val bands = maxHamming + 1
        val bandExpr = Dedup.bandLayout(62, bands).zipWithIndex.map { case ((off, bits), b) =>
          s"WHEN b = $b THEN (simhash >> $off) & ${(1L << bits) - 1}"
        }.mkString("CASE ", " ", " END")
        s"""WITH tok AS (SELECT doc_id, unnest($sqlWordHashes) AS h1 FROM documents),
           |wide AS (SELECT doc_id, h1 * 2147483648 + ((h1 * 506952114) % $P + 97531) % $P AS h FROM tok),
           |bits AS (
           |  SELECT doc_id, b, CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END AS vote
           |  FROM wide, unnest(generate_series(0, 61)) AS t(b)
           |),
           |votes AS (SELECT doc_id, b, sum(vote) AS s FROM bits GROUP BY 1, 2),
           |sim AS (SELECT doc_id, cast(sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0 END) AS BIGINT) AS simhash
           |        FROM votes GROUP BY doc_id),
           |banded AS (SELECT doc_id, b, $bandExpr AS bb FROM sim, unnest(generate_series(0, ${bands - 1})) AS t(b)),
           |cand AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM banded l JOIN banded r ON l.b = r.b AND l.bb = r.bb AND l.doc_id < r.doc_id
           |)
           |SELECT id_a, id_b, cast(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
           |FROM cand JOIN sim sa ON sa.doc_id = cand.id_a JOIN sim sb ON sb.doc_id = cand.id_b
           |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $maxHamming""".stripMargin
      }),
    // duplicate-cluster resolution over the LSH candidate pairs (connected
    // components, min-id canonical representative)
    QuerySpec("q_dedup_clusters", (sp, dir) => {
      val d = docs(sp, dir)
      Dedup.dupClusters(
        Dedup.minhashLshPairs(d, k = 3, numHashes = 16, bands = 4, estThreshold = 0.25), d)
    },
      s"""$sqlClusterCtes
         |SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id,
         |       coalesce(l.label, d.doc_id) = d.doc_id AS keep
         |FROM documents d LEFT JOIN lab l ON l.node = d.doc_id""".stripMargin),
    // quality-aware representative election over the same clusters: keep
    // the highest-quality member, not the smallest id
    QuerySpec("q_dedup_keep_best", (sp, dir) => {
      val d = docs(sp, dir)
      val clusters = Dedup.dupClusters(
        Dedup.minhashLshPairs(d, k = 3, numHashes = 16, bands = 4, estThreshold = 0.25), d)
      val scores = TextFeatures.withQuality(d).select(col("doc_id"), col("quality_score").as("score"))
      Dedup.keepBest(clusters, scores)
        .select(col("doc_id"), col("cluster_id"), col("score"), col("keep_best"))
    },
      // same cluster CTEs + the quality score — representative = max score,
      // doc_id tie-break (op-for-op mirror of Dedup.keepBest's window)
      s"""$sqlClusterCtes,
         |cl AS (
         |  SELECT d.doc_id, coalesce(l.label, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab l ON l.node = d.doc_id),
         |$sqlQualityScoreCte
         |SELECT cl.doc_id, cl.cluster_id, qs.quality_score AS score,
         |  row_number() OVER (PARTITION BY cl.cluster_id
         |    ORDER BY qs.quality_score DESC NULLS LAST, cl.doc_id ASC) = 1 AS keep_best
         |FROM cl LEFT JOIN qs ON qs.doc_id = cl.doc_id""".stripMargin),

    // span-level decontamination: the token positions at which corpus docs
    // match benchmark shingles (the scrub-stage view of q_dedup_decontam)
    QuerySpec("q_dedup_decontam_spans", (sp, dir) => {
      val d = docs(sp, dir)
      Dedup.contaminationSpans(d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20), k = 3)
    },
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |bench AS (SELECT DISTINCT unnest(sh) AS x FROM s WHERE doc_id < 20),
         |pos AS (
         |  SELECT doc_id, cast(i - 1 AS INT) AS tok_pos,
         |    (((wh[i] * 31 + wh[i+1]) % $P) * 31 + wh[i+2]) % $P AS x
         |  FROM t, unnest(generate_series(1, len(wh) - 2)) AS g(i)
         |  WHERE doc_id >= 20
         |)
         |SELECT pos.doc_id, pos.tok_pos, pos.x AS sh
         |FROM pos JOIN bench USING (x)""".stripMargin),
    // corpus-internal boilerplate spans: token positions of 3-shingles with
    // document frequency ≥ 5 (the fixed-n-gram exact-substring-dedup view)
    QuerySpec("q_dedup_boilerplate", (sp, dir) =>
      Dedup.boilerplateSpans(docs(sp, dir), minDf = 5),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |s AS (SELECT doc_id, $sqlShingles AS sh FROM t),
         |inv AS (SELECT doc_id, unnest(sh) AS x FROM s),
         |hot AS (SELECT x, count(*) AS df FROM inv GROUP BY x HAVING count(*) >= 5),
         |pos AS (
         |  SELECT doc_id, cast(i - 1 AS INT) AS tok_pos,
         |    (((wh[i] * 31 + wh[i+1]) % $P) * 31 + wh[i+2]) % $P AS x
         |  FROM t, unnest(generate_series(1, len(wh) - 2)) AS g(i)
         |)
         |SELECT pos.doc_id, pos.tok_pos, pos.x AS sh, hot.df
         |FROM pos JOIN hot USING (x)""".stripMargin),
    // substring-level dedup: per-doc maximal repeated-span stats (3-token
    // shingles occurring ≥ 2 times corpus-wide, within-doc repeats count,
    // overlapping slots merged) — Lee et al. ExactSubstr coverage
    QuerySpec("q_dedup_substr_scrub", (sp, dir) =>
      Dedup.scrubRepeatedSpans(docs(sp, dir), k = 3, minOcc = 2),
      // gaps-and-islands mirror of the engine's sorted-slot fold: a slot
      // at-or-past the previous slot + k breaks a span (touching intervals
      // stay distinct, same law as the aggregate fold); island coverage =
      // max(start)+k − min(start) because consecutive in-island slots
      // overlap (gap < k)
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |pos AS (
         |  SELECT doc_id, cast(i - 1 AS INT) AS tok_pos,
         |    (((wh[i] * 31 + wh[i+1]) % $P) * 31 + wh[i+2]) % $P AS x
         |  FROM t, unnest(generate_series(1, len(wh) - 2)) AS g(i)
         |),
         |occ AS (SELECT x FROM pos GROUP BY x HAVING count(*) >= 2),
         |cov AS (SELECT doc_id, tok_pos FROM pos JOIN occ USING (x)),
         |w AS (SELECT doc_id, tok_pos,
         |        CASE WHEN lag(tok_pos) OVER (PARTITION BY doc_id ORDER BY tok_pos) IS NULL
         |               OR tok_pos >= lag(tok_pos) OVER (PARTITION BY doc_id ORDER BY tok_pos) + 3
         |             THEN 1 ELSE 0 END AS brk
         |      FROM cov),
         |g AS (SELECT doc_id, tok_pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY tok_pos) AS grp FROM w),
         |isl AS (SELECT doc_id, grp, min(tok_pos) AS s0, max(tok_pos) + 3 AS e0 FROM g GROUP BY 1, 2),
         |agg AS (SELECT doc_id, count(*)::INT AS n_spans, sum(e0 - s0)::INT AS n_removed FROM isl GROUP BY 1)
         |SELECT t.doc_id, len(wh)::INT AS n_tok,
         |  coalesce(n_spans, 0)::INT AS n_spans,
         |  coalesce(n_removed, 0)::INT AS n_removed,
         |  (len(wh) - coalesce(n_removed, 0))::INT AS n_kept
         |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin),
    // benchmark decontamination: docs (id ≥ 20) sharing any 3-shingle with
    // the pretend eval set (id < 20)
    QuerySpec("q_dedup_decontam", (sp, dir) => {
      val d = docs(sp, dir)
      Dedup.contaminatedDocs(d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20), k = 3)
    },
      // ONE oracle per decontamination semantics — the broadcast-exact and
      // bloom-prefilter formulations verify against the same SQL
      decontamSql),
    // same decontamination through the Bloom-prefilter + exact-confirm
    // path (huge-benchmark memory law); EXACT output → same oracle
    QuerySpec("q_dedup_decontam_bloom", (sp, dir) => {
      val d = docs(sp, dir)
      Dedup.contaminatedDocsBloom(d.where(col("doc_id") >= 20), d.where(col("doc_id") < 20), k = 3)
    },
      decontamSql),

    // ---- similarity ----
    QuerySpec("q_sim_topk", (sp, dir) => {
      val e = embs(sp, dir)
      Similarity.cosineTopK(
        e.where(col("vec_id") < 30).select(col("vec_id").as("query_id"), col("embedding")),
        e, k = 5
      )
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 30),
         |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.vec_id,
         |    round(${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})), 6) + 0.0 AS cosine
         |  FROM c, q WHERE q.query_id != c.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin),
    // LSH path: portable hash planes ⇒ full DuckDB oracle (bucket-exact)
    QuerySpec("q_sim_lsh_topk", (sp, dir) => {
      val e = embs(sp, dir)
      Similarity.lshTopK(
        e.where(col("vec_id") < 30).select(col("vec_id").as("query_id"), col("embedding")),
        e, k = 5, planes = 6
      )
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, ${sqlLshBucket("embedding", 6)} AS bucket
         |           FROM embeddings WHERE vec_id < 30),
         |c AS (SELECT vec_id, embedding AS cv, ${sqlLshBucket("embedding", 6)} AS bucket FROM embeddings),
         |scored AS (
         |  SELECT q.query_id, c.vec_id,
         |    round(${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})), 6) + 0.0 AS cosine
         |  FROM c JOIN q USING (bucket) WHERE q.query_id != c.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin),
    // multi-probe LSH: query bucket + the 2 lowest-margin Hamming-1
    // neighbors (margins, sort, flips all mirrored exactly in SQL)
    QuerySpec("q_sim_lsh_multiprobe", (sp, dir) => {
      val e = embs(sp, dir)
      Similarity.lshTopK(
        e.where(col("vec_id") < 8).select(col("vec_id").as("query_id"), col("embedding")),
        e, k = 5, planes = 8, nProbe = 3
      )
    },
      {
        val planes = 8
        val margins = (0 until planes)
          .map(p => s"{'m': abs(${sqlLshPlaneSum("embedding", p)}), 'p': $p}")
          .mkString("[", ", ", "]")
        s"""WITH q0 AS (SELECT vec_id AS query_id, embedding AS qv,
           |             ${sqlLshBucket("embedding", planes)} AS bucket,
           |             list_sort($margins) AS ms
           |           FROM embeddings WHERE vec_id < 8),
           |q AS (SELECT query_id, qv,
           |        unnest([bucket, xor(bucket, 1::BIGINT << ms[1].p), xor(bucket, 1::BIGINT << ms[2].p)]) AS bucket
           |      FROM q0),
           |c AS (SELECT vec_id, embedding AS cv, ${sqlLshBucket("embedding", planes)} AS bucket FROM embeddings),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    round(${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})), 6) + 0.0 AS cosine
           |  FROM c JOIN q USING (bucket) WHERE q.query_id != c.vec_id
           |), ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored
           |)
           |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
      }),
    // IVF path: portable seed hash + order-deterministic Lloyd folds ⇒ the
    // DuckDB oracle re-derives the centroids bit-for-bit (2 unrolled rounds)
    QuerySpec("q_sim_ivf_topk", (sp, dir) => {
      val e = embs(sp, dir)
      Similarity.ivfTopK(
        e.where(col("vec_id") < 30).select(col("vec_id").as("query_id"), col("embedding")),
        e, k = 5, nCentroids = 16, nProbe = 4
      )
    },
      {
        // op-for-op mirror of Similarity.ivfTopK(nCentroids=16, nProbe=4,
        // k=5, 2 Lloyd rounds): affine-ranked seeds, argmin assignment on
        // d = v·v − 2 v·c + c·c, ascending-id member folds for the means —
        // every arithmetic step bitwise-identical to the Spark plan
        val dist = s"${sqlDot("vd", "vd")} - 2.0 * ${sqlDot("vd", "c")} + ${sqlDot("c", "c")}"
        def assign(src: String, cents: String, out: String) =
          s"""$out AS (
             |  SELECT vec_id, vd, centroid_id FROM (
             |    SELECT e2.vec_id, e2.vd, ct.centroid_id,
             |      row_number() OVER (PARTITION BY e2.vec_id ORDER BY $dist, ct.centroid_id) AS rn
             |    FROM $src e2 CROSS JOIN $cents ct
             |  ) WHERE rn = 1
             |)""".stripMargin
        def mean(src: String, out: String) =
          s"""$out AS (
             |  SELECT centroid_id, list(m ORDER BY i) AS c FROM (
             |    SELECT centroid_id, i,
             |      list_reduce(list(vd[i] ORDER BY vec_id), (x, y) -> x + y) / count(*) AS m
             |    FROM $src, unnest(generate_series(1, len(vd))) AS g(i)
             |    GROUP BY centroid_id, i
             |  ) GROUP BY centroid_id
             |)""".stripMargin
        val qdist = s"${sqlDot("qd", "qd")} - 2.0 * ${sqlDot("qd", "c")} + ${sqlDot("c", "c")}"
        s"""WITH e AS (SELECT vec_id, embedding AS v, list_transform(embedding, x -> x::DOUBLE) AS vd FROM embeddings),
           |etr AS (
           |  -- Lloyd training subsample (trainCap = 65536, the Spark default;
           |  -- inactive at test scale but mirrored so parity survives growth)
           |  SELECT vec_id, v, vd FROM e
           |  WINDOW w AS (ORDER BY ((vec_id % $P) * 506952114 % $P + 40503) % $P, vec_id)
           |  QUALIFY row_number() OVER w <= 65536
           |),
           |seeds AS (
           |  SELECT row_number() OVER w - 1 AS centroid_id, vd AS c
           |  FROM etr
           |  WINDOW w AS (ORDER BY ((vec_id % $P) * 506952114 % $P + 40503) % $P, vec_id)
           |  QUALIFY row_number() OVER w <= 16
           |),
           |${assign("etr", "seeds", "a1")},
           |${mean("a1", "m1")},
           |${assign("etr", "m1", "a2")},
           |${mean("a2", "m2")},
           |${assign("e", "m2", "af")},
           |lists AS (
           |  SELECT af.vec_id, af.centroid_id, e3.v AS cv
           |  FROM af JOIN e e3 USING (vec_id)
           |),
           |q AS (SELECT vec_id AS query_id, v AS qv, vd AS qd FROM e WHERE vec_id < 30),
           |pr AS (
           |  SELECT query_id, qv, centroid_id FROM (
           |    SELECT q.query_id, q.qv, m2.centroid_id,
           |      row_number() OVER (PARTITION BY q.query_id ORDER BY $qdist, m2.centroid_id) AS rn
           |    FROM q CROSS JOIN m2
           |  ) WHERE rn <= 4
           |),
           |scored AS (
           |  SELECT pr.query_id, l.vec_id,
           |    round(${sqlDot("qv", "cv")} / (sqrt(${sqlDot("qv", "qv")}) * sqrt(${sqlDot("cv", "cv")})), 6) + 0.0 AS cosine
           |  FROM lists l JOIN pr USING (centroid_id)
           |  WHERE pr.query_id != l.vec_id
           |),
           |ranked AS (
           |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored
           |)
           |SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin
      }),

    // ---- embedding near-duplicate pairs ----
    // banded-LSH candidates + exact re-rank (the 100-TB shape); the oracle
    // mirrors the same portable buckets, so the match is exact. rowsPerBand
    // is pinned at 2 (wide buckets) because the test threshold 0.2 sits far
    // below real near-dup similarity — see the sizing law in the scaladoc
    QuerySpec("q_dedup_embed", (sp, dir) =>
      Dedup.embeddingNearDupPairs(embs(sp, dir), threshold = 0.2, bands = 8, rowsPerBand = 2)
        .select(col("id_a"), col("id_b"), r(col("cosine"), 6).as("cosine")),
      s"""WITH bk AS (SELECT vec_id, ${sqlLshBucket("embedding", 16)} AS bucket FROM embeddings),
         |banded AS (SELECT vec_id, b, (bucket >> (b * 2)) & 3 AS bb FROM bk, unnest(generate_series(0, 7)) AS t(b)),
         |cand AS (
         |  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bb = r.bb AND l.vec_id < r.vec_id
         |),
         |av AS (SELECT vec_id, embedding AS va FROM embeddings),
         |bv AS (SELECT vec_id, embedding AS vb FROM embeddings),
         |scored AS (
         |  SELECT id_a, id_b, ${sqlDot("va", "vb")} / (sqrt(${sqlDot("va", "va")}) * sqrt(${sqlDot("vb", "vb")})) AS c
         |  FROM cand JOIN av ON av.vec_id = cand.id_a JOIN bv ON bv.vec_id = cand.id_b
         |)
         |SELECT id_a, id_b, round(c, 6) + 0.0 AS cosine FROM scored WHERE c >= 0.2""".stripMargin),
    // all-pairs reference path (exact = true), kept oracle-checked
    QuerySpec("q_dedup_embed_exact", (sp, dir) =>
      Dedup.embeddingNearDupPairs(embs(sp, dir), threshold = 0.2, exact = true)
        .select(col("id_a"), col("id_b"), r(col("cosine"), 6).as("cosine")),
      s"""WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
         |b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings),
         |scored AS (
         |  SELECT id_a, id_b, ${sqlDot("va", "vb")} / (sqrt(${sqlDot("va", "va")}) * sqrt(${sqlDot("vb", "vb")})) AS c
         |  FROM a JOIN b ON id_a < id_b
         |)
         |SELECT id_a, id_b, round(c, 6) + 0.0 AS cosine FROM scored WHERE c >= 0.2""".stripMargin),

    // ---- multimodal plumbing (stub codec; see Multimodal scaladoc) ----
    QuerySpec("q_mm_decode", (sp, dir) =>
      Multimodal.decodeFeatures(media(sp, dir))
        .select(col("id"), col("modality"), col("width"), col("height"),
          col("mean_luma"), col("n_bytes")),
      s"""$MediaSql
         |SELECT id, modality, width, height,
         |  CASE WHEN length(t) = 0 THEN 0.0 ELSE
         |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), (a, b) -> a + b)::DOUBLE / length(t)
         |  END AS mean_luma,
         |  length(t)::INT AS n_bytes
         |FROM m""".stripMargin),
    QuerySpec("q_mm_resize", (sp, dir) =>
      Multimodal.withResizePlan(media(sp, dir), 512, 512)
        .select(col("id"), col("meta.width").as("width"), col("meta.height").as("height"),
          col("target_width"), col("target_height")),
      s"""$MediaSql
         |SELECT id, width, height,
         |  floor(width * least(512.0 / width, 512.0 / height, 1.0))::INT AS target_width,
         |  floor(height * least(512.0 / width, 512.0 / height, 1.0))::INT AS target_height
         |FROM m""".stripMargin),
    QuerySpec("q_mm_frames", (sp, dir) =>
      Multimodal.sampleFrames(media(sp, dir), 1000)
        .groupBy(col("id")).agg(count(lit(1)).as("n_frames")),
      s"""$MediaSql
         |SELECT id, ((duration_ms - 1) // 1000 + 1)::BIGINT AS n_frames
         |FROM m WHERE modality = 'video'""".stripMargin),
    // REAL codec through the decode seam (VERDICT r3 stretch): payloads are
    // genuine binary-PGM images (header + raster = the ASCII text bytes as
    // a 1-row gray image); PgmCodec PARSES the header — the output width
    // is len(text), NOT the declared meta width, so a green oracle proves
    // actual bytes were decoded rather than metadata echoed.
    QuerySpec("q_mm_decode_pgm", (sp, dir) => {
      val t = regexp_replace(col("text"), "[^ -~]", "")
      val pgm = docs(sp, dir).select(
        col("doc_id").as("id"),
        lit("image").as("modality"),
        concat(
          encode(format_string("P5\n%d 1\n255\n", length(t)), "UTF-8"),
          encode(t, "UTF-8")).as("media"),
        struct(
          (pmod(col("n_chars"), lit(1024)) + 16).cast("int").as("width"),
          (pmod(col("n_chars"), lit(768)) + 16).cast("int").as("height"),
          lit("pgm").as("codec"),
          lit(0).cast("int").as("duration_ms")).as("meta"))
      Multimodal.decodeFeatures(pgm, Multimodal.PgmCodec)
        .select(col("id"), col("width"), col("height"), col("mean_luma"), col("n_bytes"))
    },
      // decoded dims come from the PGM header: width = raster length =
      // len(t), height = 1; n_bytes = 10 fixed header bytes ("P5\n",
      // " 1\n255\n") + width digits + raster
      s"""$MediaSql
         |SELECT id, length(t)::INT AS width, 1::INT AS height,
         |  CASE WHEN length(t) = 0 THEN 0.0 ELSE
         |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), (a, b) -> a + b)::DOUBLE / length(t)
         |  END AS mean_luma,
         |  (10 + length(length(t)::VARCHAR) + length(t))::INT AS n_bytes
         |FROM m""".stripMargin),
    // SECOND real codec (VERDICT r4 #7): payloads are genuine uncompressed
    // 24-bit BMPs (LE headers, 4-byte row padding — one w×1 gray row per
    // doc, B=G=R=char byte); BmpCodec PARSES the binary header — width
    // comes from the LE int32 at offset 18, NOT the declared meta, and
    // mean_luma averages the padded raster's channel bytes, so a green
    // oracle proves real byte-level decoding through the same seam.
    QuerySpec("q_mm_decode_bmp", (sp, dir) => {
      val t = regexp_replace(col("text"), "[^ -~]", "")
      val w = length(t)
      val padN = pmod(lit(4) - pmod(w * 3, lit(4)), lit(4))
      val raster = w * 3 + padN
      val padBytes = unhex(
        when(padN === 1, lit("00")).when(padN === 2, lit("0000"))
          .when(padN === 3, lit("000000")).otherwise(lit("")))
      val bmp = docs(sp, dir).select(
        col("doc_id").as("id"),
        lit("image").as("modality"),
        concat(
          encode(lit("BM"), "UTF-8"),
          le32(raster + lit(54)),       // bfSize
          unhex(lit("00000000")),       // bfReserved1/2
          le32(lit(54)),                // bfOffBits
          le32(lit(40)),                // biSize
          le32(w),                      // biWidth  ← what the codec must read
          le32(lit(1)),                 // biHeight (bottom-up)
          unhex(lit("0100")),           // biPlanes = 1 (LE16)
          unhex(lit("1800")),           // biBitCount = 24 (LE16)
          le32(lit(0)),                 // biCompression = BI_RGB
          le32(raster),                 // biSizeImage
          le32(lit(0)), le32(lit(0)),   // biXPelsPerMeter / biYPelsPerMeter
          le32(lit(0)), le32(lit(0)),   // biClrUsed / biClrImportant
          encode(regexp_replace(t, "(.)", "$1$1$1"), "UTF-8"), // BGR gray row
          padBytes).as("media"),
        struct(
          (pmod(col("n_chars"), lit(1024)) + 16).cast("int").as("width"), // decoy
          (pmod(col("n_chars"), lit(768)) + 16).cast("int").as("height"), // decoy
          lit("bmp").as("codec"),
          lit(0).cast("int").as("duration_ms")).as("meta"))
      Multimodal.decodeFeatures(bmp, Multimodal.BmpCodec)
        .select(col("id"), col("width"), col("height"), col("mean_luma"), col("n_bytes"))
    },
      // decoded dims come from the BMP LE header: width = pixel count =
      // len(t), height = 1; luma = Σ(3 copies of each char byte + zero
      // row padding, padding EXCLUDED by the codec) / (3·w) = the char
      // mean exactly (3s/3w and s/w round the same rational);
      // n_bytes = 54-byte header + 3·w raster padded to a 4-byte boundary
      s"""$MediaSql
         |SELECT id, length(t)::INT AS width, 1::INT AS height,
         |  CASE WHEN length(t) = 0 THEN 0.0 ELSE
         |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(t, ''), c -> ascii(c)::BIGINT)), (a, b) -> a + b)::DOUBLE / length(t)
         |  END AS mean_luma,
         |  (54 + ((3 * length(t) + 3) // 4) * 4)::INT AS n_bytes
         |FROM m""".stripMargin),
    // THIRD real codec, SECOND modality (audio): payloads are genuine
    // RIFF/WAVE PCM files — one mono signed-16-bit sample per printable
    // char, v = (ascii − 79)·256, plus a junk 'cue ' chunk between 'fmt '
    // and 'data' that the codec must SKIP; frames/channels/mean all come
    // from walking the chunk bytes, so a green oracle proves real
    // byte-level audio decoding through the same seam.
    QuerySpec("q_mm_decode_wav", (sp, dir) => {
      val t = regexp_replace(col("text"), "[^ -~]", "")
      val n = length(t)
      val samples = unhex(concat_ws("",
        transform(split(t, ""), c => le16hex((ascii(c) - lit(79)) * lit(256)))))
      val wav = docs(sp, dir).select(
        col("doc_id").as("id"),
        lit("audio").as("modality"),
        concat(
          encode(lit("RIFF"), "UTF-8"),
          le32(n * 2 + lit(48)),            // WAVE + fmt(24) + cue(12) + data hdr(8) + samples
          encode(lit("WAVE"), "UTF-8"),
          encode(lit("fmt "), "UTF-8"), le32(lit(16)),
          unhex(lit("0100")),               // PCM
          unhex(lit("0100")),               // 1 channel
          le32(lit(8000)),                  // sample rate
          le32(lit(16000)),                 // byte rate
          unhex(lit("0200")),               // block align
          unhex(lit("1000")),               // 16 bits
          encode(lit("cue "), "UTF-8"), le32(lit(4)), unhex(lit("DEADBEEF")), // junk: must be skipped
          encode(lit("data"), "UTF-8"), le32(n * 2),
          samples).as("media"),
        struct(
          (pmod(col("n_chars"), lit(1024)) + 16).cast("int").as("width"), // decoy
          (pmod(col("n_chars"), lit(768)) + 16).cast("int").as("height"), // decoy
          lit("wav").as("codec"),
          lit(0).cast("int").as("duration_ms")).as("meta"))
      Multimodal.decodeFeatures(wav, Multimodal.WavCodec)
        .select(col("id"), col("width").as("n_frames"), col("height").as("n_channels"),
          col("mean_luma").as("mean_sample"), col("n_bytes"))
    },
      // decoded numbers come from walking the RIFF chunks: frames = mono
      // sample count = len(t), channels = 1, mean = Σ(ascii−79)·256 / n
      // (exact integer sum then one divide — same rational both engines);
      // n_bytes = 12 RIFF/WAVE + 24 fmt + 12 junk cue + 8 data hdr + 2n
      s"""$MediaSql
         |SELECT id, length(t)::INT AS n_frames, 1::INT AS n_channels,
         |  CASE WHEN length(t) = 0 THEN 0.0 ELSE
         |    list_reduce(list_prepend(0::BIGINT, list_transform(string_split(t, ''), c -> (ascii(c) - 79)::BIGINT * 256)), (a, b) -> a + b)::DOUBLE / length(t)
         |  END AS mean_sample,
         |  (56 + 2 * length(t))::INT AS n_bytes
         |FROM m""".stripMargin),

    // ---- deterministic sampling + sequence packing ----
    QuerySpec("q_smp_hash", (sp, dir) =>
      graft.sample.Sampling.byHash(docs(sp, dir), fraction = 0.1, key = "doc_id")
        .select(col("doc_id"), col("lang")),
      {
        // derive the affine pair exactly as TextHash.affine(x, 0) does
        val a = 2654435761L % TextHash.P * (2 * 0 + 1) % TextHash.P
        val b = (40503L * (0 + 1)) % TextHash.P
        s"""SELECT doc_id, lang FROM documents
           |WHERE ((doc_id % $P) * $a % $P + $b) % $P % 1000000 < ${(0.1 * 1000000).toLong}""".stripMargin
      }),
    QuerySpec("q_smp_stratified", (sp, dir) =>
      graft.sample.Sampling.stratified(docs(sp, dir), "lang",
          Map("en" -> 0.5, "de" -> 0.2), key = "doc_id", defaultFraction = 0.05)
        .select(col("doc_id"), col("lang")),
      {
        val a = 2654435761L % TextHash.P * (2 * 0 + 1) % TextHash.P
        val b = (40503L * (0 + 1)) % TextHash.P
        s"""SELECT doc_id, lang FROM documents
           |WHERE ((doc_id % $P) * $a % $P + $b) % $P % 1000000 <
           |  CASE WHEN lang = 'en' THEN ${(0.5 * 1000000).toLong}
           |       WHEN lang = 'de' THEN ${(0.2 * 1000000).toLong}
           |       ELSE ${(0.05 * 1000000).toLong} END""".stripMargin
      }),
    // per-domain frequency cap: at most 15 docs per source, best-first by
    // (n_chars desc, doc_id asc) — the WindowGroupLimit map-side top-n
    QuerySpec("q_smp_cap", (sp, dir) =>
      graft.sample.Sampling.capPerKey(docs(sp, dir), "source", 15,
          Seq(col("n_chars").desc, col("doc_id").asc))
        .select(col("doc_id"), col("source"), col("n_chars")),
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id ASC) AS rn
        |  FROM documents)
        |WHERE rn <= 15""".stripMargin),
    // temperature-scaled mixture (τ = 0.5 → sqrt weights, bit-portable):
    // up-weights the tail languages, overall keep rate 20%
    QuerySpec("q_smp_mixture", (sp, dir) =>
      graft.sample.Sampling.byMixture(docs(sp, dir), "lang",
          temperature = 0.5, targetFraction = 0.2, key = "doc_id")
        .select(col("doc_id"), col("lang")),
      {
        // τ = 0.5 mixture over lang at overall rate 0.2 — sqrt/÷/× are all
        // correctly-rounded IEEE ops and the weight fold is ORDER-FIXED
        // (strata ascending), so thresholds are bit-identical cross-engine
        val a = 2654435761L % TextHash.P * (2 * 0 + 1) % TextHash.P
        val b = (40503L * (0 + 1)) % TextHash.P
        s"""WITH n AS (SELECT lang AS s, count(*)::BIGINT AS n FROM documents GROUP BY 1),
           |tot AS (SELECT sum(n)::BIGINT AS nt FROM n),
           |w AS (SELECT s, n, sqrt(n::DOUBLE / nt::DOUBLE) AS w FROM n, tot),
           |sw AS (SELECT list_reduce(list_prepend(0.0::DOUBLE, list(w ORDER BY s ASC)), (x, y) -> x + y) AS sumw FROM w),
           |f AS (SELECT s, CAST(floor(least(1.0, 0.2 * (w / sumw) * nt::DOUBLE / n::DOUBLE) * 1000000) AS BIGINT) AS thr
           |      FROM w, sw, tot)
           |SELECT d.doc_id, d.lang FROM documents d JOIN f ON f.s = d.lang
           |WHERE ((doc_id % $P) * $a % $P + $b) % $P % 1000000 < f.thr""".stripMargin
      }),
    // per-source quality gate: keep the best 40% of each source by
    // quality_score (exact rank mode — the oracle-checkable path; the
    // 100-TB default is the approx_percentile threshold mode)
    QuerySpec("q_txt_quality_gate", (sp, dir) =>
      graft.text.CorpusStats.qualityGate(
          TextFeatures.withQuality(docs(sp, dir)), "quality_score", "source",
          keepFraction = 0.4, exact = true)
        .select(col("doc_id"), col("source"), col("quality_score")),
      s"""WITH $sqlQualityScoreCte,
         |g AS (
         |  SELECT doc_id, source, quality_score,
         |    row_number() OVER (PARTITION BY source ORDER BY quality_score DESC NULLS LAST, doc_id ASC) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM qs)
         |SELECT doc_id, source, quality_score FROM g WHERE rn <= ceil(0.4 * n)""".stripMargin),
    // per-source quality quartiles (ANSI ntile — the curriculum/mixing view)
    QuerySpec("q_txt_quality_tiers", (sp, dir) =>
      graft.text.CorpusStats.qualityTiers(
          TextFeatures.withQuality(docs(sp, dir)), "quality_score", "source", tiers = 4)
        .select(col("doc_id"), col("source"), col("tier")),
      s"""WITH $sqlQualityScoreCte
         |SELECT doc_id, source,
         |  ntile(4) OVER (PARTITION BY source ORDER BY quality_score DESC NULLS LAST, doc_id ASC)::INT AS tier
         |FROM qs""".stripMargin),
    // context-window chunking with overlap: maxLen 128, overlap 16; emits
    // the actual token slices (chunk concatenation at overlap 0 is the
    // round-trip invariant — TokenChunkSpec)
    QuerySpec("q_tok_chunks", (sp, dir) => {
      val seqs = docs(sp, dir)
        .select(col("doc_id"), TextHash.tokenHashes(col("text")).as("tokens"))
        .withColumn("n_tok", size(col("tokens")))
      graft.sample.TokenPacking.chunkTokens(seqs, "tokens", maxLen = 128, overlap = 16)
        .select(col("doc_id"), col("chunk_id"), col("tok_start"), col("tok_len"),
          posexplode(col("chunk_tokens")).as(Seq("pos", "token")))
        .withColumn("pos", col("pos").cast("long"))
    },
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |n AS (SELECT doc_id, wh, len(wh)::BIGINT AS n FROM t WHERE len(wh) > 0),
         |c AS (SELECT doc_id, wh, n, g.i AS chunk_id
         |      FROM n, unnest(generate_series(0, greatest(0::BIGINT, CAST(floor((n - 128 + 111)::DOUBLE / 112) AS BIGINT)))) AS g(i)),
         |ch AS (SELECT doc_id, wh, chunk_id, chunk_id * 112 AS tok_start, least(128, n - chunk_id * 112) AS tok_len FROM c)
         |SELECT doc_id, chunk_id, tok_start, tok_len, p.j - 1 AS pos, wh[(tok_start + p.j)::INT] AS token
         |FROM ch, unnest(generate_series(1, tok_len)) AS p(j)""".stripMargin),
    QuerySpec("q_tok_packing", (sp, dir) => {
      val seqs = docs(sp, dir).select(
        col("doc_id"), col("lang").as("source"),
        size(TextHash.tokenHashes(col("text"))).as("n_tok"))
      graft.sample.TokenPacking.contiguous(seqs, budget = 2048)
        .select(col("doc_id"), col("source"), col("n_tok"), col("bin_id"), col("bin_offset"))
    },
      s"""WITH t AS (SELECT doc_id, lang AS source, len($sqlWordHashes) AS n_tok FROM documents),
         |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t)
         |SELECT doc_id, source, n_tok,
         |  cast(floor((cum - n_tok)::DOUBLE / 2048) AS BIGINT) AS bin_id,
         |  cast(cum - n_tok AS BIGINT) AS bin_offset
         |FROM c""".stripMargin),
    // the bins MATERIALIZED: per-(source, bin) concatenated token sequence
    QuerySpec("q_tok_packed", (sp, dir) => {
      val seqs = docs(sp, dir).select(
          col("doc_id"), col("lang").as("source"),
          TextHash.tokenHashes(col("text")).as("tokens"))
        .withColumn("n_tok", size(col("tokens")))
      graft.sample.TokenPacking.packSequences(seqs, budget = 2048)
        .select(col("source"), col("bin_id"), col("n_docs"), col("n_tokens"),
          posexplode(col("packed")).as(Seq("pos", "token")))
        .withColumn("pos", col("pos").cast("long"))
    },
      s"""WITH t AS (SELECT doc_id, lang AS source, $sqlWordHashes AS wh FROM documents),
         |c AS (SELECT *, sum(len(wh)) OVER (PARTITION BY source ORDER BY doc_id) AS cum FROM t),
         |b AS (SELECT doc_id, source, wh,
         |        cast(floor((cum - len(wh))::DOUBLE / 2048) AS BIGINT) AS bin_id FROM c),
         |p AS (SELECT source, bin_id, count(*)::BIGINT AS n_docs,
         |        flatten(list(wh ORDER BY doc_id)) AS packed
         |      FROM b GROUP BY source, bin_id)
         |SELECT source, bin_id, n_docs, len(packed)::BIGINT AS n_tokens,
         |       g.i - 1 AS pos, packed[g.i] AS token
         |FROM p, unnest(generate_series(1, len(packed))) AS g(i)""".stripMargin),

    // ---- BPE merge-candidate scoring: top adjacent token pairs ----
    // (one map-side-combined aggregate + TakeOrdered; ties fully ordered)
    QuerySpec("q_tok_pair_counts", (sp, dir) =>
      graft.text.TokenStats.pairCounts(
          docs(sp, dir).select(col("doc_id"), TextHash.tokenHashes(col("text")).as("tokens")),
          topK = 64),
      s"""WITH t AS (SELECT doc_id, $sqlWordHashes AS wh FROM documents),
         |p AS (
         |  SELECT unnest([{'a': wh[i], 'b': wh[i+1]} for i in generate_series(1, len(wh) - 1)]) AS pr
         |  FROM t WHERE len(wh) >= 2
         |)
         |SELECT pr.a AS tok_a, pr.b AS tok_b, count(*) AS n
         |FROM p GROUP BY 1, 2
         |ORDER BY n DESC, tok_a ASC, tok_b ASC LIMIT 64""".stripMargin),

    // ---- token-grid round trip (north-rule per-row invariant) ----
    QuerySpec("q_tok_roundtrip", (sp, dir) => {
      val seqs = docs(sp, dir).select(
          col("doc_id").cast("string").as("doc_id"),
          TextHash.tokenHashes(col("text")).cast("array<int>").as("tokens"),
          col("lang").as("source"))
        .where(size(col("tokens")) > 0)
        .withColumn("n_tok", size(col("tokens")).cast("int"))
      val (grid, _) = TokenAdapter.explodeTokens(seqs)
      TokenAdapter.reassemble(grid)
        .select(col("doc_id"), posexplode(col("tokens")).as(Seq("pos", "token")))
    },
      s"""WITH t AS (SELECT doc_id::VARCHAR AS doc_id, $sqlWordHashes AS wh FROM documents)
         |SELECT doc_id, i - 1 AS pos, wh[i]::INT AS token
         |FROM t, unnest(generate_series(1, len(wh))) AS g(i)""".stripMargin),

    // ---- kinematic stats: long form (G2's native shape) ----
    // unpivot of the (rounded) wide result; null stats dropped to match
    // DuckDB UNPIVOT's default null exclusion
    QuerySpec("q_stat_long", (sp, dir) =>
      graft.stats.Stats.unpivotLong(statWide(sp, dir), Seq("traj_id")).where(col("value").isNotNull),
      {
        val names = SparkEntry.kinOut.flatMap { case (f, _, _) =>
          Seq(s"p10_$f", s"p25_$f", s"p50_$f", s"p75_$f", s"p90_$f",
            s"min_$f", s"max_$f", s"mean_$f", s"std_$f")
        }
        s"""${SparkEntry.KinSql}, wide AS (
           |SELECT traj_id,
           |$statSelect
           |FROM kin GROUP BY traj_id
           |)
           |UNPIVOT wide ON ${names.map(n => s""""$n"""").mkString(", ")}
           |INTO NAME stat_feature VALUE value""".stripMargin
      }),

    // ---- kinematic stats pivot (G2/G3) ----
    QuerySpec("q_stat_wide", (sp, dir) => statWide(sp, dir),
      s"""${SparkEntry.KinSql}
         |SELECT traj_id,
         |$statSelect
         |FROM kin GROUP BY traj_id""".stripMargin),

    // ---- remaining interpolation modes ----
    // cubic: the oracle solves the SAME not-a-knot tridiagonal system via
    // recursive CTEs (Thomas forward sweep + back substitution) — bit-exact
    QuerySpec("q_ip_cubic", (sp, dir) =>
      Interpolation.cubic(SparkEntry.traj(sp, dir).drop("event_id"), SparkEntry.S.copy(orderCols = Nil), 43200.0)
        .select(col("traj_id"), col("ts"), r(col("lat"), 6).as("lat"), r(col("lon"), 6).as("lon")),
      // full not-a-knot cubic spline IN SQL: the tridiagonal Thomas solve
      // becomes two recursive CTEs (forward sweep, back substitution),
      // mirroring CubicSpline.slopes/eval op-for-op — validated bitwise
      // against the flatMapGroups output (maxdiff 0.0 at sf0.01).
      // MATERIALIZED hints keep the recursion from re-deriving the coef
      // chain per iteration. Assumes strictly-increasing per-entity ts
      // (the sf testdata has no duplicate (entity, ts)); rate = 43200 s.
      (SparkEntry.TrajSql.replaceFirst("WITH traj", "WITH RECURSIVE traj") + """,
        |ded AS MATERIALIZED (
        |  SELECT traj_id, ts, lat, lon,
        |         row_number() OVER (PARTITION BY traj_id ORDER BY ts) - 1 AS i,
        |         epoch_us(ts)::DOUBLE / 1000000.0 AS x
        |  FROM traj
        |),
        |nn AS (SELECT traj_id, count(*) AS n FROM ded GROUP BY traj_id),
        |dxm AS MATERIALIZED (
        |  SELECT d0.traj_id, d0.i,
        |         d1.x - d0.x AS dx,
        |         (d1.lat - d0.lat) / (d1.x - d0.x) AS mlat,
        |         (d1.lon - d0.lon) / (d1.x - d0.x) AS mlon
        |  FROM ded d0 JOIN ded d1 ON d1.traj_id = d0.traj_id AND d1.i = d0.i + 1
        |),
        |ends AS MATERIALIZED (
        |  SELECT nn.traj_id, nn.n,
        |    (x2.x - x0.x) AS d0v,
        |    (xl.x - xl2.x) AS dnv,
        |    a0.dx AS dx0, a1.dx AS dx1, an2.dx AS dxn2, an3.dx AS dxn3,
        |    a0.mlat AS m0lat, a0.mlon AS m0lon, a1.mlat AS m1lat, a1.mlon AS m1lon,
        |    an3.mlat AS mn3lat, an3.mlon AS mn3lon, an2.mlat AS mn2lat, an2.mlon AS mn2lon
        |  FROM nn
        |  JOIN ded x0 ON x0.traj_id = nn.traj_id AND x0.i = 0
        |  JOIN ded x2 ON x2.traj_id = nn.traj_id AND x2.i = 2
        |  JOIN ded xl ON xl.traj_id = nn.traj_id AND xl.i = nn.n - 1
        |  JOIN ded xl2 ON xl2.traj_id = nn.traj_id AND xl2.i = nn.n - 3
        |  JOIN dxm a0 ON a0.traj_id = nn.traj_id AND a0.i = 0
        |  JOIN dxm a1 ON a1.traj_id = nn.traj_id AND a1.i = 1
        |  JOIN dxm an2 ON an2.traj_id = nn.traj_id AND an2.i = nn.n - 2
        |  JOIN dxm an3 ON an3.traj_id = nn.traj_id AND an3.i = nn.n - 3
        |  WHERE nn.n >= 4
        |),
        |coef AS MATERIALIZED (
        |  SELECT d.traj_id, d.i, e.n,
        |    CASE WHEN d.i = 0 THEN 0.0 WHEN d.i = e.n - 1 THEN e.dnv ELSE di.dx END AS subc,
        |    CASE WHEN d.i = 0 THEN e.dx1 WHEN d.i = e.n - 1 THEN e.dxn3 ELSE 2.0 * (dim1.dx + di.dx) END AS diag,
        |    CASE WHEN d.i = 0 THEN e.d0v WHEN d.i = e.n - 1 THEN 0.0 ELSE dim1.dx END AS supc,
        |    CASE WHEN d.i = 0 THEN ((e.dx0 + 2 * e.d0v) * e.dx1 * e.m0lat + e.dx0 * e.dx0 * e.m1lat) / e.d0v
        |         WHEN d.i = e.n - 1 THEN (e.dxn2 * e.dxn2 * e.mn3lat + (2 * e.dnv + e.dxn2) * e.dxn3 * e.mn2lat) / e.dnv
        |         ELSE 3.0 * (di.dx * dim1.mlat + dim1.dx * di.mlat) END AS rlat,
        |    CASE WHEN d.i = 0 THEN ((e.dx0 + 2 * e.d0v) * e.dx1 * e.m0lon + e.dx0 * e.dx0 * e.m1lon) / e.d0v
        |         WHEN d.i = e.n - 1 THEN (e.dxn2 * e.dxn2 * e.mn3lon + (2 * e.dnv + e.dxn2) * e.dxn3 * e.mn2lon) / e.dnv
        |         ELSE 3.0 * (di.dx * dim1.mlon + dim1.dx * di.mlon) END AS rlon
        |  FROM ded d
        |  JOIN ends e USING (traj_id)
        |  LEFT JOIN dxm di ON di.traj_id = d.traj_id AND di.i = d.i
        |  LEFT JOIN dxm dim1 ON dim1.traj_id = d.traj_id AND dim1.i = d.i - 1
        |),
        |fwd AS (
        |  SELECT traj_id, i, n, diag AS bp, rlat AS dplat, rlon AS dplon, supc AS cprev
        |  FROM coef WHERE i = 0
        |  UNION ALL
        |  SELECT c.traj_id, c.i, c.n,
        |         c.diag - c.subc / f.bp * f.cprev,
        |         c.rlat - c.subc / f.bp * f.dplat,
        |         c.rlon - c.subc / f.bp * f.dplon,
        |         c.supc
        |  FROM fwd f JOIN coef c ON c.traj_id = f.traj_id AND c.i = f.i + 1
        |),
        |bwd AS (
        |  SELECT traj_id, i, dplat / bp AS slat, dplon / bp AS slon
        |  FROM fwd WHERE i = n - 1
        |  UNION ALL
        |  SELECT f.traj_id, f.i, (f.dplat - f.cprev * b.slat) / f.bp, (f.dplon - f.cprev * b.slon) / f.bp
        |  FROM bwd b JOIN fwd f ON f.traj_id = b.traj_id AND f.i = b.i - 1
        |),
        |knot AS MATERIALIZED (
        |  SELECT d.traj_id, d.i, d.x, d.lat, d.lon, b.slat, b.slon
        |  FROM ded d JOIN bwd b ON b.traj_id = d.traj_id AND b.i = d.i
        |),
        |gaps AS (
        |  SELECT traj_id, i - 1 AS i0, pus FROM (
        |    SELECT traj_id, i, epoch_us(ts) AS us,
        |           lag(epoch_us(ts)) OVER (PARTITION BY traj_id ORDER BY ts) AS pus
        |    FROM ded)
        |  WHERE (us - pus) / 1000000.0 > 43200.0
        |),
        |insbase AS (
        |  SELECT g.traj_id, g.pus,
        |         k1.x - k0.x AS h,
        |         (g.pus + 43200000000)::DOUBLE / 1000000.0 - k0.x AS u,
        |         (k1.lat - k0.lat) / (k1.x - k0.x) AS dlat,
        |         (k1.lon - k0.lon) / (k1.x - k0.x) AS dlon,
        |         k0.lat AS y0lat, k0.lon AS y0lon,
        |         k0.slat AS s0lat, k1.slat AS s1lat, k0.slon AS s0lon, k1.slon AS s1lon
        |  FROM gaps g
        |  JOIN knot k0 ON k0.traj_id = g.traj_id AND k0.i = g.i0
        |  JOIN knot k1 ON k1.traj_id = g.traj_id AND k1.i = g.i0 + 1
        |),
        |insc AS (
        |  SELECT *,
        |    (3 * dlat - 2 * s0lat - s1lat) / h AS c2lat,
        |    (s0lat + s1lat - 2 * dlat) / (h * h) AS c3lat,
        |    (3 * dlon - 2 * s0lon - s1lon) / h AS c2lon,
        |    (s0lon + s1lon - 2 * dlon) / (h * h) AS c3lon
        |  FROM insbase
        |),
        |ins AS (
        |  SELECT traj_id,
        |    make_timestamp(pus + 43200000000) AS ts,
        |    y0lat + s0lat * u + c2lat * u * u + c3lat * u * u * u AS lat,
        |    y0lon + s0lon * u + c2lon * u * u + c3lon * u * u * u AS lon
        |  FROM insc
        |)
        |SELECT traj_id, ts, round(lat, 6) + 0.0 AS lat, round(lon, 6) + 0.0 AS lon FROM (
        |  SELECT traj_id, ts, lat, lon FROM traj
        |  UNION ALL SELECT traj_id, ts, lat, lon FROM ins
        |)""".stripMargin)),
    // portable seeded draws ⇒ the inserted coordinates themselves are
    // oracle-checked (not just row counts)
    QuerySpec("q_ip_random_walk", (sp, dir) =>
      Interpolation.randomWalk(SparkEntry.traj(sp, dir).drop("event_id"), SparkEntry.S.copy(orderCols = Nil), 43200.0)
        .select(col("traj_id"), col("ts"), r(col("lat"), 6).as("lat"), r(col("lon"), 6).as("lon")),
      {
        // one affine draw per salt from the seeded entity hash — op-for-op
        // mirror of Interpolation.randomWalk (seed 42, rate 43200 s)
        def u(salt: Int): String = {
          val a = 506952114L * (2 * salt + 1) % TextHash.P
          val b = (40503L * (salt + 1)) % TextHash.P
          s"((bh * $a % $P + $b) % $P + 0.5) / 2147483647.0"
        }
        s"""${SparkEntry.KinSql},
           |st AS (
           |  SELECT traj_id, avg(dist) AS dmean, stddev(dist) AS dstd,
           |         avg(brg) AS bmean, stddev(brg) AS bstd, count(*) AS n
           |  FROM kin GROUP BY traj_id
           |),
           |dr AS (
           |  SELECT traj_id,
           |    sqrt(-2.0 * ln(${u(1)})) * cos(2.0 * pi() * ${u(2)}) AS z1,
           |    sqrt(-2.0 * ln(${u(3)})) * cos(2.0 * pi() * ${u(4)}) AS z2
           |  FROM (SELECT DISTINCT traj_id, (${sqlPoly("traj_id")} + 42 + $P) % $P AS bh FROM kin) tb
           |),
           |rw AS (
           |  SELECT *, lag(epoch_us(ts)) OVER (PARTITION BY traj_id ORDER BY ts, event_id) AS pus
           |  FROM kin
           |),
           |ins AS (
           |  SELECT rw.traj_id,
           |    make_timestamp(pus + 43200000000) AS ts,
           |    plat + ((st.dmean + st.dstd * dr.z1) / 1000.0 * cos(radians(st.bmean + st.bstd * dr.z2)) / 6371.0) * (180.0 / pi()) AS lat,
           |    plon + ((st.dmean + st.dstd * dr.z1) / 1000.0 * sin(radians(st.bmean + st.bstd * dr.z2)) / 6371.0) * (180.0 / pi()) / cos(plat * (pi() / 180.0)) AS lon
           |  FROM rw JOIN st USING (traj_id) JOIN dr USING (traj_id)
           |  WHERE rw.dt > 43200.0 AND st.n > 3
           |)
           |SELECT traj_id, ts, round(lat, 6) + 0.0 AS lat, round(lon, 6) + 0.0 AS lon FROM (
           |  SELECT traj_id, ts, lat, lon FROM traj
           |  UNION ALL SELECT traj_id, ts, lat, lon FROM ins
           |)""".stripMargin
      })
  )

  /** The shared rounded wide-stats builder (q_stat_wide / q_stat_long) —
    * exact percentiles via the two-pass rank interpolation
    * ([[graft.stats.Stats.describeLong]]; no `percentile` group buffering,
    * bit-identical values, memory bounded by the spillable window sort). */
  private def statWide(sp: SparkSession, dir: String): DataFrame = {
      val base = Kinematic.withKinematics(SparkEntry.traj(sp, dir), SparkEntry.S)
      val kinDigits = SparkEntry.kinOut.map { case (f, _, d) => f -> d }
      val rounded = kinDigits.foldLeft(base) { case (d, (c, dg)) => d.withColumn(c, r(col(c), dg)) }
      val long = graft.stats.Stats.describeLong(rounded, Seq("traj_id"), kinDigits.map(_._1))
      // percentile digits = feature digits + 2: the linear interpolation of
      // 10^-d-grid values at f ∈ multiples of 0.05 lies exactly on the
      // 10^-(d+2) grid (grid POINTS, never half-cell boundaries)
      val statAliases = Seq("_p0" -> "p10", "_p1" -> "p25", "_p2" -> "p50",
        "_p3" -> "p75", "_p4" -> "p90")
      val pivoted = long
        .groupBy(col("traj_id"))
        .pivot("_feature", kinDigits.map(_._1))
        .agg(statAliases.map { case (c, a) => first(col(c)).as(a) }.head,
          statAliases.map { case (c, a) => first(col(c)).as(a) }.tail: _*)
      // moments from a direct hash-agg over the wide frame (NOT the stacked
      // sort path): accumulation order there matches the DuckDB group agg at
      // the 4-dp grid — summing in value-sorted order does not (observed
      // boundary flips at sf0.01: 53381.47235 rounding either way)
      val momentExprs = kinDigits.flatMap { case (f, _) =>
        Seq(
          min(col(f)).as(s"min_$f"),
          max(col(f)).as(s"max_$f"),
          r(avg(col(f)), 4).as(s"mean_$f"),
          r(stddev(col(f)), 4).as(s"std_$f")
        )
      }
      val moments = rounded.groupBy(col("traj_id")).agg(momentExprs.head, momentExprs.tail: _*)
      val ordered = kinDigits.flatMap { case (f, dg) =>
        Seq(
          r(col(s"_pv.`${f}_p10`"), dg + 2).as(s"p10_$f"),
          r(col(s"_pv.`${f}_p25`"), dg + 2).as(s"p25_$f"),
          r(col(s"_pv.`${f}_p50`"), dg + 2).as(s"p50_$f"),
          r(col(s"_pv.`${f}_p75`"), dg + 2).as(s"p75_$f"),
          r(col(s"_pv.`${f}_p90`"), dg + 2).as(s"p90_$f"),
          col(s"_mo.`min_$f`"), col(s"_mo.`max_$f`"), col(s"_mo.`mean_$f`"), col(s"_mo.`std_$f`")
        )
      }
      // null-safe key equality (a null entity key is one group, like groupBy)
      pivoted.as("_pv").join(moments.as("_mo"), col("_pv.traj_id") <=> col("_mo.traj_id"), "right")
        .select(col("_mo.traj_id").as("traj_id") +: ordered: _*)
  }
}
