package graft

import graft.functions.{TermCountsExpr, TextHash}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The codegen'd text-hash kernels must agree EXACTLY with the declarative
  * HOF formulations (which the DuckDB oracles mirror) on real driver data,
  * including edge cases (leading/trailing/multiple whitespace, short docs
  * below the shingle width, empty shingle sets). */
class TextKernelParitySpec extends SparkSpec {

  test("polyHash / tokenHashes / shingles / minhash kernels == HOF on driver docs") {
    import spark.implicits._
    val extra = Seq("", "  ", "one", "one two", " padded  words\t here ").toDF("text")
    val t = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
      .select(col("text")).unionByName(extra)

    val cmp = t.select(
      (TextHash.polyHash(col("text")) <=> TextHash.polyHashHof(col("text"))).as("ph"),
      (TextHash.tokenHashes(col("text")) <=> TextHash.tokenHashesHof(col("text"))).as("th"),
      (TextHash.shingleHashes(TextHash.tokenHashes(col("text")), 3) <=>
        TextHash.shingleHashesHof(TextHash.tokenHashesHof(col("text")), 3)).as("sh"),
      (TextHash.minhash(TextHash.shingleHashes(TextHash.tokenHashes(col("text")), 3), 16) <=>
        TextHash.minhashHof(TextHash.shingleHashesHof(TextHash.tokenHashesHof(col("text")), 3), 16)).as("mh")
    )
    val bad = cmp.where(!col("ph") || !col("th") || !col("sh") || !col("mh")).count()
    assert(bad == 0, s"$bad rows diverge between kernel and HOF formulations")
  }

  test("repetition kernel == HOF formulation bit-for-bit on driver docs + edges") {
    import spark.implicits._
    val extra = Seq("", "  ", "one", "one two", "x x x x", "a b a b c",
      " padded  words\t here ", null.asInstanceOf[String]).toDF("text")
    val t = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
      .select(col("text")).unionByName(extra)
    // both formulations over the SAME rows (null text included — the HOF
    // falls through its WHEN branches to 0.0, the kernel path coalesces)
    val kern = graft.text.TextFeatures.withRepetition(t)
      .withColumnRenamed("dup_2gram_frac", "k2")
      .withColumnRenamed("dup_3gram_frac", "k3")
      .withColumnRenamed("top_2gram_frac", "kt")
    val both = graft.text.TextFeatures.withRepetitionHof(kern)
    val bad = both.where(!(
      (col("k2") <=> col("dup_2gram_frac")) &&
        (col("k3") <=> col("dup_3gram_frac")) &&
        (col("kt") <=> col("top_2gram_frac")))).count()
    assert(bad == 0, s"$bad rows diverge between RepetitionExpr and the HOF chain")
  }

  /** Term-count edge texts: null, empty and whitespace-only (\u000B, \f),
    * leading/trailing/repeated whitespace, repeated terms, NBSP and EM
    * SPACE inside a token (neither is Java's \s), non-BMP code points, and
    * one whale doc. */
  private val termEdges: Seq[String] = Seq(null, "", " ", "\u000B\f \t\r\n", "\f\u000B",
    "  lead and trail  ", "a  a\t\ta b\u000Ba\fb", "x\u00A0y x\u00A0y x y\u2003z",
    "\uD83D\uDE00 \uD83D\uDE00\uD83D\uDE01 \uD835\uDD18 \uD835\uDD18",
    Iterator.range(0, 60000).map(i => s"w${i % 997}").mkString(" "))

  private def terms(a: ArrayData): Seq[(String, Long)] =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    }

  test("termCounts kernel: eval == codegen on the edge texts") {
    val e = TermCountsExpr(BoundReference(0, StringType, nullable = true))
    val gen = GenerateUnsafeProjection.generate(Seq(e))
    for (t <- termEdges) {
      val row = InternalRow(UTF8String.fromString(t))
      val interpreted = e.eval(row)
      val codegen = gen(row)
      if (t == null) assert(interpreted == null && codegen.isNullAt(0))
      else assert(terms(interpreted.asInstanceOf[ArrayData]) == terms(codegen.getArray(0)),
        s"eval and codegen diverge on ${t.take(40)}")
    }
  }

  test("termCounts kernel == explode(tokens) + groupBy(id, term).count, interpreted and codegen") {
    import spark.implicits._
    val extra = termEdges.zipWithIndex.map { case (t, i) => (-1L - i, t) }.toDF("doc_id", "text")
    val t = spark.read.parquet(s"${sfDir("0.001")}/documents.parquet")
      .select(col("doc_id"), col("text")).unionByName(extra)
    // the declarative form: a corpus-sized (doc_id, term) shuffle
    val reference = t.select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // the parquet rows run the projection interpreted or codegen'd per mode;
    // the edge rows are a local relation the optimizer folds with `eval`
    // (the eval == codegen case above covers them)
    def kernel: DataFrame = t.select(col("doc_id"), TextHash.termCounts(col("text")).as("tc"))
      .select(col("doc_id"), explode(col("tc")).as("t"))
      .select(col("doc_id"), col("t.term").as("term"), col("t.tf").as("tf"))
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getAll.get(k))
    try {
      for (mode <- Seq(Seq("true", "CODEGEN_ONLY"), Seq("false", "NO_CODEGEN"))) {
        keys.zip(mode).foreach { case (k, v) => spark.conf.set(k, v) }
        val k = kernel
        val missing = reference.exceptAll(k).count()
        val extraRows = k.exceptAll(reference).count()
        assert(missing == 0 && extraRows == 0,
          s"${mode.last}: $missing reference rows missing, $extraRows extra kernel rows")
      }
    } finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    // the whale doc: 997 distinct terms, 60,000 tokens
    val whale = kernel.where(col("doc_id") === -termEdges.length.toLong)
      .agg(count(lit(1)), sum(col("tf"))).head()
    assert(whale.getLong(0) == 997L && whale.getLong(1) == 60000L)
  }
}
