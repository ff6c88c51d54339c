package graft

import graft.functions.TextHash
import org.apache.spark.sql.functions._

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
}
