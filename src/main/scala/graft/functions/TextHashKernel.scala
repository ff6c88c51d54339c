package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM kernels for the portable text-hash stack ([[TextHash]]). Each mirrors
  * its declarative formulation value-for-value (same 31-base poly fold mod
  * 2³¹−1 over codepoints, same affine families, same distinct-keep-first),
  * so the DuckDB oracles are unchanged — but runs as ONE static call per row
  * instead of interpreted HOF lambdas per element with intermediate
  * UnsafeArrayData per step. Whitespace = Java regex \s (the exact class
  * `split(text, "\\s+")` used): [ \t\n\f\r]. */
object TextHashKernel {

  private val P = TextHash.P

  @inline private def isSpace(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0b || c == '\f' || c == '\r'

  /** polyHash of the whole string (whitespace included) — fingerprinting. */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Whitespace tokens → per-token poly hashes (empties dropped). */
  def tokenHashes(s: UTF8String): ArrayData = {
    val str = s.toString
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var h = 0L
    var inTok = false
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (isSpace(cp)) {
        if (inTok) { out += h; h = 0L; inTok = false }
      } else {
        h = (h * 31L + cp) % P
        inTok = true
      }
      i += Character.charCount(cp)
    }
    if (inTok) out += h
    new GenericArrayData(out.toArray)
  }

  /** Distinct k-shingle hashes (first-occurrence order), [] when n < k. */
  def shingleHashes(th: ArrayData, k: Int): ArrayData = {
    val n = th.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= n - k) {
      var s = th.getLong(i)
      var j = 1
      while (j < k) { s = (s * 31L + th.getLong(i + j)) % P; j += 1 }
      seen.add(s)
      i += 1
    }
    val arr = new Array[Long](seen.size)
    val it = seen.iterator()
    var m = 0
    while (it.hasNext) { arr(m) = it.next(); m += 1 }
    new GenericArrayData(arr)
  }

  /** MinHash signature: numHashes affine mins over the shingle set
    * (sentinel P for the empty set) — same a_i/b_i family as TextHash. */
  def minhash(sh: ArrayData, numHashes: Int): ArrayData = {
    val sig = Array.fill(numHashes)(P)
    // loop-invariant affine coefficients hoisted out of the per-shingle loop
    val as = Array.tabulate(numHashes)(j => 2654435761L % P * (2 * j + 1) % P)
    val bs = Array.tabulate(numHashes)(j => (40503L * (j + 1)) % P)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      val x = sh.getLong(i)
      var j = 0
      while (j < numHashes) {
        val v = (x * as(j) % P + bs(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Per-k positioned-gram stats: (dup fraction, top fraction) — grams in
    * primitive buffers, one sort + one run-length pass. (0,0) when the doc
    * is shorter than the gram, mirroring the HOF's empty-array branch. */
  private def gramStats(th: ArrayData, n: Int, k: Int): (Double, Double) = {
    val m = n - (k - 1)
    if (m <= 0) return (0.0, 0.0)
    val grams = new Array[Long](m)
    var i = 0
    while (i < m) {
      var s = th.getLong(i)
      var j = 1
      while (j < k) { s = (s * 31L + th.getLong(i + j)) % P; j += 1 }
      grams(i) = s
      i += 1
    }
    java.util.Arrays.sort(grams)
    var distinct = 1
    var run = 1
    var best = 1
    i = 1
    while (i < m) {
      if (grams(i) == grams(i - 1)) { run += 1; if (run > best) best = run }
      else { distinct += 1; run = 1 }
      i += 1
    }
    // same IEEE ops as the HOF: int-diff widened to double, ONE division
    ((m - distinct).toDouble / m.toDouble, best.toDouble / m.toDouble)
  }

  /** Repetition metrics over a token-hash array:
    * [dup_2gram_frac, dup_3gram_frac, top_2gram_frac] — the codegen kernel
    * behind [[graft.text.TextFeatures.withRepetition]] (the HOF
    * `aggregate`/`array_sort`/`array_distinct` chain it replaces is kept as
    * the parity reference, the 6–36× law BENCH.md §codegen kernels). */
  def repetition(th: ArrayData): ArrayData = {
    val n = th.numElements()
    val (dup2, top2) = gramStats(th, n, 2)
    val (dup3, _) = gramStats(th, n, 3)
    new GenericArrayData(Array(dup2, dup3, top2))
  }

  /** Whitespace tokens → (term, tf) structs, one per distinct token in
    * first-occurrence order: the same tokens as `TextHash.tokens`, counted
    * in one pass over the row (the kernel behind `TextHash.termCounts`). */
  def termCounts(s: UTF8String): ArrayData = {
    val str = s.toString
    val counts = new java.util.LinkedHashMap[String, Array[Long]]()
    var start = -1
    var i = 0
    while (i <= str.length) {
      val cp = if (i < str.length) str.codePointAt(i) else ' '
      if (isSpace(cp)) {
        if (start >= 0) {
          val c = counts.computeIfAbsent(str.substring(start, i), _ => new Array[Long](1))
          c(0) += 1
          start = -1
        }
      } else if (start < 0) start = i
      i += Character.charCount(cp)
    }
    val out = new Array[Any](counts.size)
    var m = 0
    counts.forEach { (t, c) => out(m) = InternalRow(UTF8String.fromString(t), c(0)); m += 1 }
    new GenericArrayData(out)
  }

  /** Greedy left-to-right BPE merge: every non-overlapping adjacent
    * occurrence of (a, b) becomes m — the rewrite step of one BPE
    * iteration (Sennrich et al.; the reference implementations' re.sub
    * scan is exactly this left-to-right greedy law: [a,a,a] with pair
    * (a,a) → [m,a]). One primitive pass, output length ≤ input. */
  def applyMerge(th: ArrayData, a: Long, b: Long, m: Long): ArrayData = {
    val n = th.numElements()
    val buf = new Array[Long](n)
    var i = 0
    var o = 0
    while (i < n) {
      if (i + 1 < n && th.getLong(i) == a && th.getLong(i + 1) == b) {
        buf(o) = m; o += 1; i += 2
      } else {
        buf(o) = th.getLong(i); o += 1; i += 1
      }
    }
    new GenericArrayData(java.util.Arrays.copyOf(buf, o))
  }

  /** Stopword profiles for the langid heuristic (canonical definition —
    * `graft.text.TextFeatures.StopwordProfiles` aliases this). Order is
    * the tie-break order; an empty profile scores 0 (selected only when
    * nothing hits). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
    "zh" -> Seq() // no-latin profile: scored 0, selected only if nothing hits
  )

  /** lowercase word → bitmask of profile indices it belongs to ("la" is
    * fr AND es, "und" is de, "que" fr+es — multi-membership is why hits
    * are counted per mask bit, not first-match). */
  private val langWordMask: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    LangProfiles.zipWithIndex.foreach { case ((_, ws), i) =>
      ws.foreach(w => m.put(w, Integer.valueOf(m.getOrDefault(w, 0).intValue() | (1 << i))))
    }
    m
  }

  /** Per-language stopword-hit counts in ONE pass over the raw string —
    * the codegen kernel behind `TextFeatures.withLangId`. Exactly the HOF
    * semantics `size(filter(tokens, w => lower(w).isin(profile…)))` per
    * language: same \s token class as [[tokenHashes]], same `lower()`
    * (byte-wise for ASCII tokens, UTF8String.toLowerCase otherwise — the
    * Lower expression's own two paths), one hash-map probe per token
    * instead of langs × words interpreted comparisons per token. */
  def langHits(s: UTF8String): ArrayData = {
    val nLangs = LangProfiles.length
    val counts = new Array[Int](nLangs)
    val str = s.toString
    val sb = new java.lang.StringBuilder(16)
    var hasUpper = false
    var nonAscii = false
    def flush(): Unit = {
      if (sb.length > 0) {
        val tok = sb.toString
        val lower =
          if (nonAscii) UTF8String.fromString(tok).toLowerCase.toString
          else if (hasUpper) tok.toLowerCase(java.util.Locale.ROOT)
          else tok
        val mask = langWordMask.get(lower)
        if (mask != null) {
          val mv = mask.intValue()
          var i = 0
          while (i < nLangs) { if (((mv >> i) & 1) == 1) counts(i) += 1; i += 1 }
        }
        sb.setLength(0)
      }
      hasUpper = false
      nonAscii = false
    }
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      if (isSpace(cp)) flush()
      else {
        if (cp > 127) nonAscii = true
        else if (cp >= 'A' && cp <= 'Z') hasUpper = true
        sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    flush()
    new GenericArrayData(counts)
  }

  /** 62-bit SimHash from token hashes (majority sign per bit of the widened
    * 62-bit hash h = h1·2³¹ + affine(h1)). */
  def simhash(th: ArrayData, bits: Int): Long = {
    val votes = new Array[Int](bits)
    val a = 2654435761L % P
    val n = th.numElements()
    var i = 0
    while (i < n) {
      val h1 = th.getLong(i)
      val h2 = (h1 * a % P + 97531L) % P
      val h = h1 * 2147483648L + h2
      var b = 0
      while (b < bits) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (votes(b) > 0) out |= 1L << b; b += 1 }
    out
  }
}

/** Shared plumbing for the unary string/array kernels. */
abstract class TextKernelUnary extends UnaryExpression {
  protected def call: String // e.g. "polyHash($c)"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHashKernel.${call.replace("$c", c)}")
}

case class PolyHashExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = LongType
  override protected def call: String = "polyHash($c)"
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernel.polyHash(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): PolyHashExpr = copy(child = c)
}

case class TokenHashesExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def call: String = "tokenHashes($c)"
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernel.tokenHashes(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): TokenHashesExpr = copy(child = c)
}

case class ShingleHashesExpr(child: Expression, k: Int) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def call: String = s"shingleHashes($$c, $k)"
  override protected def nullSafeEval(a: Any): Any =
    TextHashKernel.shingleHashes(a.asInstanceOf[ArrayData], k)
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr = copy(child = c)
}

case class MinhashExpr(child: Expression, numHashes: Int) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def call: String = s"minhash($$c, $numHashes)"
  override protected def nullSafeEval(a: Any): Any =
    TextHashKernel.minhash(a.asInstanceOf[ArrayData], numHashes)
  override protected def withNewChildInternal(c: Expression): MinhashExpr = copy(child = c)
}

case class RepetitionExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def call: String = "repetition($c)"
  override protected def nullSafeEval(a: Any): Any =
    TextHashKernel.repetition(a.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(c: Expression): RepetitionExpr = copy(child = c)
}

case class TermCountsExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(
    new StructType().add("term", StringType, nullable = false).add("tf", LongType, nullable = false),
    containsNull = false)
  override protected def call: String = "termCounts($c)"
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernel.termCounts(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): TermCountsExpr = copy(child = c)
}

case class ApplyMergeExpr(child: Expression, a: Long, b: Long, m: Long) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def call: String = s"applyMerge($$c, ${a}L, ${b}L, ${m}L)"
  override protected def nullSafeEval(arr: Any): Any =
    TextHashKernel.applyMerge(arr.asInstanceOf[ArrayData], a, b, m)
  override protected def withNewChildInternal(c: Expression): ApplyMergeExpr = copy(child = c)
}

case class LangHitsExpr(child: Expression) extends TextKernelUnary {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def call: String = "langHits($c)"
  override protected def nullSafeEval(s: Any): Any =
    TextHashKernel.langHits(s.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): LangHitsExpr = copy(child = c)
}

case class SimHashExpr(child: Expression, bits: Int) extends TextKernelUnary {
  override def dataType: DataType = LongType
  override protected def call: String = s"simhash($$c, $bits)"
  override protected def nullSafeEval(a: Any): Any =
    TextHashKernel.simhash(a.asInstanceOf[ArrayData], bits)
  override protected def withNewChildInternal(c: Expression): SimHashExpr = copy(child = c)
}
