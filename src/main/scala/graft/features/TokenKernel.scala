package graft.features

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, lit, shiftleft}

/** Shuffle-free kinematic+session feature kernel for PRE-GROUPED sequences.
  *
  * The graft's authoritative input (`doc_id, tokens array<int32>, n_tok,
  * source` — BASELINE.json input_hint) already holds one entity per row with
  * its observations in order. The general engine path
  * ([[graft.core.TokenAdapter.explodeTokens]] → [[Kinematic.withKinematics]]
  * → [[graft.session.Sessionize.byGap]]) re-groups via an
  * Exchange(hashpartitioning(doc_id)) + Sort — work that is pure overhead
  * when the grouping already exists in the storage layout. This kernel is
  * the physical fast path: a typed `Dataset.map` (Dataset API, not RDD) that
  * runs the whole per-entity chain as one JIT-compiled loop — the idiomatic
  * Spark analogue of the reference's per-trajectory vectorized numpy kernel
  * (ptrail/features/helper_functions.py:144-190), but embarrassingly
  * parallel over input splits with ZERO shuffle, zero sort, and no
  * multiprocessing IPC (kinematic_features.py:201-222).
  *
  * Exactness contract: every arithmetic step mirrors the declarative plan
  * op-for-op — `xxhash64` via catalyst's XXH64 with Spark's literal-fold
  * order, haversine/bearing in [[graft.kernels.Geo]]'s operation order
  * (java.lang.Math == Spark codegen's runtime), Δt through the same
  * micros-long → double division. TokenKernelSpec asserts BIT-EQUALITY of
  * every feature against the window path on the synthetic corpus.
  *
  * At 100 TB: this path scans Iceberg/parquet splits and emits per-doc
  * vectors with no exchange at all — the scaling-efficiency headline in
  * BENCH.md. The window path remains the semantics reference and covers
  * inputs that are NOT pre-grouped (event streams, as-of merge outputs).
  */
object TokenKernel {

  case class SeqRow(doc_id: String, tokens: Array[Int])

  /** Per-document consumed feature vector (same aggregates as the bench
    * flagship's consume-all groupBy: null-skipping sums over every feature,
    * max session id, row count). Sums are Options: a SQL sum over an
    * all-null column is NULL (short docs — e.g. sum_Jerk of a 3-token doc),
    * and the kernel must agree with the window path there too. */
  case class DocVector(
      doc_id: String,
      n: Long,
      n_sessions: Long,
      sum_Distance: Option[Double],
      sum_Distance_from_start: Option[Double],
      sum_Speed: Option[Double],
      sum_Acceleration: Option[Double],
      sum_Jerk: Option[Double],
      sum_Bearing: Option[Double],
      sum_Bearing_Rate: Option[Double],
      sum_Rate_of_bearing_rate: Option[Double]
  )

  /** Per-token row for parity testing against the window path. */
  case class TokenRow(
      doc_id: String,
      pos: Int,
      token: Int,
      lat: Double,
      lon: Double,
      Distance: Option[Double],
      Distance_from_start: Option[Double],
      Speed: Option[Double],
      Acceleration: Option[Double],
      Jerk: Option[Double],
      Bearing: Option[Double],
      Bearing_Rate: Option[Double],
      Rate_of_bearing_rate: Option[Double],
      session_id: Long
  )

  private val EarthR = graft.kernels.Geo.EarthRadiusMeters

  /** First fold step of Spark's `xxhash64(lit(seed), token, pos)` for the
    * lat (seed 1) and lon (seed 2) literals: XXH64.hashInt(seed, 42). */
  private val LatSeedHash = XXH64.hashInt(1, 42L)
  private val LonSeedHash = XXH64.hashInt(2, 42L)

  /** TokenAdapter.hashFrac mirror: the rest of the left fold of
    * XXH64.hashInt (catalyst XxHash64 semantics) → double in [0, 1). */
  @inline private def hashFrac(seedHash: Long, token: Int, pos: Int): Double =
    XXH64.hashInt(pos, XXH64.hashInt(token, seedHash)).toDouble / 1.8446744073709552e19 + 0.5

  /** Geo.haversine mirror over each point's cached radians and cosine
    * (same op order; java.lang.Math == codegen). */
  @inline private def haversine(p1: Double, l1: Double, c1: Double, p2: Double, l2: Double, c2: Double): Double = {
    val sdLat = math.sin((p2 - p1) / 2.0)
    val sdLon = math.sin((l2 - l1) / 2.0)
    val a = sdLat * sdLat + c1 * c2 * sdLon * sdLon
    2.0 * math.atan2(math.sqrt(a), math.sqrt(1.0 - a)) * EarthR
  }

  /** Geo.bearing mirror over cached radians, cosines and sines (pmod(x, 360)
    * = Spark Pmod double semantics). */
  @inline private def bearing(l1: Double, c1: Double, s1: Double, l2: Double, c2: Double, s2: Double): Double = {
    val dLon = l2 - l1
    val y = c2 * math.sin(dLon)
    val x = c1 * s2 - s1 * c2 * math.cos(dLon)
    val deg = math.toDegrees(math.atan2(y, x))
    val r = deg % 360.0
    if (r < 0) r + 360.0 else r
  }

  /** Geo.infToNull mirror: a ±Inf result is "null" (undefined); genuine NaN
    * stays a defined VALUE (Spark's sum/compare treat NaN as a value). */
  @inline private def isInf(v: Double): Boolean =
    v == Double.PositiveInfinity || v == Double.NegativeInfinity

  /** The per-document loop. Returns (sums..., nSessions) via a single pass.
    * Feature f of derivative order d is undefined (NaN) for the first d
    * positions — identical to the window path's lag-null chain.
    *
    * `positions == null` means the contiguous pre-grouped case (pos ≡ i,
    * Δt constant). A non-null strictly-increasing `positions` array is the
    * SPARSE case (re-grouped from an ungrouped grid — gaps allowed): Δt per
    * step is `Δpos·stepSec` through the same integer-micros → double divide
    * as the window path's `(micros − lag(micros)).cast(double)/1e6`, and
    * the session boundary re-tests `ΔtMicros > gapMicros` per step exactly
    * like [[graft.session.Sessionize.byGap]]. */
  private final class DocState(stepSec: Long, gapSeconds: Double) extends Serializable {
    private val dtMicros: Long = stepSec * 1000000L
    private val gapMicros: Long = (gapSeconds * 1e6).toLong

    /** Per-feature sum accumulator that distinguishes SQL-null (skipped by
      * sum) from a genuine NaN VALUE (which poisons the sum, exactly like
      * Spark's Sum over a NaN double). `seen` = any defined contribution. */
    private final class SumAcc {
      var sum: Double = 0.0
      var seen: Boolean = false
      @inline def add(v: Double, defined: Boolean): Unit =
        if (defined) { sum = if (seen) sum + v else v; seen = true }
      @inline def opt: Option[Double] = if (seen) Some(sum) else None
    }

    def run(r: SeqRow, emit: TokenRow => Unit): DocVector =
      run(r.doc_id, r.tokens, null, emit)

    def run(docId: String, tokens: Array[Int], positions: Array[Int], emit: TokenRow => Unit): DocVector = {
      val n = tokens.length
      val sDist, sDistStart, sSpeed, sAcc, sJerk, sBrg, sBrate, sRobr = new SumAcc
      // radians, cosine and sine of the previous and the first point: each
      // point's trig is computed once (bit-identical to recomputing it)
      var pRLat, pRLon, pCos, pSin = 0.0
      var rLat0, rLon0, cos0 = 0.0
      var pSpeed, pAcc, pBrg, pBrate = 0.0
      // definedness is tracked SEPARATELY from the value: a feature can be
      // a defined genuine NaN (window path: non-null NaN) or undefined
      // (window path: null from a missing lag or from infToNull)
      var pSpeedDef, pAccDef, pBrgDef, pBrateDef = false
      var i = 0
      var sessions = 0L
      while (i < n) {
        val tok = tokens(i)
        val pos = if (positions eq null) i else positions(i)
        val lat = -90.0 + hashFrac(LatSeedHash, tok, pos) * 180.0
        val lon = -180.0 + hashFrac(LonSeedHash, tok, pos) * 360.0
        val rLat = math.toRadians(lat); val rLon = math.toRadians(lon)
        val cosLat = math.cos(rLat); val sinLat = math.sin(rLat)
        if (i == 0) { rLat0 = rLat; rLon0 = rLon; cos0 = cosLat }
        var dist, distStart, speed, accel, jerk, brg, brate, robr = 0.0
        var dDist, dSpeed, dAcc, dJerk, dBrg, dBrate, dRobr = false
        if (i > 0) {
          // Δt via the window path's exact op order: integer micros diff,
          // then ONE correctly-rounded divide (Kinematic.dtSeconds)
          val dtMic =
            if (positions eq null) dtMicros
            else (pos.toLong - positions(i - 1).toLong) * dtMicros
          val dt = dtMic.toDouble / 1e6
          dist = haversine(pRLat, pRLon, pCos, rLat, rLon, cosLat); dDist = true
          distStart = haversine(rLat0, rLon0, cos0, rLat, rLon, cosLat)
          brg = bearing(pRLon, pCos, pSin, rLon, cosLat, sinLat); dBrg = true
          // derivative defined iff BOTH the current and lagged upstream
          // values are defined (a null on either side nulls the window
          // expression) and the division didn't overflow (infToNull)
          speed = dist / dt; dSpeed = !isInf(speed)
          if (dBrg && pBrgDef) { brate = (brg - pBrg) / dt; dBrate = !isInf(brate) }
          if (dSpeed && pSpeedDef) { accel = (speed - pSpeed) / dt; dAcc = !isInf(accel) }
          if (dAcc && pAccDef) { jerk = (accel - pAcc) / dt; dJerk = !isInf(jerk) }
          if (dBrate && pBrateDef) { robr = (brate - pBrate) / dt; dRobr = !isInf(robr) }
          if (dtMic > gapMicros) sessions += 1
        }
        sDist.add(dist, dDist); sDistStart.add(distStart, dDist)
        sSpeed.add(speed, dSpeed); sAcc.add(accel, dAcc); sJerk.add(jerk, dJerk)
        sBrg.add(brg, dBrg); sBrate.add(brate, dBrate); sRobr.add(robr, dRobr)
        if (emit ne null) {
          def o(v: Double, d: Boolean): Option[Double] = if (d) Some(v) else None
          emit(TokenRow(docId, pos, tok, lat, lon, o(dist, dDist), o(distStart, dDist),
            o(speed, dSpeed), o(accel, dAcc), o(jerk, dJerk), o(brg, dBrg),
            o(brate, dBrate), o(robr, dRobr), sessions))
        }
        pRLat = rLat; pRLon = rLon; pCos = cosLat; pSin = sinLat
        pSpeed = speed; pSpeedDef = dSpeed
        pAcc = accel; pAccDef = dAcc
        pBrg = brg; pBrgDef = dBrg
        pBrate = brate; pBrateDef = dBrate
        i += 1
      }
      DocVector(docId, n, sessions, sDist.opt, sDistStart.opt, sSpeed.opt,
        sAcc.opt, sJerk.opt, sBrg.opt, sBrate.opt, sRobr.opt)
    }
  }

  /** Full flagship per-doc feature vectors with NO shuffle: scan → typed map.
    * `stepSec`/`gapSeconds` as in TokenAdapter.explodeTokens / Sessionize. */
  def docVectors(corpus: DataFrame, stepSec: Long = 1L, gapSeconds: Double = 1.5): Dataset[DocVector] = {
    val state = new DocState(stepSec, gapSeconds)
    corpus
      .select("doc_id", "tokens")
      // null/empty token arrays produce no grid rows in the window path
      // (posexplode emits nothing) ⇒ no output doc there either
      .where(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("tokens")) > 0)
      .as(Encoders.product[SeqRow])
      .map(r => state.run(r, null))(Encoders.product[DocVector])
  }

  /** One exchanged row of the re-group route: a run of adjacent grid rows
    * of one doc, each observation packed as `(pos << 32) | token` — the
    * first in `pt`, the rest (null if none) in `more`. */
  case class PackedRun(doc_id: String, pt: Long, more: Array[Long])

  /** The reduce side's view of a [[PackedRun]]: `doc_id` comes from the
    * group key, so only these fields are decoded per row (by name). */
  case class RunTail(pt: Long, more: Array[Long])

  /** Longest run packed into one row: bounds a map task's buffer and the
    * shuffled row size for whale docs (the reduce side concatenates). */
  private val MaxRun = 1 << 20

  /** UNGROUPED-input path (VERDICT r4 #1): per-doc feature vectors over an
    * exploded / evented grid `(doc_id, pos, token)` that is NOT pre-grouped
    * — the general-path replacement for the exploded-grid 8-frame window
    * chain.
    *
    * Plan shape: project each row to ONE packed long
    * `(pos << 32) | (token & 0xFFFFFFFF)` (codegen); a typed mapPartitions
    * collapses each maximal run of adjacent rows sharing a doc_id into one
    * [[PackedRun]] — it holds one run, no hash map, no sort — so a grid that
    * arrives doc-contiguous (an explode, an ordered event log) ships and
    * sorts ONE row per doc. Packing follows the run length the input
    * actually has: a fully shuffled grid degrades to one row per
    * observation. One exchange on doc_id, a key-only sort (8-byte prefix
    * comparisons — not the window chain's multi-column sort), then
    * `groupBy(col).as[...].flatMapGroups` concatenates a doc's runs, sorts
    * its primitive long array (`java.util.Arrays.sort`; signed packing
    * keeps (pos, token) order, negative positions included) and runs the
    * same zero-copy per-doc loop as [[docVectors]]. Positions must be
    * UNIQUE per doc (same contract as the window path's total order).
    *
    * Memory: a map task holds one run (at most [[MaxRun]] observations), a
    * reduce task ONE doc's packed array — whale docs bound a task at
    * O(n_doc), the same envelope as the window path's per-partition frame.
    * No session conf is read. RegroupKernelSpec asserts bit-equality with
    * the window path on contiguous, sparse, shuffled and partly clustered
    * grids. */
  def regroupDocVectorsSorted(
      grid: DataFrame,
      stepSec: Long = 1L,
      gapSeconds: Double = 1.5,
      docCol: String = "doc_id",
      posCol: String = "pos",
      tokenCol: String = "token",
      numPartitions: Option[Int] = None
  ): Dataset[DocVector] = {
    val state = new DocState(stepSec, gapSeconds)
    regroupRuns(grid, docCol, posCol, tokenCol, numPartitions) { (doc, positions, tokens) =>
      Iterator.single(state.run(doc, tokens, positions, null))
    }(Encoders.product[DocVector])
  }

  /** Per-token features through the re-group route (parity surface). */
  def regroupTokenRows(
      grid: DataFrame,
      stepSec: Long = 1L,
      gapSeconds: Double = 1.5,
      docCol: String = "doc_id",
      posCol: String = "pos",
      tokenCol: String = "token"
  ): Dataset[TokenRow] = {
    val state = new DocState(stepSec, gapSeconds)
    regroupRuns(grid, docCol, posCol, tokenCol, None) { (doc, positions, tokens) =>
      val buf = new scala.collection.mutable.ArrayBuffer[TokenRow](tokens.length)
      state.run(doc, tokens, positions, buf += _)
      buf.iterator
    }(Encoders.product[TokenRow])
  }

  /** pack → run-collapse → ONE exchange on doc_id → key-only sort → `f`
    * over each doc's sorted (positions, tokens). With `numPartitions` set,
    * an EXPLICIT hash repartition on doc_id rides after the packing — the
    * group reuses the partitioning (still exactly one exchange), and the
    * explicit count (REPARTITION_BY_NUM origin) is exempt from AQE
    * partition coalescing. Measured (BENCH.md §regroup): AQE's 64 MB
    * advisory target coalesced the ~1 GB unpacked regroup exchange to ~one
    * task WAVE, serializing whale-doc stragglers — pinning ~4 waves/core
    * restored 93% task-slot utilization. Leave None on real clusters
    * unless the same one-wave pattern appears. */
  private def regroupRuns[U: Encoder](
      grid: DataFrame, docCol: String, posCol: String, tokenCol: String,
      numPartitions: Option[Int])(f: (String, Array[Int], Array[Int]) => Iterator[U]): Dataset[U] = {
    val packed = shiftleft(col(posCol).cast("long"), 32)
      .bitwiseOR(col(tokenCol).cast("long").bitwiseAND(lit(0xFFFFFFFFL)))
    val runs = grid.select(col(docCol).cast("string").as("doc_id"), packed.as("_pt"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.scalaLong))
      .mapPartitions(packRuns)(Encoders.product[PackedRun])
    numPartitions.map(n => runs.repartition(n, col("doc_id"))).getOrElse(runs)
      .groupBy(col("doc_id"))
      .as[String, RunTail](Encoders.STRING, Encoders.product[RunTail])
      .flatMapGroups { (doc, it) =>
        val (positions, tokens) = unpack(concat(it))
        f(doc, positions, tokens)
      }
  }

  /** Collapse each maximal run of adjacent rows sharing a doc into one
    * [[PackedRun]] of at most [[MaxRun]] observations. */
  private def packRuns(rows: Iterator[(String, Long)]): Iterator[PackedRun] = new Iterator[PackedRun] {
    private var head = if (rows.hasNext) rows.next() else null
    private var buf = new Array[Long](64)
    def hasNext: Boolean = head ne null
    def next(): PackedRun = {
      val (doc, first) = head
      head = null
      var n = 0
      while ((head eq null) && rows.hasNext) {
        val r = rows.next()
        if (n < MaxRun - 1 && r._1 == doc) {
          if (n == buf.length) buf = java.util.Arrays.copyOf(buf, n << 1)
          buf(n) = r._2
          n += 1
        } else head = r
      }
      PackedRun(doc, first, if (n == 0) null else java.util.Arrays.copyOf(buf, n))
    }
  }

  /** A doc's runs, concatenated into one (unsorted) packed array. */
  private def concat(runs: Iterator[RunTail]): Array[Long] = {
    var arr = new Array[Long](64)
    var n = 0
    while (runs.hasNext) {
      val r = runs.next()
      val m = if (r.more eq null) 0 else r.more.length
      if (n + 1 + m > arr.length) arr = java.util.Arrays.copyOf(arr, math.max(n + 1 + m, arr.length << 1))
      arr(n) = r.pt
      if (m > 0) System.arraycopy(r.more, 0, arr, n + 1, m)
      n += 1 + m
    }
    if (n == arr.length) arr else java.util.Arrays.copyOf(arr, n)
  }

  /** Sort the packed array (signed long order = (pos, token-unsigned)
    * lexicographic) and split into primitive position/token arrays. */
  private def unpack(pt: Array[Long]): (Array[Int], Array[Int]) = {
    java.util.Arrays.sort(pt)
    val n = pt.length
    val positions = new Array[Int](n)
    val tokens = new Array[Int](n)
    var i = 0
    while (i < n) {
      positions(i) = (pt(i) >> 32).toInt
      tokens(i) = pt(i).toInt
      i += 1
    }
    (positions, tokens)
  }

  /** Per-token features (parity/testing surface; explodes like the grid). */
  def tokenRows(corpus: DataFrame, stepSec: Long = 1L, gapSeconds: Double = 1.5): Dataset[TokenRow] = {
    val state = new DocState(stepSec, gapSeconds)
    corpus
      .select("doc_id", "tokens")
      .where(org.apache.spark.sql.functions.size(org.apache.spark.sql.functions.col("tokens")) > 0)
      .as(Encoders.product[SeqRow])
      .flatMap { r =>
        val buf = new scala.collection.mutable.ArrayBuffer[TokenRow](r.tokens.length)
        state.run(r, buf += _)
        buf
      }(Encoders.product[TokenRow])
  }
}
