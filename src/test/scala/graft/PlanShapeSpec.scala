package graft

import graft.core.SyntheticCorpus
import org.apache.spark.sql.{DataFrame, Dataset, functions}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.scalactic.source.Position

/** Plan-shape invariants of the scale paths at sf0.001: exchange, sort and
  * window counts, pushed filters, broadcasts, map-side partial aggregates,
  * equi-joins instead of nested loops. A failure names the invariant and
  * prints the formatted physical plan.
  *
  * Sections an operator's own spec already pins live there: the default
  * flagship (FlagshipParitySpec), the regroup route (RegroupKernelSpec),
  * the as-of merge exec (AsOfMergeSpec), capPerKey (EwmaCapSpec),
  * mobility, profile and spatial join (their specs), token pair counts
  * (TransitionPairSpec) and the pruned JSON parse (ResampleJsonSpec). */
class PlanShapeSpec extends SparkSpec {

  private lazy val dir = sfDir("0.001")
  private lazy val corpus = SyntheticCorpus.generate(spark, 1000)
  private lazy val t = SparkEntry.traj(spark, dir)
  private lazy val docs = SparkEntry.table(spark, dir, "documents")
  private lazy val emb = SparkEntry.table(spark, dir, "embeddings")
  private lazy val (probe, build) = SparkEntry.asOfSides(spark, dir)
  private val AsOfValues = Seq("o_orderkey", "o_totalprice")

  private def planOf(df: Dataset[_]): String = df.queryExecution.executedPlan.toString
  private def count(regex: String, plan: String): Int = regex.r.findAllIn(plan).length

  /** Fails with the invariant's name and `df`'s formatted plan. */
  private def assertPlan(df: Dataset[_], name: String)(cond: Boolean)(implicit pos: Position): Unit =
    if (!cond) fail(s"$name\n${df.queryExecution.explainString(FormattedMode)}")

  test("flagship window reference: one exchange and one sort feed the fused chain") {
    val flag = graft.pipeline.FlagshipJob.windowReferenceConsumeAll(corpus)
    val flagPlan = planOf(flag)
    val nExchanges = count("Exchange hashpartitioning", flagPlan)
    assertPlan(flag, s"flagship: expected 1 hash exchange, got $nExchanges")(nExchanges == 1)
    val nSorts = count("\\bSort \\[", flagPlan)
    assertPlan(flag, s"flagship: expected 1 sort, got $nSorts")(nSorts == 1)
    assertPlan(flag, "flagship: window operator present")(flagPlan.contains("Window"))
  }

  test("filtered scan: filter pushed down, columns pruned") {
    val filtered = SparkEntry.events(spark, dir)
      .where(col("user_id") === 7)
      .select(col("event_id"), col("ts"))
    val scanPlan = planOf(filtered)
    assertPlan(filtered, "scan: filter pushed to parquet")(
      scanPlan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)"))
    assertPlan(filtered, "scan: columns pruned to 3")(
      "ReadSchema: struct<event_id:bigint,ts:timestamp(_ntz)?,user_id:bigint>".r
        .findFirstIn(scanPlan).isDefined)
  }

  test("visited_location broadcasts the layer") {
    val layer = t.where(col("traj_id") === "7").select(col("lat"), col("lon"))
      .withColumn("loc_name", lit("den"))
    val visited = graft.features.Contextual.visitedLocation(t, SparkEntry.S, layer, "den", "loc_name")
    assertPlan(visited, "visited: BroadcastHashJoin used")(planOf(visited).contains("BroadcastHashJoin"))
  }

  test("as-of join (union + cumulative last): one exchange over the union, no nested loop") {
    val asof = graft.asof.AsOfJoin.backward(probe, build, "user_id", "ts", AsOfValues,
      buildOrder = Seq("o_orderkey"))
    val asofPlan = planOf(asof)
    val asofExchanges = count("Exchange hashpartitioning", asofPlan)
    assertPlan(asof, s"asof: single exchange over the union, got $asofExchanges")(asofExchanges == 1)
    assertPlan(asof, "asof: no nested loop")(!asofPlan.contains("NestedLoop"))
  }

  test("as-of forward and nearest: one exchange; nearest runs two cumulative passes") {
    val fwd = graft.asof.AsOfJoin.forward(probe, build, "user_id", "ts", AsOfValues,
      buildOrder = Seq("o_orderkey"))
    val fwdExchanges = count("Exchange hashpartitioning", planOf(fwd))
    assertPlan(fwd, s"asof forward: single exchange, got $fwdExchanges")(fwdExchanges == 1)
    val near = graft.asof.AsOfJoin.nearest(probe, build, "user_id", "ts", AsOfValues,
      buildOrder = Seq("o_orderkey"))
    val nearPlan = planOf(near)
    val nearExchanges = count("Exchange hashpartitioning", nearPlan)
    val nearWindows = count("\\bWindow \\[", nearPlan)
    assertPlan(near, s"asof nearest: single exchange, got $nearExchanges")(nearExchanges == 1)
    // ASC + mirrored DESC, never a quadratic unboundedFollowing frame
    assertPlan(near, s"asof nearest: TWO cumulative WindowExecs, got $nearWindows")(nearWindows == 2)
    assertPlan(near, "asof nearest: no following-frame aggregate")(
      !nearPlan.contains("unboundedfollowing$()"))
  }

  test("banded as-of queries run at most 4 stages: key sample, two map stages, the walk") {
    val sc = spark.sparkContext
    for (q <- SparkEntry.select(Seq("q_asof_orders_banded", "q_asof_forward_banded",
        "q_asof_nearest_banded"))) {
      val df = q.build(spark, dir)
      val stages = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
          stages.incrementAndGet()
      }
      org.apache.spark.BusDrain.drain(sc)
      sc.addSparkListener(listener)
      try {
        df.write.format("noop").mode("overwrite").save()
        org.apache.spark.BusDrain.drain(sc)
      } finally sc.removeSparkListener(listener)
      assertPlan(df, s"${q.name}: ${stages.get} stages run, at most 4 expected")(stages.get <= 4)
    }
  }

  test("tf-idf counts terms in the row: no (doc_id, term) exchange, at most 6 jobs") {
    val sc = spark.sparkContext
    val q = SparkEntry.select(Seq("q_txt_tfidf")).head
    val df = q.build(spark, dir)
    val keyed = "hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(planOf(df)).map(_.group(1))
      .filter(k => k.contains("doc_id#") && k.contains("term#")).toList
    assertPlan(df, s"q_txt_tfidf: exchange keyed on (doc_id, term): $keyed")(keyed.isEmpty)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.BusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      org.apache.spark.BusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    assertPlan(df, s"q_txt_tfidf: ${jobs.get} jobs run, at most 6 expected")(jobs.get <= 6)
  }

  test("a groupBy(entity) over the range-mode as-of still plans its exchange") {
    val banded = graft.asof.AsOfBanded.backwardBanded(probe, build, "user_id", "ts", AsOfValues,
      buildOrder = Seq("o_orderkey"))
    val perUser = banded.groupBy("user_id").agg(functions.count("*"))
    val perUserPlan = planOf(perUser)
    // range slices split an entity, so no hash clustering may be claimed
    assertPlan(perUser, "range-mode as-of: groupBy(entity) plans a hash exchange")(
      count("Exchange hashpartitioning\\(user_id", perUserPlan) == 1)
    assertPlan(perUser, "range-mode as-of: the exec shuffles its own children")(
      count("Exchange", perUserPlan) == 1)
  }

  test("as-of merge over bucketed tables plans no exchange") {
    // pre-clustered storage satisfies the exec's required distribution, so
    // EnsureRequirements plans sorts only; external tables under a temp dir
    // leave no warehouse and no catalog entry behind
    val root = java.nio.file.Files.createTempDirectory("graft_bucketed_")
    try {
      probe.write.mode("overwrite").option("path", s"$root/probe_b")
        .bucketBy(4, "user_id").saveAsTable("probe_b")
      build.write.mode("overwrite").option("path", s"$root/build_b")
        .bucketBy(4, "user_id").saveAsTable("build_b")
      val asofBucketed = graft.asof.AsOfMerge.backward(
        spark.table("probe_b"), spark.table("build_b"), "user_id", "ts", AsOfValues,
        buildOrder = Seq("o_orderkey"))
      val bucketedExchanges = count("Exchange hashpartitioning", planOf(asofBucketed))
      assertPlan(asofBucketed, s"asof bucketed: ZERO exchanges, got $bucketedExchanges")(
        bucketedExchanges == 0)
    } finally {
      spark.sql("DROP TABLE IF EXISTS probe_b")
      spark.sql("DROP TABLE IF EXISTS build_b")
      org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    }
  }

  test("grouped token kernel is shuffle-free") {
    val grouped = graft.features.TokenKernel.docVectors(corpus.toDF())
    assertPlan(grouped, "grouped: zero exchanges")(!planOf(grouped).contains("Exchange"))
  }

  test("kinematic stats: two-pass percentiles, no group buffering") {
    val stats = graft.stats.Stats.kinematicStatsWide(t, SparkEntry.S)
    val statsPlan = planOf(stats)
    assertPlan(stats, "stats: no percentile aggregate")(!statsPlan.toLowerCase.contains("percentile"))
    assertPlan(stats, "stats: no ObjectHashAggregate")(!statsPlan.contains("ObjectHashAggregate"))
  }

  // an equi-join on (band, bucket), never all-pairs; both self-join children
  // stay canonically equal, the precondition of exchange reuse (AQE's stage
  // cache and ReuseExchange both key on it), so the banded lineage runs once
  for ((name, pairs) <- Seq[(String, () => DataFrame)](
      "neardup" -> (() => graft.dedup.Dedup.embeddingNearDupPairs(emb, threshold = 0.2)),
      "minhash pairs" -> (() => graft.dedup.Dedup.minhashLshPairs(docs, estThreshold = 0.25)),
      "simhash pairs" -> (() => graft.dedup.Dedup.simhashHammingPairs(docs, maxHamming = 3))))
    test(s"$name: banded equality self-join") {
      val df = pairs()
      val plan = planOf(df)
      assertPlan(df, s"$name: no CartesianProduct")(!plan.contains("CartesianProduct"))
      assertPlan(df, s"$name: no BroadcastNestedLoopJoin")(!plan.contains("BroadcastNestedLoop"))
      assertPlan(df, s"$name: banded self-join children canonically equal (exchange reusable)")(
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.left.canonicalized == j.right.canonicalized => j
        }.nonEmpty)
    }

  test("exact dedup: one exchange, no join") {
    val exact = graft.dedup.Dedup.exact(docs)
    val exactPlan = planOf(exact)
    assertPlan(exact, "exact dedup: exactly one exchange")(count("Exchange", exactPlan) == 1)
    assertPlan(exact, "exact dedup: no join")(!exactPlan.contains("Join"))
  }

  test("ivf top-k: scalar-keyed exchanges only") {
    val ivf = graft.ann.Similarity.ivfTopK(
      emb.where(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
      emb, k = 3, nCentroids = 4, nProbe = 2)
    val ivfPlan = planOf(ivf)
    assertPlan(ivf, "ivf: no exchange keyed on the embedding array")(
      !"hashpartitioning\\([^)]*_v#".r.findFirstIn(ivfPlan).isDefined &&
        !"hashpartitioning\\([^)]*embedding#".r.findFirstIn(ivfPlan).isDefined)
    assertPlan(ivf, "ivf: no CartesianProduct")(!ivfPlan.contains("CartesianProduct"))
  }

  test("decontamination broadcasts the benchmark shingles") {
    // size-based broadcasts off: only the operator's own hint can broadcast
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.getAll.get(key)
    spark.conf.set(key, "-1")
    try {
      val decon = graft.dedup.Dedup.contaminatedDocs(
        docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20))
      val deconPlan = planOf(decon)
      assertPlan(decon, "decontam: benchmark side broadcast")(deconPlan.contains("BroadcastHashJoin"))
      assertPlan(decon, "decontam: no sort-merge join")(!deconPlan.contains("SortMergeJoin"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("hash sampling: filter-only plan") {
    val smp = graft.sample.Sampling.byHash(docs, 0.1, "doc_id")
    val smpPlan = planOf(smp)
    assertPlan(smp, "sampling: no exchange")(!smpPlan.contains("Exchange"))
    assertPlan(smp, "sampling: no join")(!smpPlan.contains("Join"))
  }

  test("mixture sampling: filter-only corpus scan") {
    val mix = graft.sample.Sampling.byMixture(docs, "lang", 0.5, 0.2, "doc_id")
    val mixPlan = planOf(mix)
    assertPlan(mix, "mixture: no exchange")(!mixPlan.contains("Exchange"))
    assertPlan(mix, "mixture: no join")(!mixPlan.contains("Join"))
  }

  test("context-window chunking: generate-only plan") {
    val chunked = graft.sample.TokenPacking.chunkTokens(
      docs.select(col("doc_id"), graft.functions.TextHash.tokenHashes(col("text")).as("tokens"))
        .withColumn("n_tok", size(col("tokens"))), "tokens", 128, 16)
    val chunkPlan = planOf(chunked)
    assertPlan(chunked, "chunking: no exchange")(!chunkPlan.contains("Exchange"))
    assertPlan(chunked, "chunking: generator present")(chunkPlan.contains("Generate"))
  }

  test("quality gate approx mode: broadcast threshold filter") {
    val scored = graft.text.TextFeatures.withQuality(docs)
    val gate = graft.text.CorpusStats.qualityGate(scored, "quality_score", "source", 0.4)
    val gatePlan = planOf(gate)
    assertPlan(gate, "quality gate: threshold side broadcast")(gatePlan.contains("BroadcastHashJoin")
      || gatePlan.contains("BroadcastNestedLoopJoin"))
    assertPlan(gate, "quality gate: no sort-merge join")(!gatePlan.contains("SortMergeJoin"))
    assertPlan(gate, "quality gate: no window")(!gatePlan.contains("Window"))
  }

  test("interval join banded: equi-join on (entity, band)") {
    val ivProbe = SparkEntry.events(spark, dir).select(col("event_id"), col("user_id"), col("ts"))
    val ivBuild = SparkEntry.events(spark, dir).limit(100).select(
      col("user_id"), col("ts").as("s"),
      graft.core.Times.fromMicros(graft.core.Times.micros(col("ts")) + 7200000000L,
        org.apache.spark.sql.types.TimestampNTZType).as("e"),
      col("event_id").as("iv_id"))
    val ivJoined = graft.asof.IntervalJoin.banded(ivProbe, ivBuild, "user_id", "ts",
      "s", "e", Seq("iv_id"), probeKey = "event_id", bandSec = 3600.0,
      buildOrder = Seq("iv_id"))
    val ivPlan = planOf(ivJoined)
    assertPlan(ivJoined, "interval: no cartesian product")(!ivPlan.contains("CartesianProduct"))
    assertPlan(ivJoined, "interval: no broadcast nested loop")(!ivPlan.contains("BroadcastNestedLoopJoin"))
    assertPlan(ivJoined, "interval: winner election partially aggregated map-side")(
      ivPlan.contains("partial_max_by"))
  }

  test("gap fill locf + bfill: one exchange, cumulative frames only") {
    val sparse = t.withColumn("lat", when(pmod(col("event_id"), lit(7L)) < 3L,
      lit(null).cast("double")).otherwise(col("lat")))
    val filledBoth = graft.interp.Fill.bfill(
      graft.interp.Fill.locf(sparse, SparkEntry.S, Seq("lat")),
      SparkEntry.S, Seq("lon"))
    val fillPlan = planOf(filledBoth)
    val fillExchanges = count("Exchange hashpartitioning", fillPlan)
    assertPlan(filledBoth, s"fill: one exchange for both directions, got $fillExchanges")(fillExchanges == 1)
    assertPlan(filledBoth, "fill: no following-frame aggregate")(!fillPlan.contains("unboundedfollowing$()"))
  }

  test("rolling stats: one bounded-frame WindowExec") {
    val rolled = graft.features.Rolling.withRolling(t, SparkEntry.S, "lat", 16)
    val rollPlan = planOf(rolled)
    val rollExchanges = count("Exchange hashpartitioning", rollPlan)
    val rollWindows = count("\\bWindow \\[", rollPlan)
    val rollSorts = count("\\bSort \\[", rollPlan)
    assertPlan(rolled, s"rolling: one exchange, got $rollExchanges")(rollExchanges == 1)
    assertPlan(rolled, s"rolling: one WindowExec, got $rollWindows")(rollWindows == 1)
    assertPlan(rolled, s"rolling: one sort, got $rollSorts")(rollSorts == 1)
    assertPlan(rolled, "rolling: no unbounded-following frame")(!rollPlan.contains("unboundedfollowing$()"))
  }

  test("time-range rolling: one RANGE-frame WindowExec") {
    val trolled = graft.features.Rolling.withRollingTime(t, SparkEntry.S, "lat", 1800.0)
    val trollPlan = planOf(trolled)
    val trollExchanges = count("Exchange hashpartitioning", trollPlan)
    val trollWindows = count("\\bWindow \\[", trollPlan)
    assertPlan(trolled, s"troll: one exchange, got $trollExchanges")(trollExchanges == 1)
    assertPlan(trolled, s"troll: one WindowExec, got $trollWindows")(trollWindows == 1)
    assertPlan(trolled, "troll: no unbounded-following frame")(!trollPlan.contains("unboundedfollowing$()"))
  }

  test("resample: one map-side-combined aggregate, no window") {
    val res = graft.features.Resample.downsample(t, SparkEntry.S, 21600.0)
    val resPlan = planOf(res)
    val resExchanges = count("Exchange hashpartitioning", resPlan)
    assertPlan(res, s"resample: one exchange, got $resExchanges")(resExchanges == 1)
    assertPlan(res, "resample: map-side partial aggregation")(
      resPlan.contains("partial_min_by") || resPlan.contains("partial_count"))
    assertPlan(res, "resample: no WindowExec")(!"\\bWindow \\[".r.findAllIn(resPlan).hasNext)
  }

  test("rolling z-score: count and sums fuse into one bounded-frame WindowExec") {
    val zrolled = graft.features.Rolling.withRollingZ(t, SparkEntry.S, "lat", 16)
    val zrollPlan = planOf(zrolled)
    assertPlan(zrolled, "zroll: one exchange")(count("Exchange hashpartitioning", zrollPlan) == 1)
    assertPlan(zrolled, "zroll: one WindowExec")(count("\\bWindow \\[", zrollPlan) == 1)
    assertPlan(zrolled, "zroll: no unbounded-following frame")(!zrollPlan.contains("unboundedfollowing$()"))
  }

  test("ewma: exchange + sort + streaming mapPartitions kernel") {
    val ewmad = graft.features.Ewma.withEwma(t, SparkEntry.S, "lat", alpha = 0.25, kappa = 0.05)
    val ewmaPlan = planOf(ewmad)
    assertPlan(ewmad, "ewma: exactly one exchange")(count("Exchange", ewmaPlan) == 1)
    assertPlan(ewmad, "ewma: one sort")(count("\\bSort \\[", ewmaPlan) == 1)
    assertPlan(ewmad, "ewma: streaming mapPartitions kernel")(ewmaPlan.contains("MapPartitions"))
    assertPlan(ewmad, "ewma: no WindowExec")(!"\\bWindow \\[".r.findAllIn(ewmaPlan).hasNext)
    // flatMapGroups would show AppendColumns
    assertPlan(ewmad, "ewma: no per-group buffering (AppendColumns)")(!ewmaPlan.contains("AppendColumns"))
  }

  test("transitions: entity lead, map-combined count, norm window over the aggregate") {
    val trans = graft.features.Transitions.transitionCounts(
      SparkEntry.events(spark, dir),
      graft.core.TrajSchema(id = "user_id", orderCols = Seq("event_id")), "event_type")
    val transPlan = planOf(trans)
    assertPlan(trans, "trans: map-side partial count")(transPlan.contains("partial_count"))
    assertPlan(trans, "trans: at most 3 exchanges")(count("Exchange", transPlan) <= 3)
    assertPlan(trans, "trans: the norm window sits ABOVE the aggregate (post-shrink)") {
      val agg = transPlan.indexOf("HashAggregate")
      val win = "\\bWindow \\[".r.findFirstMatchIn(transPlan).map(_.start).getOrElse(-1)
      // plan prints root-first: above = smaller index
      agg >= 0 && win >= 0 && win < agg
    }
  }

  test("stream as-of (batch form): entity hash join over a map-side compacted build") {
    val saHist = graft.streaming.StreamAsOf.compactBuild(build, "user_id", "ts",
      AsOfValues, buildOrder = Seq("o_orderkey"), keepLastN = 64)
    val saHistPlan = planOf(saHist)
    val sa = graft.streaming.StreamAsOf.enrichCompacted(probe, saHist, "user_id", "ts", AsOfValues)
    val saPlan = planOf(sa)
    assertPlan(sa, "stream asof: no cartesian product")(!saPlan.contains("CartesianProduct"))
    assertPlan(sa, "stream asof: no nested loop")(!saPlan.contains("NestedLoop"))
    assertPlan(saHist, "stream asof: keep-last-N compaction is a map-side WindowGroupLimit")(
      saHistPlan.contains("WindowGroupLimit"))
    // the rank window lives ONLY in the build compaction subtree
    assertPlan(sa, "stream asof: probe side carries no window state")(
      count("Window ", saPlan) <= count("Window ", saHistPlan))
  }

  test("visited_poi: inlined predicate, no join, no exchange") {
    val sur = t.where(col("traj_id") === "3")
      .select(col("lat"), col("lon"), (col("lat") * 1000.0).as("dist_poi"))
    val poi = graft.features.Contextual.visitedPoi(t, SparkEntry.S, sur, "dist_poi", 5000.0)
    val poiPlan = planOf(poi)
    assertPlan(poi, "visited_poi: no join")(!poiPlan.contains("Join"))
    assertPlan(poi, "visited_poi: no exchange")(!poiPlan.contains("Exchange"))
  }
}
