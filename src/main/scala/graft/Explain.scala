package graft

import graft.core.{SyntheticCorpus, TokenAdapter}
import graft.features.Kinematic
import graft.session.Sessionize
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan auditor: prints the formatted physical plan of the headline
  * pipelines and asserts the plan-shape invariants that matter at 100 TB.
  *
  *   - flagship window chain: EXACTLY ONE Exchange before the final agg
  *     (all 8 features + sessionize share a single hash partitioning + sort;
  *     the consume-all agg reuses the clustering → no second exchange)
  *   - parquet scans show pushed filters / pruned columns where expected
  *   - small sides of contextual joins are broadcast
  *
  * `sbt -batch "runMain graft.Explain <sfDir>"` — exits non-zero if an
  * invariant fails, so it can run as a gate.
  */
object Explain {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", {
        // fixed dir, wiped up front: repeated gate runs must not accrete
        // dead bucketed copies in /tmp (in-memory catalog forgets the
        // tables between JVMs, so the stale dir would also block CREATE)
        val wh = java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft_explain_wh")
        if (java.nio.file.Files.exists(wh)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(wh).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.delete)
        }
        wh.toString
      })
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    var failures = List.empty[String]
    def check(name: String)(cond: Boolean): Unit =
      if (!cond) failures ::= name

    // --- flagship window chain (the exact job Bench times and RunPipeline
    // ships — one shared definition in FlagshipJob) ---
    val corpus = SyntheticCorpus.generate(spark, 1000)
    // default flagship plan (round 6): the input is pre-grouped, so the
    // zero-shuffle typed kernel is the physical plan — NO exchange, no
    // sort, no window state anywhere
    val flagDefault = graft.pipeline.FlagshipJob.consumeAll(corpus)
    val flagDefaultPlan = flagDefault.queryExecution.executedPlan.toString
    println("=== flagship default (zero-shuffle per-doc kernel) ===")
    flagDefault.explain("formatted")
    val nDefExchanges = "Exchange hashpartitioning".r.findAllIn(flagDefaultPlan).length
    check(s"flagship default: expected 0 hash exchanges, got $nDefExchanges")(nDefExchanges == 0)
    check("flagship default: no window operator")(!flagDefaultPlan.contains("Window"))
    // reference window formulation (semantics reference, unchanged
    // invariants): exactly one exchange + one sort feeding the fused chain
    val flag = graft.pipeline.FlagshipJob.windowReferenceConsumeAll(corpus)
    val flagPlan = flag.queryExecution.executedPlan.toString
    println("=== flagship window reference (explode → 8-feature window → sessionize → agg) ===")
    flag.explain("formatted")
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(flagPlan).length
    check(s"flagship: expected 1 hash exchange, got $nExchanges")(nExchanges == 1)
    val nSorts = "\\bSort \\[".r.findAllIn(flagPlan).length
    check(s"flagship: expected 1 sort, got $nSorts")(nSorts == 1)
    check("flagship: window operator present")(flagPlan.contains("Window"))

    // --- filter pushdown into parquet scan ---
    val filtered = SparkEntry.events(spark, sfDir)
      .where(col("user_id") === 7)
      .select(col("event_id"), col("ts"))
    println("=== filtered scan (pushdown + column pruning) ===")
    filtered.explain("formatted")
    val scanPlan = filtered.queryExecution.executedPlan.toString
    check("scan: filter pushed to parquet")(scanPlan.contains("PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)"))
    check("scan: columns pruned to 3")(
      "ReadSchema: struct<event_id:bigint,ts:timestamp(_ntz)?,user_id:bigint>".r
        .findFirstIn(scanPlan).isDefined)

    // --- contextual join broadcasts the small side ---
    val t = SparkEntry.traj(spark, sfDir)
    val layer = t.where(col("traj_id") === "7").select(col("lat"), col("lon"))
      .withColumn("loc_name", lit("den"))
    val visited = graft.features.Contextual.visitedLocation(t, SparkEntry.S, layer, "den", "loc_name")
    val visitedPlan = visited.queryExecution.executedPlan.toString
    println("=== visited_location (broadcast equality join) ===")
    check("visited: BroadcastHashJoin used")(visitedPlan.contains("BroadcastHashJoin"))

    // --- as-of join: one exchange over the union, no nested-loop ---
    val (probe, build) = SparkEntry.asOfSides(spark, sfDir)
    val asof = graft.asof.AsOfJoin.backward(probe, build, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
    val asofPlan = asof.queryExecution.executedPlan.toString
    println("=== as-of join (union + cumulative last) ===")
    val asofExchanges = "Exchange hashpartitioning".r.findAllIn(asofPlan).length
    check(s"asof: single exchange over the union, got $asofExchanges")(asofExchanges == 1)
    check("asof: no nested loop")(!asofPlan.contains("NestedLoop"))

    // forward: same one-exchange bound (mirrored DESC sort, cumulative
    // frame); nearest: one exchange + two cumulative passes
    val fwdPlan = graft.asof.AsOfJoin.forward(probe, build, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    val fwdExchanges = "Exchange hashpartitioning".r.findAllIn(fwdPlan).length
    check(s"asof forward: single exchange, got $fwdExchanges")(fwdExchanges == 1)
    val nearPlan = graft.asof.AsOfJoin.nearest(probe, build, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    val nearExchanges = "Exchange hashpartitioning".r.findAllIn(nearPlan).length
    val nearWindows = "\\bWindow \\[".r.findAllIn(nearPlan).length
    check(s"asof nearest: single exchange, got $nearExchanges")(nearExchanges == 1)
    // two O(n) cumulative passes (ASC + mirrored DESC), one exchange, no
    // quadratic unboundedFollowing frame anywhere
    check(s"asof nearest: TWO cumulative WindowExecs, got $nearWindows")(nearWindows == 2)
    check("asof nearest: no following-frame aggregate")(!nearPlan.contains("unboundedfollowing$()"))

    // exec directions: the same merge shape (no union, no window state)
    val fwdMergePlan = graft.asof.AsOfMerge.forward(probe, build, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    check("asof forward exec: AsOfMerge planned")(fwdMergePlan.contains("AsOfMerge"))
    check("asof forward exec: no union, no window")(
      !fwdMergePlan.contains("Union") && !fwdMergePlan.contains("Window"))
    val nearMergePlan = graft.asof.AsOfMerge.nearest(probe, build, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    check("asof nearest exec: AsOfMerge planned")(nearMergePlan.contains("AsOfMerge"))
    check("asof nearest exec: no union, no window")(
      !nearMergePlan.contains("Union") && !nearMergePlan.contains("Window"))

    // --- as-of merge on BUCKETED sides: both exchanges elided ---
    // (the scale advantage of the custom exec: pre-clustered storage layouts
    // satisfy its required distribution, so EnsureRequirements plans sorts
    // only — the union+window v1 can never skip its exchange)
    probe.write.mode("overwrite").bucketBy(4, "user_id").saveAsTable("probe_b")
    build.write.mode("overwrite").bucketBy(4, "user_id").saveAsTable("build_b")
    val asofBucketed = graft.asof.AsOfMerge.backward(
      spark.table("probe_b"), spark.table("build_b"), "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"))
    val bucketedPlan = asofBucketed.queryExecution.executedPlan.toString
    println("=== as-of join over bucketed tables (exchange-free) ===")
    val bucketedExchanges = "Exchange hashpartitioning".r.findAllIn(bucketedPlan).length
    check(s"asof bucketed: ZERO exchanges, got $bucketedExchanges")(bucketedExchanges == 0)

    // --- grouped kernel: zero exchanges ---
    val grouped = graft.features.TokenKernel.docVectors(corpus.toDF())
    val groupedPlan = grouped.queryExecution.executedPlan.toString
    println("=== grouped token kernel (must be shuffle-free) ===")
    check("grouped: zero exchanges")(!groupedPlan.contains("Exchange"))

    // --- regroup route (ungrouped general path): each doc's contiguous run
    // packed into one row before ONE pinned exchange (REPARTITION_BY_NUM —
    // AQE cannot coalesce it to a single straggler-bound wave), reused by
    // the group (no second exchange), key-only sort, no aggregate hash map,
    // no window (the window chain's multi-column sort + 8-frame evaluation
    // is what this route replaces; VERDICT r4 #1)
    val regroup = graft.pipeline.FlagshipJob.regroupConsumeAll(corpus.toDF(), numPartitions = Some(32))
    val rsPlan = regroup.queryExecution.executedPlan.toString
    println("=== regroup route (one pinned exchange, key-only sort) ===")
    check("regroup: exactly one hash exchange (repartition reused by group)")(
      "Exchange hashpartitioning".r.findAllIn(rsPlan).length == 1)
    check("regroup: no aggregate operator")(
      !rsPlan.contains("ObjectHashAggregate") && !rsPlan.contains("SortAggregate") &&
        !rsPlan.contains("HashAggregate"))
    check("regroup: one key-only sort")({
      val sorts = "Sort \\[([^\\]]*)\\]".r.findAllMatchIn(rsPlan).map(_.group(1)).toList
      sorts.length == 1 && sorts.head.contains("doc_id") && !sorts.head.contains(",")
    })
    check("regroup: no window operator")(!rsPlan.contains("Window"))
    check("regroup: pinned partition count survives AQE")(regroup.rdd.getNumPartitions == 32)

    // --- kinematic stats: NO percentile ImperativeAggregate (it buffers
    // every group value in executor memory — the 100-TB OOM the two-pass
    // rank formulation exists to avoid) and no object-hash agg on the path ---
    val stats = graft.stats.Stats.kinematicStatsWide(t, SparkEntry.S)
    val statsPlan = stats.queryExecution.executedPlan.toString
    println("=== kinematic stats (two-pass percentiles, no group buffering) ===")
    check("stats: no percentile aggregate")(!statsPlan.toLowerCase.contains("percentile"))
    check("stats: no ObjectHashAggregate")(!statsPlan.contains("ObjectHashAggregate"))

    // --- banded pair joins (embedding LSH, MinHash LSH, SimHash
    // pigeonhole bands): an equi-join on (band, bucket), never all-pairs.
    // Both sides of the self-join must stay canonically equal so exchange
    // reuse evaluates the banded lineage (posexplode + window valve +
    // observe) ONCE — a one-sided observe metric once split the subtrees.
    // Assert the reuse precondition (canonical equality) on the self-join's
    // children: AQE's stage cache and the non-adaptive ReuseExchange rule
    // both key on exactly this. ---
    val docs = SparkEntry.table(spark, sfDir, "documents")
    val emb = SparkEntry.table(spark, sfDir, "embeddings")
    Seq(
      "neardup" -> graft.dedup.Dedup.embeddingNearDupPairs(emb, threshold = 0.2),
      "minhash pairs" -> graft.dedup.Dedup.minhashLshPairs(docs, estThreshold = 0.25),
      "simhash pairs" -> graft.dedup.Dedup.simhashHammingPairs(docs, maxHamming = 3)
    ).foreach { case (name, pairs) =>
      val plan = pairs.queryExecution.executedPlan.toString
      println(s"=== $name (banded equality self-join) ===")
      check(s"$name: no CartesianProduct")(!plan.contains("CartesianProduct"))
      check(s"$name: no BroadcastNestedLoopJoin")(!plan.contains("BroadcastNestedLoop"))
      check(s"$name: banded self-join children canonically equal (exchange reusable)")(
        pairs.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join
              if j.left.canonicalized == j.right.canonicalized => j
        }.nonEmpty)
    }

    // --- exact dedup: ONE exchange (window min over content_hash) ---
    val exactPlan = graft.dedup.Dedup.exact(docs).queryExecution.executedPlan.toString
    println("=== exact dedup (single-shuffle keeper) ===")
    check("exact dedup: exactly one exchange")(
      "Exchange".r.findAllIn(exactPlan).length == 1)
    check("exact dedup: no join")(!exactPlan.contains("Join"))

    // --- IVF: no exchange may key on an array column (the centroid
    // assignment groups by the scalar id only; the embedding rides via
    // first() — VERDICT r4 #4) ---
    val ivf = graft.ann.Similarity.ivfTopK(
      emb.where(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding")),
      emb, k = 3, nCentroids = 4, nProbe = 2)
    val ivfPlan = ivf.queryExecution.executedPlan.toString
    println("=== ivf top-k (scalar-keyed exchanges only) ===")
    check("ivf: no exchange keyed on the embedding array")(
      !"hashpartitioning\\([^)]*_v#".r.findFirstIn(ivfPlan).isDefined &&
        !"hashpartitioning\\([^)]*embedding#".r.findFirstIn(ivfPlan).isDefined)
    check("ivf: no CartesianProduct")(!ivfPlan.contains("CartesianProduct"))

    // --- decontamination: benchmark side broadcast, corpus side scan+agg ---
    val decon = graft.dedup.Dedup.contaminatedDocs(
      docs.where(col("doc_id") >= 20), docs.where(col("doc_id") < 20))
    val deconPlan = decon.queryExecution.executedPlan.toString
    println("=== decontamination (broadcast benchmark shingles) ===")
    check("decontam: benchmark side broadcast")(deconPlan.contains("BroadcastHashJoin"))
    check("decontam: no sort-merge join")(!deconPlan.contains("SortMergeJoin"))

    // --- hash sampling: pure pushed-down filter, zero exchanges ---
    val smp = graft.sample.Sampling.byHash(docs, 0.1, "doc_id")
    val smpPlan = smp.queryExecution.executedPlan.toString
    println("=== hash sampling (filter-only plan) ===")
    check("sampling: no exchange")(!smpPlan.contains("Exchange"))
    check("sampling: no join")(!smpPlan.contains("Join"))

    // --- mixture sampling: thresholds collapse to a literal CASE filter —
    // the corpus scan itself must stay exchange- and join-free ---
    val mix = graft.sample.Sampling.byMixture(docs, "lang", 0.5, 0.2, "doc_id")
    val mixPlan = mix.queryExecution.executedPlan.toString
    println("=== mixture sampling (filter-only corpus scan) ===")
    check("mixture: no exchange")(!mixPlan.contains("Exchange"))
    check("mixture: no join")(!mixPlan.contains("Join"))

    // --- chunking: per-row explode, zero shuffle at any corpus size ---
    val chunked = graft.sample.TokenPacking.chunkTokens(
      docs.select(col("doc_id"), graft.functions.TextHash.tokenHashes(col("text")).as("tokens"))
        .withColumn("n_tok", size(col("tokens"))), "tokens", 128, 16)
    val chunkPlan = chunked.queryExecution.executedPlan.toString
    println("=== context-window chunking (generate-only plan) ===")
    check("chunking: no exchange")(!chunkPlan.contains("Exchange"))
    check("chunking: generator present")(chunkPlan.contains("Generate"))

    // --- quality gate (approx mode): sketch thresholds broadcast back —
    // never a sort-merge join, never a per-stratum window ---
    val scored = graft.text.TextFeatures.withQuality(docs)
    val gate = graft.text.CorpusStats.qualityGate(scored, "quality_score", "source", 0.4)
    val gatePlan = gate.queryExecution.executedPlan.toString
    println("=== quality gate approx mode (broadcast threshold filter) ===")
    check("quality gate: threshold side broadcast")(gatePlan.contains("BroadcastHashJoin")
      || gatePlan.contains("BroadcastNestedLoopJoin"))
    check("quality gate: no sort-merge join")(!gatePlan.contains("SortMergeJoin"))
    check("quality gate: no window")(!gatePlan.contains("Window"))

    // --- interval join (banded): equi-join on (entity, band) — the range
    // predicate must RIDE the hash join, never degrade to nested-loop ---
    val ivProbe = SparkEntry.events(spark, sfDir).select(col("event_id"), col("user_id"), col("ts"))
    val ivBuild = SparkEntry.events(spark, sfDir).limit(100).select(
      col("user_id"), col("ts").as("s"),
      graft.core.Times.fromMicros(graft.core.Times.micros(col("ts")) + 7200000000L,
        org.apache.spark.sql.types.TimestampNTZType).as("e"),
      col("event_id").as("iv_id"))
    val ivJoined = graft.asof.IntervalJoin.banded(ivProbe, ivBuild, "user_id", "ts",
      "s", "e", Seq("iv_id"), probeKey = "event_id", bandSec = 3600.0,
      buildOrder = Seq("iv_id"))
    val ivPlan = ivJoined.queryExecution.executedPlan.toString
    println("=== interval join banded (equi hash/merge join on (entity, band)) ===")
    check("interval: no cartesian product")(!ivPlan.contains("CartesianProduct"))
    check("interval: no broadcast nested loop")(!ivPlan.contains("BroadcastNestedLoopJoin"))
    check("interval: winner election partially aggregated map-side")(
      ivPlan.contains("partial_max_by"))

    // --- gap fill: LOCF + BFILL stacked share ONE exchange (same entity
    // clustering) — the mirrored-DESC bfill adds only its sort; every frame
    // is cumulative (O(1) state), never an unbounded-following buffer ---
    val sparse = t.withColumn("lat", when(pmod(col("event_id"), lit(7L)) < 3L,
      lit(null).cast("double")).otherwise(col("lat")))
    val filledBoth = graft.interp.Fill.bfill(
      graft.interp.Fill.locf(sparse, SparkEntry.S, Seq("lat")),
      SparkEntry.S, Seq("lon"))
    val fillPlan = filledBoth.queryExecution.executedPlan.toString
    println("=== gap fill locf+bfill (one exchange, two mirrored sorts) ===")
    val fillExchanges = "Exchange hashpartitioning".r.findAllIn(fillPlan).length
    check(s"fill: one exchange for both directions, got $fillExchanges")(fillExchanges == 1)
    check("fill: no following-frame aggregate")(!fillPlan.contains("unboundedfollowing$()"))

    // --- rolling window: one exchange, one sort, ONE WindowExec (all five
    // aggregates share the row-bounded trailing frame — buffer is k rows,
    // not the partition) ---
    val rolled = graft.features.Rolling.withRolling(t, SparkEntry.S, "lat", 16)
    val rollPlan = rolled.queryExecution.executedPlan.toString
    println("=== rolling stats (single bounded-frame WindowExec) ===")
    val rollExchanges = "Exchange hashpartitioning".r.findAllIn(rollPlan).length
    val rollWindows = "\\bWindow \\[".r.findAllIn(rollPlan).length
    val rollSorts = "\\bSort \\[".r.findAllIn(rollPlan).length
    check(s"rolling: one exchange, got $rollExchanges")(rollExchanges == 1)
    check(s"rolling: one WindowExec, got $rollWindows")(rollWindows == 1)
    check(s"rolling: one sort, got $rollSorts")(rollSorts == 1)
    check("rolling: no unbounded-following frame")(!rollPlan.contains("unboundedfollowing$()"))

    // --- time-range rolling: same single exchange/sort/WindowExec shape,
    // value-bounded RANGE frame (state = rows inside the span, never the
    // whole partition) ---
    val trolled = graft.features.Rolling.withRollingTime(t, SparkEntry.S, "lat", 1800.0)
    val trollPlan = trolled.queryExecution.executedPlan.toString
    println("=== time-range rolling (single RANGE-frame WindowExec) ===")
    val trollExchanges = "Exchange hashpartitioning".r.findAllIn(trollPlan).length
    val trollWindows = "\\bWindow \\[".r.findAllIn(trollPlan).length
    check(s"troll: one exchange, got $trollExchanges")(trollExchanges == 1)
    check(s"troll: one WindowExec, got $trollWindows")(trollWindows == 1)
    check("troll: no unbounded-following frame")(!trollPlan.contains("unboundedfollowing$()"))

    // --- resample: ONE partial-aggregated hash aggregate on (entity, bin)
    // — the shuffle carries one row per (entity, bin) per map partition,
    // never per ping; no window, no sort ---
    val res = graft.features.Resample.downsample(t, SparkEntry.S, 21600.0)
    val resPlan = res.queryExecution.executedPlan.toString
    println("=== resample (one map-side-combined aggregate, no window) ===")
    val resExchanges = "Exchange hashpartitioning".r.findAllIn(resPlan).length
    check(s"resample: one exchange, got $resExchanges")(resExchanges == 1)
    check("resample: map-side partial aggregation")(
      resPlan.contains("partial_min_by") || resPlan.contains("partial_count"))
    check("resample: no WindowExec")(!"\\bWindow \\[".r.findAllIn(resPlan).hasNext)

    // --- JSON extraction: pure scan-level projection — zero exchanges,
    // zero joins, and the optimizer must have pruned the parse schema to
    // the single requested field (JsonToStructs is CodegenFallback, so the
    // projection is legitimately outside whole-stage codegen) ---
    val jsonDf = graft.sources.Json.extract(
      SparkEntry.events(spark, sfDir).select(col("event_id"), col("props")),
      "props", Seq("k" -> org.apache.spark.sql.types.LongType), prefix = "props_")
    val jsonPlan = jsonDf.queryExecution.executedPlan.toString
    val jsonOpt = jsonDf.queryExecution.optimizedPlan.toString
    println("=== json extract (scan-level, pruned parse) ===")
    check("json: zero exchanges")(!jsonPlan.contains("Exchange"))
    check("json: no join")(!jsonPlan.contains("Join"))
    check("json: parse schema pruned to the requested field")(
      jsonOpt.contains("from_json(StructField(k,LongType,true)"))

    // --- rolling z-score: the count + two sums must fuse into the SAME
    // single bounded-frame WindowExec (chained frames would re-sort) ---
    val zrolled = graft.features.Rolling.withRollingZ(t, SparkEntry.S, "lat", 16)
    val zrollPlan = zrolled.queryExecution.executedPlan.toString
    println("=== rolling z-score (one fused bounded-frame WindowExec) ===")
    check(s"zroll: one exchange")("Exchange hashpartitioning".r.findAllIn(zrollPlan).length == 1)
    check(s"zroll: one WindowExec")("\\bWindow \\[".r.findAllIn(zrollPlan).length == 1)
    check("zroll: no unbounded-following frame")(!zrollPlan.contains("unboundedfollowing$()"))

    // --- EWM/CUSUM sequential kernel: ONE exchange, ONE within-partition
    // sort feeding the O(1)-state MapPartitions fold; no window, no
    // whole-group buffering (flatMapGroups would show AppendColumns) ---
    val ewmad = graft.features.Ewma.withEwma(t, SparkEntry.S, "lat", alpha = 0.25, kappa = 0.05)
    val ewmaPlan = ewmad.queryExecution.executedPlan.toString
    println("=== ewma (secondary-sort kernel: exchange + sort + mapPartitions) ===")
    check("ewma: exactly one exchange")("Exchange".r.findAllIn(ewmaPlan).length == 1)
    check("ewma: one sort")("\\bSort \\[".r.findAllIn(ewmaPlan).length == 1)
    check("ewma: streaming mapPartitions kernel")(ewmaPlan.contains("MapPartitions"))
    check("ewma: no WindowExec")(!"\\bWindow \\[".r.findAllIn(ewmaPlan).hasNext)
    check("ewma: no per-group buffering (AppendColumns)")(!ewmaPlan.contains("AppendColumns"))

    // --- per-key cap: the rank filter must trigger the WindowGroupLimit
    // rewrite — a map-side top-n per key BEFORE the exchange, so a whale
    // key ships O(n × tasks) rows, never its full row set ---
    val capped = graft.sample.Sampling.capPerKey(
      SparkEntry.events(spark, sfDir).select(col("event_id"), col("event_type"), col("value")),
      "event_type", 15, Seq(col("value").desc, col("event_id").asc))
    val capPlan = capped.queryExecution.executedPlan.toString
    println("=== capPerKey (map-side WindowGroupLimit) ===")
    check("cap: WindowGroupLimit rewrite fired")(capPlan.contains("WindowGroupLimit"))
    check("cap: group limit on BOTH sides of the exchange")({
      val ex = capPlan.indexOf("Exchange")
      ex >= 0 && capPlan.indexOf("WindowGroupLimit") < ex &&
        capPlan.indexOf("WindowGroupLimit", ex) > ex
    })

    // --- mobility descriptors: two aggregates + a tiny per-entity join;
    // the entropy normalizer window must consume the (entity, cell)
    // AGGREGATE (tiny), never the point grid ---
    val mob = graft.features.Mobility.withMobility(t, SparkEntry.S)
    val mobPlan = mob.queryExecution.executedPlan.toString
    println("=== mobility (2 aggs + tiny join, cell-level normalizer) ===")
    check("mobility: no cartesian / nested loop")(
      !mobPlan.contains("CartesianProduct") && !mobPlan.contains("BroadcastNestedLoop"))
    check("mobility: exactly two windows (point centroid + cell normalizer)")(
      "\\bWindow \\[".r.findAllIn(mobPlan).length == 2)
    check("mobility: map-side partial aggregation")(mobPlan.contains("partial_count"))

    // --- table profile (approx mode — the production default): ONE
    // map-side-combined pass, no Expand replication, one-row shuffle ---
    val prof = graft.stats.Profile.profile(t, Seq("traj_id", "event_id", "lat", "lon"))
    val profPlan = prof.queryExecution.executedPlan.toString
    println("=== profile (single-pass HLL, no Expand) ===")
    check("profile: no Expand in approx mode")(!profPlan.contains("Expand"))
    check("profile: map-side partial aggregation")(profPlan.contains("partial_count"))
    check("profile: one exchange")("Exchange".r.findAllIn(profPlan).length == 1)

    // --- spatial proximity join: the 3×3 grid banding must reach the
    // planner as an EQUI-join on the cell key — the one shape that scales;
    // a cartesian / nested-loop here is the 2-D O(n²) trap ---
    val sp2d = graft.kernels.SpatialJoin.selfWithinDistance(
      SparkEntry.traj(spark, sfDir), distM = 100.0, cellLatDeg = 0.001, cellLonDeg = 0.0015)
    val sp2dPlan = sp2d.queryExecution.executedPlan.toString
    println("=== spatial proximity (cell-keyed equi-join) ===")
    check("spatial: no cartesian product")(!sp2dPlan.contains("CartesianProduct"))
    check("spatial: no nested-loop join")(!sp2dPlan.contains("BroadcastNestedLoop"))
    check("spatial: a join is present (banding did not degrade to a filter)")(
      sp2dPlan.contains("Join"))

    // --- transition matrix: lead rides the shared entity clustering (one
    // exchange + sort), the count is map-side-combined, and the
    // normalizing window runs over the TINY aggregate — never the grid ---
    val trans = graft.features.Transitions.transitionCounts(
      SparkEntry.events(spark, sfDir),
      graft.core.TrajSchema(id = "user_id", orderCols = Seq("event_id")), "event_type")
    val transPlan = trans.queryExecution.executedPlan.toString
    println("=== transitions (entity lead + map-combined agg + tiny norm window) ===")
    check("trans: map-side partial count")(transPlan.contains("partial_count"))
    check("trans: at most 3 exchanges")("Exchange".r.findAllIn(transPlan).length <= 3)
    check("trans: the norm window sits ABOVE the aggregate (post-shrink)")({
      val agg = transPlan.indexOf("HashAggregate")
      val win = "\\bWindow \\[".r.findFirstMatchIn(transPlan).map(_.start).getOrElse(-1)
      // plan prints root-first: above = smaller index
      agg >= 0 && win >= 0 && win < agg
    })

    // --- BPE pair counts: per-row pair explode (no join), ONE
    // map-side-combined aggregate, topK via TakeOrdered (no global sort) ---
    val pc = graft.text.TokenStats.pairCounts(
      docs.select(col("doc_id"), graft.functions.TextHash.tokenHashes(col("text")).as("tokens")),
      topK = 64)
    val pcPlan = pc.queryExecution.executedPlan.toString
    println("=== token pair counts (map-combined agg + TakeOrdered) ===")
    check("pairs: no join")(!pcPlan.contains("Join"))
    check("pairs: map-side partial count")(pcPlan.contains("partial_count"))
    check("pairs: TakeOrderedAndProject, no global Sort")(
      pcPlan.contains("TakeOrderedAndProject") && !"\\bSort \\[".r.findAllIn(pcPlan).hasNext)
    check("pairs: one exchange")("Exchange".r.findAllIn(pcPlan).length == 1)

    // --- stream as-of (batch formulation): compacted bounded build side
    // joins on the ENTITY with a hash join — never nested-loop over
    // histories — and the keep-last-N compaction is a map-side
    // WindowGroupLimit (a whale entity never ships its full history) ---
    val saHist = graft.streaming.StreamAsOf.compactBuild(build, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"), buildOrder = Seq("o_orderkey"), keepLastN = 64)
    val saHistPlan = saHist.queryExecution.executedPlan.toString
    val sa = graft.streaming.StreamAsOf.enrichCompacted(probe, saHist, "user_id", "ts",
      Seq("o_orderkey", "o_totalprice"))
    val saPlan = sa.queryExecution.executedPlan.toString
    println("=== stream as-of (stateless stream-static equi-join, bounded build) ===")
    check("stream asof: no cartesian product")(!saPlan.contains("CartesianProduct"))
    check("stream asof: no nested loop")(!saPlan.contains("NestedLoop"))
    check("stream asof: keep-last-N compaction is a map-side WindowGroupLimit")(
      saHistPlan.contains("WindowGroupLimit"))
    check("stream asof: probe side carries no window state")(
      // the rank window lives ONLY in the build compaction subtree
      "Window ".r.findAllIn(saPlan).length <= "Window ".r.findAllIn(saHistPlan).length)

    // --- visited_poi: inline predicate — single scan, zero joins/shuffles ---
    val sur = t.where(col("traj_id") === "3")
      .select(col("lat"), col("lon"), (col("lat") * 1000.0).as("dist_poi"))
    val poi = graft.features.Contextual.visitedPoi(t, SparkEntry.S, sur, "dist_poi", 5000.0)
    val poiPlan = poi.queryExecution.executedPlan.toString
    println("=== visited_poi (inlined OR-chain — no join, no exchange) ===")
    check("visited_poi: no join")(!poiPlan.contains("Join"))
    check("visited_poi: no exchange")(!poiPlan.contains("Exchange"))

    if (failures.nonEmpty) {
      System.err.println("PLAN INVARIANT FAILURES:")
      failures.reverse.foreach(f => System.err.println(s"  ✗ $f"))
      spark.stop()
      sys.exit(1)
    }
    println("ALL PLAN INVARIANTS HOLD")
    spark.stop()
  }
}
