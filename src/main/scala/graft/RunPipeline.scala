package graft

import graft.core.{SyntheticCorpus, TokenAdapter}
import graft.pipeline.{FlagshipJob, Pipeline}
import org.apache.spark.sql.functions._

/** End-to-end pipeline driver (the north rule's spark-submit story): the
  * full feature job — tokenized corpus → kinematic+session feature vectors
  * → per-doc stats — executed through [[Pipeline.Runner]] so every stage
  * commits per-bucket lineage + observe() metrics and RESUMES from its
  * manifest after a crash.
  *
  *   sbt -batch "runMain graft.RunPipeline <outRoot> [nDocs] [nBuckets] [path]"
  *   # or spark-submit --class graft.RunPipeline <jar> <outRoot> ...
  *
  * `path` = grouped (default; [[FlagshipJob.consumeAll]], the shuffle-free
  * typed kernel) | window ([[FlagshipJob.windowReferenceConsumeAll]]:
  * explode → fused window chain). Both write the same consume-all schema;
  * any other value is rejected. Runs on the shared [[Driver.session]].
  * Re-running with the same outRoot skips completed buckets (crash-resume);
  * pass a fresh outRoot for a clean run. Exit asserts the token-array
  * round-trip invariant and prints one JSON status line.
  */
object RunPipeline {

  def main(args: Array[String]): Unit = {
    val outRoot = args.headOption.getOrElse(s"${sys.props("java.io.tmpdir")}/graft_pipeline")
    val nDocs = args.lift(1).map(_.toLong).getOrElse(100000L)
    val nBuckets = args.lift(2).map(_.toInt).getOrElse(16)
    val pathKind = args.lift(3).getOrElse("grouped")
    require(pathKind == "grouped" || pathKind == "window",
      s"path must be grouped or window, got '$pathKind'")

    val spark = Driver.session()

    val corpus = SyntheticCorpus.generate(spark, nDocs).cache()
    val runner = Pipeline.local(outRoot)

    // Resume is only valid against the SAME job config: a manifest written
    // by a different (nDocs, nBuckets, path) run would silently mix stale
    // buckets into readStage's glob. Fingerprint and refuse on mismatch.
    val fingerprint = s"""{"docs":$nDocs,"buckets":$nBuckets,"path":"$pathKind"}"""
    val fpPath = java.nio.file.Paths.get(s"$outRoot/_config.json")
    val resumedS1 = runner.completedBuckets("feature_vectors").size
    if (java.nio.file.Files.exists(fpPath)) {
      val prev = java.nio.file.Files.readString(fpPath)
      require(prev == fingerprint,
        s"outRoot $outRoot holds a run with different config $prev — use a fresh outRoot for $fingerprint")
    } else {
      // a manifest WITHOUT a fingerprint is unattributable work (pre-dating
      // this guard, or a foreign writer) — refuse rather than silently mix
      require(resumedS1 == 0,
        s"outRoot $outRoot has completed buckets but no _config.json — cannot attribute them; use a fresh outRoot")
      java.nio.file.Files.createDirectories(fpPath.getParent)
      java.nio.file.Files.writeString(fpPath, fingerprint)
    }
    val t0 = System.nanoTime()

    // stage 1: per-doc feature vectors, bucketed by entity, lineage per bucket
    val stage1 = runner.runStage("feature_vectors", corpus, "doc_id", nBuckets) { in =>
      if (pathKind == "grouped") FlagshipJob.consumeAll(in) else FlagshipJob.windowReferenceConsumeAll(in)
    }

    // stage 2: source-level rollup of stage-1 output (reads committed stage)
    val vectors = runner.readStage(spark, "feature_vectors")
    val bySource = corpus.select(col("doc_id"), col("source"))
      .join(vectors, Seq("doc_id"))
    val stage2 = runner.runStage("source_rollup", bySource, "source", math.min(nBuckets, 4)) { in =>
      in.groupBy(col("source")).agg(
        count(lit(1)).as("docs"),
        sum(col("n")).as("tokens"),
        sum(col("n_sessions")).as("sessions"),
        sum(col("sum_Distance")).as("total_distance"))
    }

    // invariant: the grid round-trips token arrays exactly (north rule)
    val (grid, _) = TokenAdapter.explodeTokens(corpus)
    val mismatches = TokenAdapter.tokensMatch(corpus, TokenAdapter.reassemble(grid))

    val wall = (System.nanoTime() - t0) / 1e9
    val vecRows = runner.readStage(spark, "feature_vectors").count()
    println(
      s"""{"pipeline":"ok","out":"$outRoot","path":"$pathKind","docs":$nDocs,""" +
        s""""vector_rows":$vecRows,"stage1_buckets_run":${stage1.size},"stage1_buckets_resumed":$resumedS1,""" +
        s""""stage2_buckets_run":${stage2.size},"token_roundtrip_mismatches":$mismatches,"wall_sec":${f"$wall%.1f"}}"""
    )
    require(mismatches == 0L, "token-array round-trip invariant violated")
    spark.stop()
  }
}
