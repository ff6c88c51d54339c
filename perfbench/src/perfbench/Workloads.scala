package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.{SyntheticCorpus, TokenAdapter}
import graft.features.TokenKernel
import graft.pipeline.{FlagshipJob, Pipeline}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** What one timed pass did: the latency of each operation in it, how many
  * checked operations it attempted, and the names of those that failed or
  * produced a wrong output. */
final case class PassResult(opsS: Seq[Double], attempted: Int, failed: Seq[String])

/** One named workload. `prepare` makes the inputs available and redoes the
  * same work on every call; `checkSetup` runs the pinned set-up checks;
  * `pass` is one closed-loop pass; `ladder` (traced runs only) times each
  * layer as its own DataFrame. */
abstract class Workload(val spark: SparkSession, val tr: Tracer) {
  def name: String
  def prepare(): Unit
  def checkSetup(): Seq[String] = Nil
  def pass(): PassResult
  def ladder(): Map[String, Metric] = Map.empty
  def inputs: Map[String, Any]
  /** Checked operations run outside the timed passes (by the ladder). */
  val extra = ArrayBuffer.empty[PassResult]

  /** Build a DataFrame and write it into the noop sink, in spans
    * `op:` ⊃ {`build:`, `write:`}; returns the output digest and the wall
    * time of the whole operation. */
  protected def query(label: String, withSumN: Boolean = false)(build: => DataFrame): (Digest.Out, Double) = {
    val t0 = System.nanoTime()
    val out = tr.span(s"op:$label") {
      val df = tr.span(s"build:$label")(build)
      tr.planned(s"write:$label")(Digest.write(df, label, withSumN))
    }
    (out, (System.nanoTime() - t0) / 1e9)
  }
}

/** The seeded synthetic corpus, written as parquet. Its directory is keyed
  * by seed, doc count and split count, and it is regenerated on every
  * `prepare` so set-up does the same work on every run. */
final class CorpusInput(spark: SparkSession, work: String, val seed: Long, val docs: Long, val splits: Int) {
  val dir: String = s"$work/corpus/seed=${seed}_docs=${docs}_splits=$splits"
  var docsN = 0L
  var tokens = 0L

  def prepare(): Unit = {
    SyntheticCorpus.generate(spark, docs, seed = seed)
      .repartition(splits)
      .write.mode("overwrite").parquet(dir)
    val r = spark.read.parquet(dir).agg(count(lit(1)), sum(col("n_tok"))).first()
    docsN = r.getLong(0)
    tokens = r.getLong(1)
  }

  def read(): DataFrame = spark.read.parquet(dir)

  def describe: Map[String, Any] =
    Map("corpus_dir" -> dir, "seed" -> seed, "docs" -> docsN, "tokens" -> tokens, "splits" -> splits)
}

/** The pinned canary: a fixed small corpus whose per-doc vectors must
  * digest to the same value through every flagship route. */
final case class Canary(seed: Long, docs: Long, out: Digest.Out)

object Canary {
  def load(path: Path): Canary = {
    val s = Files.readString(path)
    def field(k: String): String =
      ("\"" + k + "\"\\s*:\\s*\"?([0-9a-f]+)\"?").r.findFirstMatchIn(s).map(_.group(1))
        .getOrElse(sys.error(s"$path: no $k"))
    Canary(field("seed").toLong, field("docs").toLong,
      Digest.Out(field("rows").toLong, field("digest"), field("sum_n").toLong))
  }

  /** Failed route names: both flagship routes over the canary corpus. */
  def check(spark: SparkSession, c: Canary): Seq[String] = {
    val corpus = SyntheticCorpus.generate(spark, c.docs, seed = c.seed)
    Seq("grouped" -> TokenKernel.docVectors(corpus).toDF(), "regroup" -> FlagshipJob.regroupConsumeAll(corpus))
      .flatMap { case (route, df) =>
        val got = Digest.write(df, s"canary_$route", withSumN = true)
        if (got == c.out) Nil
        else {
          System.err.println(s"[perfbench] canary $route: got $got, pinned ${c.out}")
          Seq(s"canary_$route")
        }
      }
  }
}

/** Checks shared by the corpus workloads: the doc vectors cover every doc
  * and every token, and every pass digests to what the first one did. */
final class VectorCheck(corpus: CorpusInput) {
  var pinned: Option[String] = None
  def ok(o: Digest.Out): Boolean = {
    val good = o.rows == corpus.docsN && o.sumN == corpus.tokens && pinned.forall(_ == o.digest)
    if (good && pinned.isEmpty) pinned = Some(o.digest)
    if (!good) System.err.println(
      s"[perfbench] vectors: got $o, want rows=${corpus.docsN} sum_n=${corpus.tokens} digest=${pinned.getOrElse("-")}")
    good
  }
}

/** `grouped` (zero-shuffle kernel over the pre-grouped sequences) and
  * `regroup` (explode, one exchange, sort-grouped kernel). */
final class Flagship(spark: SparkSession, tr: Tracer, corpus: CorpusInput, canary: Canary, regroup: Boolean,
    work: String) extends Workload(spark, tr) {
  val name: String = if (regroup) "regroup" else "grouped"
  private val check = new VectorCheck(corpus)

  private def route(df: DataFrame): DataFrame =
    if (regroup) FlagshipJob.regroupConsumeAll(df) else TokenKernel.docVectors(df).toDF()

  def prepare(): Unit = corpus.prepare()
  override def checkSetup(): Seq[String] = Canary.check(spark, canary)
  def inputs: Map[String, Any] = corpus.describe ++ Map("digest" -> check.pinned.getOrElse(""))

  def pass(): PassResult = {
    val (o, s) = query(name, withSumN = true)(route(corpus.read()))
    PassResult(Seq(s), 1, if (check.ok(o)) Nil else Seq(name))
  }

  /** grouped: scan → +decode into `SeqRow` → +kernel, then one warm and
    * one traced pass of the pipeline stage over the same corpus.
    * regroup: scan → +explode → +exchange → +sort/group/kernel. */
  override def ladder(): Map[String, Metric] = {
    val scan = () => corpus.read().select("doc_id", "tokens")
    val ladder = Ladder(tr)
    if (!regroup) {
      ladder.run(
        "scan" -> scan,
        "decode" -> (() => scan().where(size(col("tokens")) > 0)
          .as(Encoders.product[TokenKernel.SeqRow]).map(_.tokens.length)(Encoders.scalaInt).toDF()),
        "kernel" -> (() => TokenKernel.docVectors(corpus.read()).toDF()))
      val pipeline = new PipelineRun(spark, tr, corpus, work)
      tr.enabled = false
      extra += pipeline.pass()
      tr.enabled = true
      extra += pipeline.pass()
      ladder.layers(
        "spark.scan_s" -> Seq("scan"),
        "features.decode_s" -> Seq("decode", "scan"),
        "features.kernel_s" -> Seq("kernel", "decode")) ++
        Map("features.kernel_task_s" -> Metric(ladder.taskS("kernel") - ladder.taskS("decode"), "s", ladder.reps)) ++
        PipelineRun.layers(tr, tr.run)
    } else {
      val grid = () => TokenAdapter.explodeTokens(corpus.read())._1
      val packed = shiftleft(col("pos").cast("long"), 32)
        .bitwiseOR(col("token").cast("long").bitwiseAND(lit(0xFFFFFFFFL)))
      ladder.run(
        "scan" -> scan,
        "explode" -> grid,
        "exchange" -> (() => grid().select(col("doc_id"), packed.as("_pt")).repartition(col("doc_id"))),
        "regroup" -> (() => FlagshipJob.regroupConsumeAll(corpus.read())))
      ladder.layers(
        "spark.scan_s" -> Seq("scan"),
        "core.explode_s" -> Seq("explode", "scan"),
        "spark.exchange_s" -> Seq("exchange", "explode"),
        "features.regroup_s" -> Seq("regroup", "exchange")) ++
        Map("features.regroup_task_s" ->
          Metric(ladder.taskS("regroup") - ladder.taskS("exchange"), "s", ladder.reps))
    }
  }
}

/** Times layers cumulatively: each rung is the previous one plus one layer,
  * written into the noop sink `reps` times; a layer's time is the
  * difference of the rung medians. */
final case class Ladder(tr: Tracer, reps: Int = 3) {
  private val byRung = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Span]]

  def run(rs: (String, () => DataFrame)*): Unit = rs.foreach { case (rung, df) =>
    byRung(rung) = (1 to reps).map { _ =>
      tr.span(s"rung:$rung") { df().write.mode("overwrite").format("noop").save() }
      tr.spans.filter(_.name == s"rung:$rung").last
    }
  }

  def wall(rung: String): Double = Stats.median(byRung(rung).map(_.durS))
  def taskS(rung: String): Double = { tr.settle(); Stats.median(byRung(rung).map(tr.inclusive(_).taskS)) }

  /** Each layer as `rung` minus the rung below it (if any). */
  def layers(ls: (String, Seq[String])*): Map[String, Metric] = ls.map {
    case (k, Seq(top)) => k -> Metric(wall(top), "s", reps)
    case (k, Seq(top, below)) => k -> Metric(wall(top) - wall(below), "s", reps)
    case (k, other) => sys.error(s"$k: $other")
  }.toMap
}

/** `pipeline`: the grouped feature stage through `Pipeline.Runner.runStage`
  * (16 entity buckets written as parquet, manifest, `observe()`), the
  * `source_rollup` stage over it, and the token round-trip check, into a
  * fresh output root per pass. Operation latencies are the bucket writes. */
final class PipelineRun(spark: SparkSession, tr: Tracer, corpus: CorpusInput, work: String)
    extends Workload(spark, tr) {
  val name = "pipeline"
  val Buckets = 16
  private val check = new VectorCheck(corpus)
  private val writes = ArrayBuffer.empty[Double]
  private var passNo = 0
  private val vectorCols = Encoders.product[TokenKernel.DocVector].schema.fieldNames.map(col).toSeq

  /** The parquet table format, with each bucket write timed. */
  private final class TimedParquet(root: String) extends Pipeline.TableFormat {
    private val inner = new Pipeline.HadoopParquet(root)
    override def writeBucket(df: DataFrame, stage: String, bucket: Int): Unit = {
      val t0 = System.nanoTime()
      tr.planned(s"write:$stage")(inner.writeBucket(df, stage, bucket))
      writes += (System.nanoTime() - t0) / 1e9
    }
    override def readStage(spark: SparkSession, stage: String): DataFrame = inner.readStage(spark, stage)
  }

  def prepare(): Unit = corpus.prepare()
  def inputs: Map[String, Any] = corpus.describe ++ Map("buckets" -> Buckets, "digest" -> check.pinned.getOrElse(""))

  def pass(): PassResult = {
    val root = Paths.get(s"$work/pipeline/pass$passNo")
    passNo += 1
    Files.createDirectories(root.getParent)
    writes.clear()
    val failed = ArrayBuffer.empty[String]
    val runner = new Pipeline.Runner(root.toString, new TimedParquet(root.toString))
    val input = corpus.read().cache()
    try {
      val s1 = tr.span("pipeline.stage_feature_vectors") {
        runner.runStage("feature_vectors", input, "doc_id", Buckets) { in =>
          tr.span("build:feature_vectors")(TokenKernel.docVectors(in).toDF())
        }
      }
      if (s1.map(_.rows).sum != corpus.docsN) failed += "feature_vectors"

      val s2 = tr.span("pipeline.stage_source_rollup") {
        val vectors = tr.span("build:read_stage")(runner.readStage(spark, "feature_vectors"))
        val bySource = input.select(col("doc_id"), col("source")).join(vectors, Seq("doc_id"))
        runner.runStage("source_rollup", bySource, "source", math.min(Buckets, 4)) { in =>
          tr.span("build:source_rollup")(in.groupBy(col("source")).agg(
            count(lit(1)).as("docs"),
            sum(col("n")).as("tokens"),
            sum(col("n_sessions")).as("sessions"),
            sum(col("sum_Distance")).as("total_distance")))
        }
      }
      val rollup = runner.readStage(spark, "source_rollup").agg(sum(col("docs")), sum(col("tokens"))).first()
      if (s2.map(_.rows).sum != 3 || rollup.getLong(0) != corpus.docsN || rollup.getLong(1) != corpus.tokens)
        failed += "source_rollup"

      val mismatches = tr.span("core.roundtrip") {
        val reassembled = tr.span("build:roundtrip")(TokenAdapter.reassemble(TokenAdapter.explodeTokens(input)._1))
        tr.planned("write:roundtrip")(TokenAdapter.tokensMatch(input, reassembled))
      }
      if (mismatches != 0L) failed += "roundtrip"

      val (vec, _) = query("read_vectors", withSumN = true)(
        runner.readStage(spark, "feature_vectors").select(vectorCols: _*))
      if (!check.ok(vec)) failed += "feature_vectors"
    } finally {
      input.unpersist(blocking = true)
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    PassResult(writes.toSeq, 3, failed.distinct.toSeq)
  }

  /** One more traced pass; its layer metrics. */
  override def ladder(): Map[String, Metric] = {
    extra += pass()
    PipelineRun.layers(tr, tr.run)
  }
}

object PipelineRun {
  private val Stages = Seq("pipeline.stage_feature_vectors", "pipeline.stage_source_rollup")

  /** Layer metrics of the pipeline pass traced under `run`. */
  def layers(tr: Tracer, run: String): Map[String, Metric] = {
    tr.settle()
    val spans = tr.spans.filter(_.run == run)
    def dur(name: String) = spans.filter(_.name == name).map(_.durS).sum
    val stages = spans.filter(s => Stages.contains(s.name)).map(tr.inclusive)
    Map(
      "pipeline.stage_feature_vectors_s" -> Metric(dur(Stages(0)), "s", 1),
      "pipeline.stage_source_rollup_s" -> Metric(dur(Stages(1)), "s", 1),
      "pipeline.bytes_written" -> Metric(stages.map(_.outputBytes).sum.toDouble, "bytes", 1),
      "pipeline.jobs" -> Metric(stages.map(_.jobs).sum.toDouble, "count", 1),
      "core.roundtrip_s" -> Metric(dur("core.roundtrip"), "s", 1))
  }
}

/** `suite`: one pass over a fixed set of `SparkEntry.queries`, in name
  * order, each into the noop sink, every output checked against the row
  * count and digest pinned for it. */
final class Suite(spark: SparkSession, tr: Tracer, dataDir: String, expected: Seq[Suite.Expect])
    extends Workload(spark, tr) {
  val name = "suite"
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /** Table availability: every table is present and Spark can read its
    * schema. */
  def prepare(): Unit = tables.foreach { t =>
    require(spark.read.parquet(s"$dataDir/$t.parquet").schema.nonEmpty, s"table $t")
  }

  def inputs: Map[String, Any] = Map("tables" -> dataDir, "queries" -> expected.map(_.name))

  def pass(): PassResult = {
    val failed = ArrayBuffer.empty[String]
    val ops = expected.map { e =>
      val t0 = System.nanoTime()
      try {
        val (o, s) = query(e.name)(SparkEntry.queries(e.name)(spark, dataDir))
        if (o.rows != e.rows || o.digest != e.digest) {
          System.err.println(s"[perfbench] ${e.name}: got rows=${o.rows} digest=${o.digest}, pinned rows=${e.rows} digest=${e.digest}")
          failed += e.name
        }
        s
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] ${e.name} failed: $t")
          failed += e.name
          (System.nanoTime() - t0) / 1e9
      }
    }
    PassResult(ops, expected.size, failed.toSeq)
  }
}

object Suite {
  final case class Expect(name: String, module: String, rows: Long, digest: String)

  /** `name<TAB>module<TAB>rows<TAB>digest` lines; `#` starts a comment. */
  def load(path: Path): Seq[Expect] =
    Files.readAllLines(path).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val f = l.split("\t")
      Expect(f(0), f(1), f(2).toLong, f(3))
    }.sortBy(_.name).toSeq
}
