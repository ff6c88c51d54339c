package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.core.SyntheticCorpus
import graft.features.TokenKernel
import graft.pipeline.FlagshipJob
import org.apache.spark.sql.functions._

/** `--selftest 1`: shows that the output checks catch a perturbed output.
  * `--pin 1`: recomputes the pinned canary and suite digests (run it only
  * on a commit whose oracle check passes). */
object SelfTest {

  def run(a: Map[String, String]): Int = {
    val root = a("root")
    val spark = Main.session(a("cores").toInt, a("work"))
    val results = ArrayBuffer.empty[(String, Boolean)]
    def expect(what: String)(ok: => Boolean): Unit = {
      val r = try ok catch { case t: Throwable => System.err.println(s"$what: $t"); false }
      println(s"${if (r) "ok  " else "FAIL"} $what")
      results += what -> r
    }

    val canary = Canary.load(Paths.get(s"$root/expected/canary.json"))
    expect("both flagship routes reproduce the pinned canary digest")(Canary.check(spark, canary).isEmpty)

    val vectors = TokenKernel.docVectors(SyntheticCorpus.generate(spark, canary.docs, seed = canary.seed)).toDF()
    val victim = vectors.select(min(col("doc_id"))).first().getString(0)
    val changed = vectors.withColumn("n_sessions",
      when(col("doc_id") === victim, col("n_sessions") + 1).otherwise(col("n_sessions")))
    expect("a changed vector value is caught")(Digest.write(changed, "changed", withSumN = true) != canary.out)
    expect("a dropped vector row is caught")(
      Digest.write(vectors.where(col("doc_id") =!= victim), "dropped", withSumN = true) != canary.out)

    val corpus = new CorpusInput(spark, a("work"), a.getOrElse("seed", "7").toLong, 3000, 8)
    corpus.prepare()
    val grouped = Digest.write(TokenKernel.docVectors(corpus.read()).toDF(), "g", withSumN = true)
    val regroup = Digest.write(FlagshipJob.regroupConsumeAll(corpus.read()), "r", withSumN = true)
    expect("grouped and regroup agree on a seeded corpus")(grouped == regroup)
    val check = new VectorCheck(corpus)
    expect("the first pass of a run passes the vector check")(check.ok(grouped))
    expect("a later pass with another digest fails the vector check")(!check.ok(grouped.copy(digest = "0")))

    val expected = Suite.load(Paths.get(s"$root/expected/suite.tsv"))
    val e = expected.maxBy(_.rows)
    val q = SparkEntry.queries(e.name)(spark, s"$root/data/sf0.001")
    expect(s"${e.name} reproduces its pinned digest")(Digest.write(q, "q") == Digest.Out(e.rows, e.digest, 0))
    val swapped = q.limit((e.rows - 1).toInt).union(q.limit(1))
    expect(s"${e.name} with one row swapped for a duplicate is caught")(
      Digest.write(swapped, "q_swapped").digest != e.digest)

    spark.stop()
    val bad = results.count(!_._2)
    println(if (bad == 0) "selftest ok" else s"selftest FAILED: $bad check(s)")
    if (bad == 0) 0 else 1
  }

  def pin(a: Map[String, String]): Int = {
    val root = a("root")
    val spark = Main.session(a("cores").toInt, a("work"))
    val (seed, docs) = (42L, 2000L)
    val corpus = SyntheticCorpus.generate(spark, docs, seed = seed)
    val g = Digest.write(TokenKernel.docVectors(corpus).toDF(), "g", withSumN = true)
    val r = Digest.write(FlagshipJob.regroupConsumeAll(corpus), "r", withSumN = true)
    require(g == r, s"routes disagree: $g vs $r")
    Files.writeString(Paths.get(s"$root/expected/canary.json"), Json.obj(
      "seed" -> seed, "docs" -> docs, "rows" -> g.rows, "sum_n" -> g.sumN, "digest" -> g.digest) + "\n")

    val tsv = Paths.get(s"$root/expected/suite.tsv")
    val names = a.get("queries").map(_.split(",").toSeq).getOrElse(Suite.load(tsv).map(_.name)).sorted
    val dir = s"$root/data/sf0.001"
    val lines = names.map { n =>
      val d1 = Digest.write(SparkEntry.queries(n)(spark, dir), n)
      val d2 = Digest.write(SparkEntry.queries(n)(spark, dir), n)
      require(d1 == d2, s"$n is not deterministic: $d1 vs $d2")
      s"$n\t${Main.module(n)}\t${d1.rows}\t${d1.digest}"
    }
    Files.writeString(tsv,
      "# query\tmodule\trows\tdigest — pinned on sf0.001 by `run.py --pin`\n" + lines.mkString("", "\n", "\n"))
    spark.stop()
    0
  }
}
