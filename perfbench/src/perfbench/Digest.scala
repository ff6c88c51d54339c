package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Order-independent content digest of a query output, computed by the
  * timed write itself through `Dataset.observe` (no extra pass): row count,
  * the sums of the two 32-bit halves of each row's xxhash64 over its JSON
  * form, and optionally `Σ n`. */
object Digest {

  final case class Out(rows: Long, digest: String, sumN: Long)

  private val H = "__perfbench_h"

  def observe(df: DataFrame, obs: Observation, withSumN: Boolean = false): DataFrame = {
    val hashed = df.select(col("*"), xxhash64(to_json(struct(col("*")))).as(H))
    val aggs = Seq(
      count(lit(1)).as("rows"),
      sum(col(H).bitwiseAND(lit(0xFFFFFFFFL))).as("lo"),
      sum(shiftrightunsigned(col(H), 32)).as("hi")) ++
      (if (withSumN) Seq(sum(col("n")).as("sum_n")) else Nil)
    hashed.observe(obs, aggs.head, aggs.tail: _*)
  }

  def read(obs: Observation): Out = {
    val m = obs.get
    def l(k: String): Long = m.get(k) match {
      case Some(v: java.lang.Number) => v.longValue
      case _ => 0L
    }
    Out(l("rows"), f"${(l("hi") << 32) + l("lo")}%016x", l("sum_n"))
  }

  /** Observe, write into the noop sink, and return the digest. */
  def write(df: DataFrame, label: String, withSumN: Boolean = false): Out = {
    val obs = new Observation(s"perfbench_${label}_${System.nanoTime()}")
    observe(df, obs, withSumN).write.mode("overwrite").format("noop").save()
    read(obs)
  }
}
