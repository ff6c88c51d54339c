package graft

import graft.stats.Profile
import org.apache.spark.sql.functions._

/** Per-column profile laws: exact counts, approx error bound, plan modes. */
class ProfileSpec extends SparkSpec {

  import spark.implicits._

  private def df = Seq(
    (1L, Some("a"), Some(1.0)),
    (2L, Some("a"), None),
    (3L, None, Some(2.0)),
    (4L, Some("b"), None),
    (5L, Some("b"), Some(1.0))
  ).toDF("id", "s", "v")

  test("exact profile: null and distinct counts per column") {
    val out = Profile.profile(df, Seq("id", "s", "v"), exact = true)
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      ("id", 5L, 0L, 0.0, 5L),
      ("s", 5L, 1L, 0.2, 2L),
      ("v", 5L, 2L, 0.4, 2L)), s"got ${out.toSeq}")
  }

  test("approx profile matches exact within the rsd bound on a real column") {
    val big = (1 to 20000).map(i => i.toLong % 997L).toDF("k")
    val exact = Profile.profile(big, Seq("k"), exact = true).collect()(0).getLong(4)
    val approx = Profile.profile(big, Seq("k"), rsd = 0.02).collect()(0).getLong(4)
    assert(exact == 997L)
    assert(math.abs(approx - exact).toDouble / exact <= 0.06,
      s"approx $approx too far from $exact") // 3× rsd slack
  }

  test("approx mode plans ONE pass (no Expand); exact mode pays Expand") {
    val approxPlan = Profile.profile(df, Seq("id", "s", "v"))
      .queryExecution.executedPlan.toString
    assert(!approxPlan.contains("Expand"), s"approx must be single-pass:\n$approxPlan")
    assert(approxPlan.contains("partial_count"), s"profile: map-side partial aggregation\n$approxPlan")
    assert("Exchange".r.findAllIn(approxPlan).length == 1, s"profile: one exchange\n$approxPlan")
    val exactPlan = Profile.profile(df, Seq("id", "s", "v"), exact = true)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("Expand"), "exact multi-distinct goes through Expand")
  }

  test("unknown columns are rejected loudly") {
    intercept[IllegalArgumentException] { Profile.profile(df, Seq("id", "nope")) }
  }
}
