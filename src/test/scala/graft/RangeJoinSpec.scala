package graft

import graft.queries.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The keyed range (band) join as q7 writes it: a plain join on the key plus
  * `abs(unix_micros(lt) - unix_micros(rt)) <= tol`, which
  * [[graft.plans.BandJoinRewrite]] buckets into a hash join. It must return
  * every qualifying pair exactly once (including pairs straddling bucket
  * boundaries and exact-tolerance ties) and q7 must agree with the naive band
  * predicate on real data.
  */
class RangeJoinSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("range-test").getOrCreate()
  import spark.implicits._

  /** `l(key, lt)` ⋈ `r(key, rt)` within `tol` microseconds, q7's shape. */
  private def band(l: DataFrame, r: DataFrame, tol: Long): DataFrame =
    l.as("l").join(r.as("r"), col("l.key") === col("r.key") &&
      abs(unix_micros(col("lt")) - unix_micros(col("rt"))) <= tol)

  private def ts(rows: Seq[(String, Long)], us: String, t: String): DataFrame =
    rows.toDF("key", us).withColumn(t, timestamp_micros(col(us)))

  test("pairs exactly once across bucket boundaries and at the tolerance edge") {
    // tol=10: buckets [0,10) [10,20) ... pairs chosen to straddle boundaries
    val l = ts(Seq(("a", 9L), ("a", 25L), ("b", 100L)), "lus", "lt")
    val r = ts(Seq(
      ("a", 19L),  // |9-19|=10 == tol → inclusive match; |25-19|=6 → also l=25
      ("a", 20L),  // |9-20|=11 > tol; |25-20|=5 → matches l=25
      ("a", 36L),  // |25-36|=11 > tol → no match
      ("b", 91L),  // |100-91|=9 → match within adjacent bucket
      ("c", 100L)  // key mismatch
    ), "rus", "rt")
    val out = band(l, r, 10L).select($"l.key", $"lus", $"rus").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    val want = Set(("a", 9L, 19L), ("a", 25L, 19L), ("a", 25L, 20L), ("b", 100L, 91L))
    assert(out.toSet === want)
    assert(out.length === want.size) // multiplicity: each pair once
  }

  test("no duplicate pairs when both sides share a bucket") {
    val l = ts(Seq(("a", 12L)), "lus", "lt")
    val r = ts(Seq(("a", 13L)), "rus", "rt")
    assert(band(l, r, 10L).count() === 1L)
  }

  test("agrees with the naive band predicate on events (sf0.001)") {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, dir, "events")
    val tol = 5L * 60 * 1000 * 1000
    def rows(kind: String) = ev.filter($"event_type" === kind)
      .select($"user_id", $"event_id", unix_micros($"ts"))
      .as[(Long, Long, Long)].collect()
    val clicks = rows("click").groupBy(_._1)
    // q7's n_clicks_5m by the naive predicate, enumerated over the rows
    val naive = rows("error").map { case (u, e, lt) =>
      e -> clicks.getOrElse(u, Array.empty[(Long, Long, Long)])
        .count { case (_, _, rt) => math.abs(lt - rt) <= tol }.toLong
    }.toMap
    assert(naive.values.exists(_ > 0), "test premise: the band must match some pairs")
    val q7 = Relational.q7Range.run(spark, dir)
      .select($"event_id", $"n_clicks_5m").as[(Long, Long)].collect()
    assert(q7.length === naive.size)
    assert(q7.toMap === naive)
  }

  test("plan shape: hash equi-join on (key, bucket), not nested-loop") {
    val l = ts(Seq(("a", 12L)), "lus", "lt")
    val r = ts(Seq(("a", 13L)), "rus", "rt")
    val plan = band(l, r, 10L).queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"nested-loop join in:\n$plan")
    assert(plan.contains("HashJoin"), s"expected hash join in:\n$plan")
    assert(plan.contains("__band_bucket"), s"expected the bucket key in:\n$plan")
  }
}
