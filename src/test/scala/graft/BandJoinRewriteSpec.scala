package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.BandJoinRewrite]]: a naive `abs(l - r) <= tol` join written
  * by a USER (plain SQL, no engine API) must plan as a hash join after the
  * extension rewrite, produce exactly the naive semantics, and leave
  * non-band joins untouched.
  */
class BandJoinRewriteSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("band-test").getOrCreate()
  import spark.implicits._

  private def plans(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("band-only join: nested-loop becomes hash join, same rows") {
    val l = Seq(5L, 9L, 25L, 100L).toDF("lt")
    val r = Seq(3L, 19L, 20L, 36L, 91L).toDF("rt")
    l.createOrReplaceTempView("band_l")
    r.createOrReplaceTempView("band_r")
    val joined = spark.sql(
      "SELECT lt, rt FROM band_l JOIN band_r ON abs(lt - rt) <= 10")
    assert(!plans(joined).contains("NestedLoop") &&
      !plans(joined).contains("Cartesian"),
      s"band join not rewritten:\n${plans(joined)}")
    assert(plans(joined).contains("HashJoin"))
    val got = joined.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // ground truth by enumeration
    val want = (for {
      a <- Seq(5L, 9L, 25L, 100L); b <- Seq(3L, 19L, 20L, 36L, 91L)
      if math.abs(a - b) <= 10
    } yield (a, b)).toSet
    assert(got === want)
    assert(joined.count() === want.size) // multiplicity: each pair once
  }

  test("strict < band: inclusive tol-1 bucketing, boundary pairs excluded") {
    val l = Seq(5L, 9L, 25L, 100L).toDF("lt")
    val r = Seq(3L, 15L, 19L, 20L, 36L, 91L).toDF("rt")
    l.createOrReplaceTempView("band_sl")
    r.createOrReplaceTempView("band_sr")
    val joined = spark.sql(
      "SELECT lt, rt FROM band_sl JOIN band_sr ON abs(lt - rt) < 10")
    assert(plans(joined).contains("HashJoin") &&
      !plans(joined).contains("NestedLoop"),
      s"strict band join not rewritten:\n${plans(joined)}")
    val got = joined.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val want = (for {
      a <- Seq(5L, 9L, 25L, 100L); b <- Seq(3L, 15L, 19L, 20L, 36L, 91L)
      if math.abs(a - b) < 10
    } yield (a, b)).toSet
    assert(got === want) // (25,15) is |d|=10: must be EXCLUDED
    assert(want.contains((25L, 19L)) && !want.contains((25L, 15L)))
  }

  test("keyed band join with negative times and the reversed operand order") {
    val l = Seq(("a", -21L), ("a", -9L), ("b", 7L)).toDF("k", "lt")
    val r = Seq(("a", -30L), ("a", -20L), ("a", 2L), ("b", -3L)).toDF("k2", "rt")
    l.createOrReplaceTempView("band_l2")
    r.createOrReplaceTempView("band_r2")
    val joined = spark.sql(
      // tol on the left, diff written right-minus-left: both shapes match
      "SELECT k, lt, rt FROM band_l2 JOIN band_r2 " +
        "ON k = k2 AND 10 >= abs(rt - lt)")
    assert(plans(joined).contains("HashJoin") &&
      !plans(joined).contains("NestedLoop"))
    val got = joined.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    // -9 matches nothing: |−9−(−20)| = |−9−2| = 11 > 10
    val want = Set(("a", -21L, -30L), ("a", -21L, -20L), ("b", 7L, -3L))
    assert(got === want)
  }

  // The name predates the deletion of `RangeJoin.within`; the reference is
  // now the naive join enumerated over the collected rows.
  test("agrees with RangeJoin.within on real event data") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    ev.filter($"event_type" === "error")
      .select($"user_id", $"event_id", unix_micros($"ts").as("lt"))
      .createOrReplaceTempView("band_err")
    ev.filter($"event_type" === "click")
      .select($"user_id".as("u2"), $"event_id".as("click_id"),
        unix_micros($"ts").as("rt"))
      .createOrReplaceTempView("band_clk")
    val tol = 5L * 60 * 1000 * 1000
    val sqlJoin = spark.sql(
      s"SELECT event_id, click_id FROM band_err JOIN band_clk " +
        s"ON user_id = u2 AND abs(lt - rt) <= $tol")
    assert(plans(sqlJoin).contains("HashJoin"))
    // the naive join, enumerated in Scala over the collected rows: every
    // (error, click) pair of the same user within the band
    val errs = spark.table("band_err").as[(Long, Long, Long)].collect()
    val clks = spark.table("band_clk").as[(Long, Long, Long)].collect()
      .groupBy(_._1)
    val naive = errs.toSeq.flatMap { case (u, e, lt) =>
      clks.getOrElse(u, Array.empty[(Long, Long, Long)]).toSeq
        .collect { case (_, c, rt) if math.abs(lt - rt) <= tol => (e, c) }
    }
    assert(naive.nonEmpty, "test premise: the band must match some pairs")
    val got = sqlJoin.as[(Long, Long)].collect().toSeq
    assert(got.sorted === naive.sorted)
  }

  test("plain equi joins and non-literal tolerances are left alone") {
    val l = Seq((1L, 2L)).toDF("a", "t1")
    val r = Seq((1L, 3L)).toDF("b", "t2")
    l.createOrReplaceTempView("band_plain_l")
    r.createOrReplaceTempView("band_plain_r")
    val equi = spark.sql(
      "SELECT * FROM band_plain_l JOIN band_plain_r ON a = b")
    assert(!plans(equi).contains("__band_bucket"))
    // tolerance referencing a column is not foldable -> untouched
    val dynTol = spark.sql(
      "SELECT * FROM band_plain_l JOIN band_plain_r ON abs(t1 - t2) <= a + b")
    assert(!plans(dynTol).contains("__band_bucket"))
    assert(dynTol.count() === 1L)
  }
}
