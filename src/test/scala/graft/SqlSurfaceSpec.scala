package graft

import graft.blocks.{EventTables, FixtureSource}
import graft.functions.Salt
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql` surface: every canonical view registered and queryable in
  * plain SQL, plus the skew-salting helpers' equivalence guarantees.
  */
class SqlSurfaceSpec extends AnyFunSuite {

  private val T = FixtureSource.DefaultTemplates
  private lazy val spark: SparkSession = Session.builder("sql-test").getOrCreate()

  test("registered views answer SQL over the full catalog") {
    EventTables.registerAll(FixtureSource.blocksRaw(spark, T, 2270370L, 2270469L))
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    // fixture ground truths through SQL
    assert(spark.sql("SELECT count(*) FROM blocks").head().getLong(0) === 100L)
    assert(spark.sql("SELECT count(*) FROM tx_events").head().getLong(0) === Fixture.txEventRows)
    assert(spark.sql(
      "SELECT count(*) FROM blocks WHERE NOT is_empty").head().getLong(0) === 29L)
    // a join across views (blocks ⋈ tx_events)
    val j = spark.sql("""
      SELECT b.height, count(*) AS n
      FROM blocks b JOIN tx_events e ON b.height = e.block_height
      GROUP BY b.height ORDER BY n DESC LIMIT 1""").head()
    assert(j.getLong(1) > 0)
    // synthetic tables answer SQL through the same session catalog
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
  }

  test("approximate aggregates land within tolerance of exact (HLL/quantile)") {
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
    val exactUsers = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    val approxUsers = ev.select(approx_count_distinct(col("user_id"), 0.02))
      .head().getLong(0)
    // HLL++ at rsd=0.02: generous 10% envelope keeps the spec non-flaky
    assert(math.abs(approxUsers - exactUsers).toDouble / exactUsers <= 0.1,
      s"approx=$approxUsers exact=$exactUsers")
    val exactMedian = ev.stat.approxQuantile("value", Array(0.5), 0.0).head
    val fastMedian = ev.stat.approxQuantile("value", Array(0.5), 0.01).head
    val spread = ev.select(max(col("value")) - min(col("value"))).head().getDouble(0)
    assert(math.abs(fastMedian - exactMedian) <= 0.05 * spread)
    // prof4's 100 TB drop-in: the mergeable approx_percentile sketch lands
    // within tolerance of the exact interpolated quantiles the oracle checks
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    for (c <- Seq("l_quantity", "l_extendedprice")) {
      val Seq(exQ, apQ) = Seq(
        expr(s"percentile(CAST($c AS DOUBLE), array(0.25, 0.5, 0.75))"),
        expr(s"approx_percentile(CAST($c AS DOUBLE), array(0.25, 0.5, 0.75), 1000)"))
        .map(e => li.agg(e).head().getSeq[Double](0))
      val sp = li.select(max(col(c)) - min(col(c))).head().get(0).toString.toDouble
      exQ.zip(apQ).foreach { case (e, a) =>
        assert(math.abs(a - e) <= 0.05 * sp, s"$c exact=$e approx=$a") }
    }
  }

  test("salted join and salted aggregation match their unsalted plans") {
    // decimal value: double sums are order-dependent and the salted plans
    // legitimately re-associate the partials (repo ground rule — see GQuery)
    val ev = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("event_id"),
        col("value").cast("decimal(18,2)").as("value"))
    val dim = ev.groupBy("user_id").agg(count(lit(1)).as("user_events"))
    val plain = ev.join(dim, Seq("user_id"))
      .groupBy("user_id").agg(sum(col("value")).as("s"), max("user_events").as("ue"))
    val salted = Salt.saltedJoin(ev, dim, "user_id", 8, col("event_id"))
      .groupBy("user_id").agg(sum(col("value")).as("s"), max("user_events").as("ue"))
    assert(salted.except(plain).count() === 0L)
    assert(plain.except(salted).count() === 0L)

    val plainAgg = ev.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
    val saltedAgg = Salt.saltedSumCount(ev, "user_id", col("value"), 8, col("event_id"))
    assert(saltedAgg.except(plainAgg).count() === 0L)
    assert(plainAgg.except(saltedAgg).count() === 0L)
  }

  test("native kernels are registered SQL functions (GraftFunctions)") {
    import graft.functions.TextHash
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    // scalar paths agree with the Column API on real corpus data
    val viaSql = spark.sql("""
      SELECT doc_id, graft_poly_hash(text) AS h,
             graft_simhash32(transform(regexp_extract_all(text, '\\S+', 0),
                                       t -> graft_poly_hash(t))) AS sh
      FROM documents""")
    val viaCol = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), TextHash.polyHash(col("text")).as("h"),
        TextHash.simhash32(transform(TextHash.tokens(col("text")),
          t => TextHash.polyHash(t))).as("sh"))
    assert(viaSql.exceptAll(viaCol).count() === 0L)
    assert(viaCol.exceptAll(viaSql).count() === 0L)
    // static-parameter kernels: k / planes as literals
    val sig = spark.sql(
      "SELECT graft_minhash_sig(array(7L, 11L, 13L), 4) AS s").head()
      .getSeq[Long](0)
    assert(sig.length === 4)
    val dot = spark.sql(
      "SELECT graft_dot_q(array(1L,2L,3L), array(4L,5L,6L)) AS d").head().getLong(0)
    assert(dot === 32L)
    val bucket = spark.sql("""
      SELECT graft_lsh_bucket(transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)), 4) AS b
      FROM embeddings LIMIT 5""")
    assert(bucket.collect().forall { r => val b = r.getLong(0); b >= 0 && b < 16 })
    // a non-literal static parameter is rejected at analysis, not silently
    intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(array(1L), CAST(rand()*4 AS INT))")
        .collect()
    }
  }
}
