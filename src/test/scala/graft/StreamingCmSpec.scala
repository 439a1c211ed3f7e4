package graft

import graft.queries.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming Count-Min: sk2's own counter relation
  * ([[Sketches.cmCounters]]) run on a stream — 4×256 counters of state
  * total, streamed counters bit-identical to the batch sk2 relation over
  * the same rows at any chunking (addition is commutative+associative), and
  * sk2's probe stage ([[Sketches.cmProbe]]) answers from the drained state.
  */
class StreamingCmSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("scm-test").getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def events: DataFrame = Tables.load(spark, dir, "events")

  private def keys(): Seq[Long] = {
    import spark.implicits._
    events.select(col("user_id")).as[Long].collect().toSeq
  }

  private def grid(cm: DataFrame): Map[(Int, Long), Long] =
    cm.select("i", "bucket", "cnt").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

  /** sk2's batch counter relation over the events table. */
  private def batchCm(): Map[(Int, Long), Long] =
    grid(Sketches.cmCounters(events, "user_id"))

  /** Stream `data` in `chunks` micro-batches through sk2's counter
    * relation (complete mode); return the drained counters as a table.
    */
  private def run(data: Seq[Long], chunks: Int, name: String): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Long]
    val q = Sketches.cmCounters(stream.toDF().toDF("user_id"), "user_id")
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      val size = math.max(1, (data.length + chunks - 1) / chunks)
      data.grouped(size).foreach { c => stream.addData(c); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name)
  }

  test("streamed counters reproduce the batch sk2 counter grid bit-for-bit") {
    val batch = batchCm()
    assert(batch.size > 4 && batch.keySet.map(_._1) == Set(0, 1, 2, 3))
    assert(grid(run(keys(), chunks = 6, name = "scm_vs_batch")) == batch)
  }

  test("chunking invariance: 1 batch == 9 batches") {
    val data = keys()
    val one = grid(run(data, chunks = 1, name = "scm_one"))
    val many = grid(run(data, chunks = 9, name = "scm_many"))
    assert(one == many)
    assert(one == batchCm())
  }

  test("probe estimates from streamed counters upper-bound exact counts") {
    val streamed = run(keys(), chunks = 4, name = "scm_probe")
    val exact = events.groupBy(col("user_id")).agg(count(lit(1)).as("exact_n"))
    val est = Sketches.cmProbe(streamed, exact, "user_id").cache()
    try {
      assert(est.count() === exact.count())
      assert(est.filter(col("overcount") < 0).count() === 0L)
      // on sk2's probe keys the drained state answers exactly what the
      // oracle-gated batch query answers
      val sk2 = Sketches.countMinProbe.run(spark, dir)
      val fromStream = est.filter(col("user_id") % 97 === 13)
      assert(sk2.count() > 0)
      assert(sk2.exceptAll(fromStream).isEmpty && fromStream.exceptAll(sk2).isEmpty)
    } finally est.unpersist()
  }
}
