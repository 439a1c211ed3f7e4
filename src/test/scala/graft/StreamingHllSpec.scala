package graft

import graft.streaming.StreamingHll
import graft.streaming.StreamingHll.{HllOcc, HllSnapshot}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming HLL: 256 bytes of state per group, snapshot registers read
  * out by sk3's [[graft.queries.Sketches.hllReadout]] bit-identical to the
  * batch sk3 query over the same rows, chunking-invariant (max is
  * commutative+idempotent).
  */
class StreamingHllSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("shll-test").getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  private def occs(): Seq[HllOcc] = {
    import spark.implicits._
    Tables.load(spark, dir, "events")
      .select(col("event_type"), col("user_id"))
      .as[(String, Long)].collect().toSeq
      .map { case (t, uid) => HllOcc(t, uid) }
  }

  /** Run in `chunks` micro-batches; return each group's final snapshot. */
  private def run(data: Seq[HllOcc], chunks: Int, name: String): Map[String, HllSnapshot] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[HllOcc]
    val q = StreamingHll(stream.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      val size = math.max(1, (data.length + chunks - 1) / chunks)
      data.grouped(size).foreach { c => stream.addData(c); q.processAllAvailable() }
    } finally q.stop()
    val snaps = spark.table(name).as[HllSnapshot].collect()
    snaps.groupBy(_.group).map { case (g, rows) =>
      g -> rows.maxBy(_.tick)
    }
  }

  /** sk3's readout of each group's final snapshot registers. */
  private def readout(snaps: Map[String, HllSnapshot]): Map[String, (Long, Long, Long)] = {
    import spark.implicits._
    val regs = snaps.values.toSeq.toDS()
      .select(col("group"), posexplode(col("regs")).as(Seq("reg", "rho")))
    graft.queries.Sketches.hllReadout(regs, "group")
      .select("group", "int_sum", "n_zero_registers", "est_hll")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }

  test("streamed registers reproduce the batch sk3 estimate bit-for-bit") {
    val batch = graft.queries.Sketches.hllDistinct.run(spark, dir)
      .select("event_type", "int_sum", "n_zero_registers", "est_hll")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val streamed = run(occs(), chunks = 7, name = "shll_vs_batch")
    assert(streamed.values.forall(_.regs.length == 256))
    val est = readout(streamed)
    assert(est.keySet == batch.keySet)
    est.foreach { case (g, e) =>
      assert(e == batch(g), s"group $g: streamed $e vs batch ${batch(g)}")
    }
  }

  test("chunking invariance: 1 batch == 13 batches, and n counts all rows") {
    val data = occs()
    val one = run(data, chunks = 1, name = "shll_one")
    val many = run(data, chunks = 13, name = "shll_many")
    assert(one.keySet == many.keySet)
    one.foreach { case (g, s) =>
      val m = many(g)
      assert(s.regs == m.regs, s"group $g: registers differ between chunkings")
      assert(s.n == m.n && s.n == data.count(_.group == g))
    }
  }
}
