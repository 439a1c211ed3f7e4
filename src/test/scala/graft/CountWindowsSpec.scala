package graft

import graft.blocks.FixtureSource
import graft.streaming.CountWindows
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Exact count-window streaming state (W1/W2 via flatMapGroupsWithState):
  * tumbling batches of 25 over the 106-block combined feed must be exactly
  * the globally-sorted chunks, across micro-batch boundaries and regardless
  * of shuffle order inside a batch.
  */
class CountWindowsSpec extends AnyFunSuite {

  private val T = FixtureSource.DefaultTemplates
  private lazy val spark: SparkSession = Session.builder("cw-test").getOrCreate()

  private val heights: Seq[Long] =
    ((2270370L to 2270469L) ++ (3126935L to 3126940L)).sorted

  private def run(name: String, size: Int, step: Int): Seq[(String, Long, Int, Long, Long)] = {
    val raw = spark.readStream.format("blockfeed")
      .option("path", T).option("from", "2270370")
      .option("maxHeightsPerTrigger", "40") // forces several micro-batches
      .load()
    val q = CountWindows.blockCountBatches(spark, raw, size = size, step = step)
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    spark.table(name)
      .selectExpr("key", "batchIndex", "n", "minHeight", "maxHeight")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._2).toSeq
  }

  /** window k = sorted arrival positions [k·step, k·step+size), complete only. */
  private def expected(size: Int, step: Int): Seq[(String, Long, Int, Long, Long)] =
    Iterator.from(0)
      .map(k => (k, heights.slice(k * step, k * step + size)))
      .takeWhile(_._2.length == size)
      .map { case (k, c) => (Fixture.chainId, k.toLong, c.length, c.head, c.last) }
      .toSeq

  test("streaming tumbling count batches = sorted chunks; partial stays buffered") {
    // 106 blocks / size 25 → 4 full batches emitted, 6 trailing buffered
    val got = run("cw_tumbling", size = 25, step = 25)
    assert(got.length === 4)
    assert(got === expected(25, 25))
  }

  test("sliding count windows (step < size) overlap across micro-batches") {
    // windows at positions 0,10,...,80 → 9 complete windows of 25
    val got = run("cw_sliding", size = 25, step = 10)
    assert(got.length === 9)
    assert(got === expected(25, 10))
  }

  test("sampling count windows (step > size) skip between windows") {
    // windows of 10 at positions 0,30,60,90 → 4 complete windows
    val got = run("cw_sampling", size = 10, step = 30)
    assert(got.length === 4)
    assert(got === expected(10, 30))
  }
}
