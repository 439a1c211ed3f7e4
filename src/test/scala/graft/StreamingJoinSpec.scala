package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-stream joins (Structured Streaming's stateful two-input operator):
  * watermarked interval inner join and the left-outer variant that emits
  * null-padded rows once the watermark passes the join window. The
  * batch-side counterpart is [[graft.operators.AsofJoin]] / q7's band join
  * ([[graft.plans.BandJoinRewrite]]);
  * this is the live path for the same attribution shape: state on both sides
  * is bounded by the watermark + time-range condition, so it runs forever on
  * unbounded feeds without unbounded state.
  */
class StreamingJoinSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("sjoin-test").getOrCreate()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("watermarked interval inner join matches within the window only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val v = views.toDF.toDF("user_id", "view_ts")
      .withWatermark("view_ts", "10 minutes")
    val p = purchases.toDF.toDF("p_user", "p_ts")
      .withWatermark("p_ts", "10 minutes")
    // purchase attributed to a view at most 1h before it
    val joined = v.join(p, expr(
      "user_id = p_user AND p_ts >= view_ts AND p_ts <= view_ts + INTERVAL 1 HOUR"))
    val q = joined.writeStream.format("memory")
      .queryName("sj_inner").outputMode("append").start()
    try {
      views.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      purchases.addData(
        (1L, ts("2024-01-01 10:30:00")), // within 1h of view -> match
        (1L, ts("2024-01-01 11:30:00")), // 90 min after -> no match
        (2L, ts("2024-01-01 10:04:00")), // before the view -> no match
        (3L, ts("2024-01-01 10:30:00"))) // no view at all -> no match
      q.processAllAvailable()
      val got = spark.table("sj_inner")
        .select($"user_id", $"view_ts", $"p_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
      assert(got === Set(
        (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00"))))
    } finally q.stop()
  }

  test("left-outer interval join emits null-padded rows after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val v = views.toDF.toDF("user_id", "view_ts")
      .withWatermark("view_ts", "10 minutes")
    val p = purchases.toDF.toDF("p_user", "p_ts")
      .withWatermark("p_ts", "10 minutes")
    val joined = v.join(p, expr(
      "user_id = p_user AND p_ts >= view_ts AND p_ts <= view_ts + INTERVAL 1 HOUR"),
      "left_outer")
    val q = joined.writeStream.format("memory")
      .queryName("sj_outer").outputMode("append").start()
    try {
      views.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      purchases.addData((1L, ts("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // user 2's view can only be declared match-less once the watermark is
      // past view_ts + 1h (the end of its join window): advance both streams
      views.addData((9L, ts("2024-01-01 13:00:00")))
      purchases.addData((9L, ts("2024-01-01 13:00:01")))
      q.processAllAvailable()
      views.addData((9L, ts("2024-01-01 14:00:00"))) // one more nudge
      purchases.addData((9L, ts("2024-01-01 14:00:01")))
      q.processAllAvailable()
      val rows = spark.table("sj_outer")
        .select($"user_id", $"p_ts").collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(1)))).toSet
      assert(rows.contains((1L, Some(ts("2024-01-01 10:30:00")))), s"got $rows")
      assert(rows.contains((2L, None)), // the null-padded outer row
        s"watermark did not release the unmatched view: $rows")
    } finally q.stop()
  }
}
