package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed interval-overlap join — both sides are INTERVALS (contrast
  * the band join [[graft.plans.BandJoinRewrite]] plans, which joins points
  * against windows). Spark plans the raw overlap predicate
  * `aFrom <= bTo AND bFrom <= aTo` as a nested-loop join; this operator
  * turns it into an equi-join by time banding:
  *
  *   1. each interval explodes into the coarse time buckets it covers
  *      (`from div W .. to div W`);
  *   2. overlapping intervals necessarily share the bucket of any common
  *      instant, so the (keys, bucket) hash equi-join finds every true pair
  *      (recall is exact — pigeonhole, same argument as the dd10 Hamming
  *      bands);
  *   3. the exact overlap predicate prunes bucket-coincidences, and pairs
  *      that met in several buckets dedupe by their identity columns.
  *
  * Cost model: fan-out is `interval span / W` per row, candidate volume is
  * governed by bucket occupancy — W is the knob: pick it near the typical
  * shorter-side span so the short side lands in O(1) buckets. Everything
  * is uniform-key equi-join + distinct; no nested loop at any scale.
  */
object IntervalJoin {

  private val BucketCol = "__iv_bucket"

  /** Overlap join on closed left intervals `[lFrom, lTo]` and half-open
    * right intervals `[rFrom, rTo)`. All four are BIGINT epoch-ms columns;
    * unbounded right ends must be capped by the caller (coalesce to a max)
    * BEFORE calling. `pairId` names the columns identifying a result pair
    * (deduplicates multi-bucket meetings).
    */
  def overlap(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      lFrom: String, lTo: String,
      rFrom: String, rTo: String,
      bucketMs: Long,
      pairId: Seq[String]): DataFrame = {
    val lb = left.withColumn(BucketCol,
      explode(expr(s"sequence($lFrom div $bucketMs, $lTo div $bucketMs)")))
    val rb = right.withColumn(BucketCol,
      // half-open: the bucket of the last covered instant is (rTo-1) div W
      explode(expr(
        s"sequence($rFrom div $bucketMs, greatest($rFrom, $rTo - 1) div $bucketMs)")))
    lb.join(rb, keys :+ BucketCol)
      .filter(col(rFrom) <= col(lTo) && col(rTo) > col(lFrom))
      .dropDuplicates(pairId)
      .drop(BucketCol)
  }
}
