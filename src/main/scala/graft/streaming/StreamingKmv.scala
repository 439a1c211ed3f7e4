package graft.streaming

import graft.queries.Sketches
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online quantile estimation over an unbounded stream: the sk1 KMV
  * bottom-k row sample (queries/Sketches.scala) maintained as
  * `flatMapGroupsWithState` state, with quantiles read off the sample by
  * the same integer rank rule — so streamed estimates are BIT-IDENTICAL
  * to the batch sk1 query over the same rows (StreamingKmvSpec pins this).
  *
  * Scale shape: state is AT MOST k rows per group — constant in stream
  * length (an exact streaming percentile would buffer every row forever).
  * Bottom-k selection is a pure function of the SET of rows seen:
  * membership depends only on each row's own (priority, id) key, never on
  * arrival order, so any chunking, replay, or speculative re-execution
  * yields the same sample, and samples from independent shards merge by
  * concatenate-then-truncate (the sk1 merge law). No watermark is needed
  * for correctness — the sample only refines.
  *
  * Priorities are sk1's own Knuth hash ([[Sketches.u]]), computed as a
  * column before the state update. Estimates are values FROM the sample
  * selected by integer rank arithmetic (`(p·n + 99) div 100`), the sk1
  * rule — no interpolation, no float accumulation. The rule runs here, not
  * in a readout over the drained state, because the operator emits per
  * tick.
  */
object StreamingKmv {

  final case class KmvOcc(group: String, id: Long, value: Double)

  final case class KmvEntry(pri: Long, id: Long, value: Double)

  final case class KmvState(tick: Long, n: Long, sample: Seq[KmvEntry])

  /** One row per tracked percentile per snapshot; `nSample` ≤ k is the
    * current sample size (groups smaller than k report exact quantiles).
    */
  final case class KmvSnapshot(
      group: String, tick: Long, n: Long,
      pPct: Int, nSample: Long, estValue: Double)

  val K = 512
  val Pcts: Seq[Int] = Seq(50, 90, 99)

  /** Bottom-k by (priority, id) — the id tiebreak makes selection total. */
  private def truncate(entries: Seq[KmvEntry]): Seq[KmvEntry] =
    entries.distinct.sortBy(e => (e.pri, e.id)).take(K)

  /** Quantiles from a sample, by the sk1 integer ceil-rank rule over the
    * (value, id) order.
    */
  def quantiles(sample: Seq[KmvEntry]): Seq[(Int, Long, Double)] = {
    val byValue = sample.sortBy(e => (e.value, e.id))
    val n = byValue.length.toLong
    Pcts.map { p =>
      val rank = (p * n + 99) / 100 // ceil(p·n/100), exact in integers
      (p, n, byValue((rank - 1).toInt).value)
    }
  }

  def updateGroup(
      group: String,
      rows: Iterator[(String, KmvEntry)],
      state: GroupState[KmvState]): Iterator[KmvSnapshot] = {
    val st = state.getOption.getOrElse(KmvState(0L, 0L, Seq.empty))
    val incoming = rows.map(_._2).toSeq
    val n = st.n + incoming.length
    val next = KmvState(st.tick + 1, n, truncate(st.sample ++ incoming))
    state.update(next)
    quantiles(next.sample).iterator.map { case (p, ns, v) =>
      KmvSnapshot(group, next.tick, n, p, ns, v)
    }
  }

  def apply(occs: Dataset[KmvOcc]): Dataset[KmvSnapshot] = {
    import occs.sparkSession.implicits._
    implicit val stateEnc: Encoder[KmvState] = Encoders.product[KmvState]
    occs.select(col("group"),
        struct(Sketches.u(col("id")).as("pri"), col("id"), col("value")))
      .as[(String, KmvEntry)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(updateGroup)
  }
}
