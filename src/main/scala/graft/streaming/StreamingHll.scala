package graft.streaming

import graft.queries.Sketches
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Online distinct-count over an unbounded stream: the sk3 HyperLogLog
  * registers (queries/Sketches.scala) maintained as `flatMapGroupsWithState`
  * state. The operator consumes sk3's own per-row cells
  * ([[Sketches.hllCells]]: register index and ρ) and emits its registers,
  * which st3 reads out with sk3's [[Sketches.hllReadout]] — so streamed
  * registers are BIT-IDENTICAL to a batch sk3 run over the same rows
  * (StreamingHllSpec pins this) with no second copy of the hash or the
  * estimate.
  *
  * Scale shape: state is exactly m = 256 bytes per group key — constant in
  * stream length AND in key cardinality of the counted column (contrast
  * `dropDuplicates().groupBy().count()`, whose streaming state grows with
  * every distinct key forever and needs watermark eviction to survive; a
  * built-in `groupBy(group, reg).max` would hold m state rows per group).
  * Register update is a pointwise MAX — commutative and idempotent — so
  * unlike SpaceSaving (HeavyHitters) no per-batch pre-aggregation or sorted
  * replay is needed for determinism: any arrival order, chunking, replay,
  * or speculative re-execution produces the same registers. That also makes
  * the state a CRDT: registers from independent shards/jobs merge by max,
  * which is the cross-datacenter / backfill-union story.
  */
object StreamingHll {

  final case class HllOcc(group: String, id: Long)

  /** One row's [[Sketches.hllCells]] cell. */
  final case class HllCell(group: String, reg: Long, rho: Int)

  /** m = 256 registers, one byte each; `n` counts absorbed rows (not
    * distincts) for observability; `tick` numbers snapshots so consumers
    * select each group's latest from the append stream.
    */
  final case class HllState(tick: Long, n: Long, regs: Array[Byte])

  /** `regs(j)` is register j's ρ (0 = empty): posexploded, the complete
    * (reg, rho) rows [[Sketches.hllReadout]] takes.
    */
  final case class HllSnapshot(group: String, tick: Long, n: Long, regs: Seq[Int])

  private val M = Sketches.HllM.toInt

  /** Absorb a micro-batch into the group's registers and append one
    * snapshot. Max is commutative+idempotent, so iterator order is
    * irrelevant — the state is a pure function of the SET of rows seen.
    */
  def updateGroup(
      group: String,
      cells: Iterator[HllCell],
      state: GroupState[HllState]): Iterator[HllSnapshot] = {
    val st = state.getOption.getOrElse(HllState(0L, 0L, new Array[Byte](M)))
    val regs = st.regs.clone()
    var n = st.n
    cells.foreach { c =>
      val r = c.reg.toInt
      if (c.rho > regs(r)) regs(r) = c.rho.toByte
      n += 1
    }
    val next = HllState(st.tick + 1, n, regs)
    state.update(next)
    Iterator(HllSnapshot(group, next.tick, n, regs.map(_.toInt).toSeq))
  }

  def apply(occs: Dataset[HllOcc]): Dataset[HllSnapshot] = {
    import occs.sparkSession.implicits._
    implicit val stateEnc: Encoder[HllState] = Encoders.product[HllState]
    Sketches.hllCells(occs.toDF(), "group", "id").as[HllCell]
      .groupByKey(_.group)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(updateGroup)
  }
}
