package graft.sources

import java.util
import graft.blocks.BlockSchemas
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import scala.jdk.CollectionConverters._

/** `blockfeed` — DataSource V2 connector for the block stream (SURVEY §7.2
  * steps 3–4). One connector subsumes the reference's source zoo:
  *
  *   - batch read with `from`/`to`   → S1–S3 historical flows
  *   - micro-batch stream            → S5/S6 polling + S12–S14 combinedFlow
  *     (offset = block height: backfill, live tailing, gap-free contiguity
  *     T1, restart recovery T3, dedup T2 all come from the offset log)
  *   - column pruning                → header-only scans switch to the cheap
  *     20-height `/blockchain` pages (§4 "column pruning" row)
  *   - `num_txs > 0` filter pushdown → skip-empty pre-filter (P4)
  *   - height-range filter pushdown  → partition pruning (§4)
  *     (pruning/pushdown reach BATCH scans only: Spark's DSv2 streaming
  *     path builds the scan without pushFilters/pruneColumns calls, so a
  *     streaming query always runs mode=full and fetches results)
  *   - `maxHeightsPerTrigger`        → T6 admission control (the 10k live
  *     buffer, `MultiplexFlow.kt:74`)
  *
  * Options: `path` (fixture dir for the file transport), `from`, `to`,
  * `heights` (S2: explicit comma-separated height list, `List<Long>
  * .toBlockData`, `HistoricalBlockFlow.kt:52` — batch mode only),
  * `heightsPerPartition` (default 128 = reference `DEFAULT_BATCH_SIZE`),
  * `maxHeightsPerTrigger` (default 10000 = reference live buffer),
  * `retryBaseWaitMs` (default 1000 = reference `Backoff.kt:12` base; the
  * T4 exponential-backoff base for planning AND reader RPC retries),
  * `ws` (S7–S9: websocket subscribe URL, e.g. the node's `/websocket`
  * endpoint — the stream's tip then comes from pushed `NewBlock` events via
  * [[WsSubscription]] instead of per-trigger polling; block data still
  * flows through the partitioned RPC readers, the reference's
  * `WsBlockDataFlow.kt:48` subscribe-then-fetch split).
  */
class BlockFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "blockfeed"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlockSchemas.raw
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BlockFeedTable(new CaseInsensitiveStringMap(properties))
}

object BlockFeed {
  /** Meta-safe raw-schema ordinals (available from `/blockchain` pages). */
  val MetaSafeOrdinals: Set[Int] = Set(0, 1, 2, 3, 4, 6)
  val RawFields: Array[String] = BlockSchemas.raw.fieldNames

  /** `heightsPerPartition` default = reference `DEFAULT_BATCH_SIZE`. */
  val DefaultHeightsPerPartition = 128
  /** `retryBaseWaitMs` default = reference `Backoff.kt:12` base. */
  val DefaultRetryBaseWaitMs = 1000L

  /** The transport for `path` behind the T4 retry decorator, for executor
    * fetches and driver-side planning alike: planning has no task retry
    * above it, so a 503 there must not kill a query that the same blip
    * mid-read would survive.
    */
  def client(path: String, retryBaseWaitMs: Long): BlockClient =
    new RetryingBlockClient(BlockClient.open(path), baseWaitMillis = retryBaseWaitMs)
}

class BlockFeedTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String = s"blockfeed(${options.get("path")})"
  override def schema(): StructType = BlockSchemas.raw
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new BlockFeedScanBuilder(opts)
}

class BlockFeedScanBuilder(options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = BlockSchemas.raw
  // bounds accumulated from pushed height predicates
  private var minHeight: Long = Long.MinValue
  private var maxHeight: Long = Long.MaxValue
  private var minNumTxs: Int = 0

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // boundary literals stay RESIDUAL (Spark keeps evaluating them): the
    // strict bounds below compute v±1, which would wrap at the extreme
    // Long/Int values — an accepted-but-unenforced filter returns every
    // row where the right answer is none
    val (accepted, rejected) = filters.partition {
      case GreaterThan("height", v: Long) => v < Long.MaxValue
      case GreaterThanOrEqual("height", _: Long) => true
      case LessThan("height", v: Long) => v > Long.MinValue
      case LessThanOrEqual("height", _: Long) => true
      case EqualTo("height", _: Long) => true
      case GreaterThan("num_txs", v: Int) => v < Int.MaxValue
      case GreaterThanOrEqual("num_txs", _: Int) => true
      case _ => false
    }
    accepted.foreach {
      case GreaterThan("height", v: Long) => minHeight = math.max(minHeight, v + 1)
      case GreaterThanOrEqual("height", v: Long) => minHeight = math.max(minHeight, v)
      case LessThan("height", v: Long) => maxHeight = math.min(maxHeight, v - 1)
      case LessThanOrEqual("height", v: Long) => maxHeight = math.min(maxHeight, v)
      case EqualTo("height", v: Long) =>
        minHeight = math.max(minHeight, v); maxHeight = math.min(maxHeight, v)
      case GreaterThan("num_txs", v: Int) => minNumTxs = math.max(minNumTxs, v + 1)
      case GreaterThanOrEqual("num_txs", v: Int) => minNumTxs = math.max(minNumTxs, v)
      case _ =>
    }
    pushed = accepted
    rejected
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // keep raw-schema field order for deterministic ordinals
    val names = required.fieldNames.toSet
    requiredSchema = StructType(BlockSchemas.raw.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan =
    new BlockFeedScan(options, requiredSchema, minHeight, maxHeight, minNumTxs)
}

final case class HeightRangePartition(
    heights: Array[Long], historicalBelow: Long, metaMode: Boolean)
  extends InputPartition

class BlockFeedScan(options: CaseInsensitiveStringMap, required: StructType,
                    minHeight: Long, maxHeight: Long, minNumTxs: Int)
  extends Scan {

  private val path = options.get("path")
  // T4 backoff is configurable so tests/chaos drills don't pay production
  // waits
  private val retryBaseWaitMs =
    options.getLong("retryBaseWaitMs", BlockFeed.DefaultRetryBaseWaitMs)

  private val prunedOrdinals: Array[Int] =
    required.fieldNames.map(n => BlockFeed.RawFields.indexOf(n))

  /** Header/meta-only scans take the cheap `/blockchain`-page path. */
  val metaMode: Boolean = prunedOrdinals.forall(BlockFeed.MetaSafeOrdinals.contains)

  private val heightsPerPartition =
    options.getInt("heightsPerPartition", BlockFeed.DefaultHeightsPerPartition)

  override def readSchema(): StructType = required
  override def description(): String =
    s"blockfeed(path=$path, mode=${if (metaMode) "meta" else "full"}, " +
      s"heights=[${math.max(minHeight, 0)}..${if (maxHeight == Long.MaxValue) "∞" else maxHeight}], " +
      s"minNumTxs=$minNumTxs)"

  /** S2: explicit height list (`List<Long>.toBlockData`,
    * `HistoricalBlockFlow.kt:52`) — still intersected with pushed height
    * predicates so partition pruning applies on top.
    */
  private val explicitHeights: Option[Seq[Long]] =
    Option(options.get("heights"))
      .map(_.split(",").iterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).toSeq.distinct.sorted)

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val c = BlockFeed.client(path, retryBaseWaitMs)
      // ONE tip RPC: it serves both the default upper bound and the
      // history/live provenance boundary (two separate calls could also
      // disagree if the chain advanced between them)
      val cur = c.currentHeight()
      val from = math.max(
        Option(options.get("from")).map(_.toLong).getOrElse(1L), minHeight)
      val to = math.min(
        Option(options.get("to")).map(_.toLong).getOrElse(cur), maxHeight)
      val inRange = c.availableHeights(from, to)
      val heights = explicitHeights match {
        case Some(list) => val avail = inRange.toSet; list.filter(avail.contains)
        case None => inRange
      }
      heights
        .grouped(heightsPerPartition)
        .map(hs => HeightRangePartition(hs.toArray, cur, metaMode))
        .toArray[InputPartition]
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new BlockFeedReaderFactory(path, prunedOrdinals, minNumTxs,
        retryBaseWaitMs)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BlockFeedMicroBatch(path, options, prunedOrdinals, metaMode, minNumTxs)
}

/** Micro-batch stream over heights: `latestOffset(start, limit)` = node tip,
  * capped by the admission-control read limit (the reference's
  * poll-and-advance `pollingDataFlow`, `PollingFlow.kt:32`, is literally this
  * contract; `maxHeightsPerTrigger` plays the 10k live buffer's role, T6).
  */
class BlockFeedMicroBatch(path: String, options: CaseInsensitiveStringMap,
                          prunedOrdinals: Array[Int], metaMode: Boolean,
                          minNumTxs: Int)
  extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val retryBaseWaitMs =
    options.getLong("retryBaseWaitMs", BlockFeed.DefaultRetryBaseWaitMs)
  private val client = BlockFeed.client(path, retryBaseWaitMs)
  /** Chain tip at stream construction: the history/live provenance boundary
    * (reference `combinedFlow` captures the same thing, `MultiplexFlow.kt:88`).
    */
  private val startCurrentHeight = client.currentHeight()
  private val maxPerTrigger = options.getInt("maxHeightsPerTrigger", 10000)
  private val heightsPerPartition =
    options.getInt("heightsPerPartition", BlockFeed.DefaultHeightsPerPartition)
  private val from: Long = Option(options.get("from")) match {
    case Some("latest") => startCurrentHeight + 1
    case Some(v) => v.toLong
    case None => 1L
  }
  private val to: Long =
    Option(options.get("to")).map(_.toLong).getOrElse(Long.MaxValue)

  // Trigger.AvailableNow: freeze the target tip so the query drains up to it
  // and stops even if the chain keeps advancing.
  @volatile private var availableNowCap: Option[Long] = None

  /** S7–S9 push mode: a driver-side websocket subscription replaces tip
    * polling (`ws` option). A node that pushes height h is dense through h,
    * so availability below the pushed tip is arithmetic — zero RPCs on the
    * offset path. Only a DENSE transport earns that arithmetic: the file
    * transport is a sparse listing (BlockClient.denseBelowTip), so ws mode
    * plans from availability there — the subscription still supplies the
    * tip, only the dense-range shortcut is withheld.
    */
  private val subscription: Option[WsSubscription] =
    Option(options.get("ws")).map(new WsSubscription(_))

  private val wsArithmetic: Boolean =
    subscription.isDefined && client.denseBelowTip

  /** The dense-range shortcut is only sound ABOVE the node's retained
    * window: a pruning node advertises `earliest_block_height`, and a
    * `from` below it (the from=1 default especially) would plan pruned
    * heights arithmetically — which the presence contract in the reader
    * then rightly refuses to drop, wedging the stream on heights that can
    * never heal. One availability probe at construction clamps the start
    * to the first height the node actually serves; polling mode gets the
    * same clamp for free on every trigger. (The gRPC transport cannot see
    * the floor — its availableHeights scaladoc — so the probe is a no-op
    * there and a below-floor `from` fails loudly instead of silently.)
    */
  private val startFloor: Long =
    if (!wsArithmetic) from
    else client.availableHeights(from, math.max(from, startCurrentHeight))
      .headOption.getOrElse(from)

  private def tip: Long = {
    val t = subscription match {
      case Some(sub) =>
        // before the first push, the tip captured at stream start stands in
        math.max(startFloor - 1,
          math.min(sub.pushedTip.getOrElse(startCurrentHeight), to))
      case None =>
        client.availableHeights(from, to).lastOption.getOrElse(from - 1)
    }
    availableNowCap.map(math.min(t, _)).getOrElse(t)
  }

  override def initialOffset(): Offset = HeightOffset(startFloor - 1)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(tip)

  override def reportLatestOffset(): Offset = HeightOffset(tip)

  // latestOffset's availability answer, reused by planInputPartitions for
  // the same (start, end) window: without it the polling path pays the
  // identical availableHeights RPC twice per trigger (once to pick the
  // offset, once to enumerate the batch). Restart replans a committed
  // window without a prior latestOffset call, so the cache is an
  // optimization only — planInputPartitions recomputes on a miss.
  @volatile private var plannedWindow: (Long, Long, Seq[Long]) = (0L, -1L, Seq.empty)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[HeightOffset].height
    // Trigger.Once hands the source ReadLimit.allAvailable(): Spark
    // explicitly IGNORES the default read limit there, so clamping the
    // everything-limit back to maxPerTrigger would silently truncate a
    // one-shot run at maxHeightsPerTrigger heights and terminate
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _: ReadAllAvailable => Long.MaxValue
      case _ => maxPerTrigger.toLong
    }
    if (wsArithmetic) {
      // dense below the pushed tip: advance arithmetically, no RPC
      // (saturating — cap can be Long.MaxValue, so s + cap may not be
      // computed directly)
      val t = tip
      HeightOffset(math.max(s, if (cap >= t - s) t else s + cap))
    } else {
      // ONE availability RPC per trigger: the committed offset already
      // bounds the range below, so the former tip-then-availableHeights
      // pair re-enumerated [from, tip] every trigger just to re-derive a
      // bound this call applies anyway. ws over a sparse transport lands
      // here too, with the subscription's tip as the upper bound.
      val hi =
        if (subscription.isDefined) tip
        else availableNowCap.map(math.min(_, to)).getOrElse(to)
      val next = client.availableHeights(s + 1, hi)
        .take(math.min(cap, Int.MaxValue.toLong).toInt)
      if (next.isEmpty) HeightOffset(s)
      else {
        val e = next.max
        plannedWindow = (s, e, next)
        HeightOffset(e)
      }
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[HeightOffset].height
    val e = end.asInstanceOf[HeightOffset].height
    val heights =
      if (wsArithmetic) if (e > s) (s + 1) to e else Seq.empty
      else {
        val cached = plannedWindow
        if (cached._1 == s && cached._2 == e) cached._3
        else client.availableHeights(s + 1, e)
      }
    heights
      .grouped(heightsPerPartition)
      .map(h => HeightRangePartition(h.toArray, startCurrentHeight, metaMode))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlockFeedReaderFactory(path, prunedOrdinals, minNumTxs, retryBaseWaitMs)

  override def deserializeOffset(json: String): Offset = HeightOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = subscription.foreach(_.close())
}

class BlockFeedReaderFactory(path: String, prunedOrdinals: Array[Int],
                             minNumTxs: Int, retryBaseWaitMs: Long)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val p = partition.asInstanceOf[HeightRangePartition]
    // T4: executor-side fetches retry transient I/O with the reference's
    // exponential backoff before surfacing a task failure
    new BlockFeedPartitionReader(BlockFeed.client(path, retryBaseWaitMs), p,
      prunedOrdinals, minNumTxs, retryBaseWaitMs)
  }
}

/** Per-task reader: full mode fetches `/block` (+ `/block_results`) per
  * height — the reference's 2-RPC fetch (`TendermintBlockFetcher.kt:36`);
  * meta mode decodes the shared 20-height pages (a transport without a
  * paged RPC, gRPC, serves none, so every height takes the per-height
  * `/block` backstop with no results RPC). Missing `block_results`
  * degrade to null event columns (left-join parity with the batch path).
  */
class BlockFeedPartitionReader(client: BlockClient, p: HeightRangePartition,
                               prunedOrdinals: Array[Int], minNumTxs: Int,
                               retryBaseWaitMs: Long)
  extends PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {

  private val codec = new RowCodec
  private val wanted = p.heights.toSet

  /** A planned height the node does not serve is NOT silently droppable:
    * planning only lists heights the node itself advertised (batch and
    * polling paths) or that a ws push proved exist on-chain, and by read
    * time the offset log has already advanced past them — a dropped row
    * here is a PERMANENT gap in an exactly-once stream (the T1 contiguity
    * contract). An UNREADABLE block payload (truncated body, error
    * envelope, corrupt JSON) is the same hazard wearing a 200: the old
    * decode path flatMapped it away exactly like the absence the contract
    * was added to prevent. Both now ride the same ladder: the realistic
    * cause for either is a lagging/odd read replica behind the RPC
    * endpoint (the ws and RPC options may name different endpoints), so
    * retry on the reference backoff schedule, then fail the task naming
    * the height — a retried task can still succeed; a dropped row never
    * can. A row filtered by the pushed minNumTxs predicate is the one
    * LEGITIMATE None ([[RowCodec.rawRowChecked]] keeps the cases apart).
    * (`block_results` stays best-effort by design: a missing results
    * payload degrades to null event columns, the documented left-join
    * parity — only the block itself is load-bearing.)
    */
  private def plannedRow(h: Long, needResults: Boolean): Option[org.apache.spark.sql.catalyst.InternalRow] = {
    // 4 backoffs = 5 fetches, mirroring RetryingBlockClient's maxAttempts;
    // the shared Backoff schedule keeps the jitter (concurrent tasks that
    // planned the same window must not re-hammer the replica in lockstep)
    var attempt = 0
    var done: Option[Option[org.apache.spark.sql.catalyst.InternalRow]] = None
    var lastFailure = "/block does not serve it"
    // at most ONE results fetch across the ladder (it is best-effort and
    // not under retry): lazy, so a height whose /block never answers pays
    // zero results RPCs, and a corrupt-then-healing block does not re-buy
    // the same results payload on every attempt
    lazy val resultsOnce: Option[String] =
      if (needResults) client.blockResults(h) else None
    while (done.isEmpty && attempt <= 4) {
      client.block(h) match {
        case Some(json) =>
          codec.rawRowChecked(json, resultsOnce,
            historical = h <= p.historicalBelow, prunedOrdinals, minNumTxs) match {
            case Right(opt) => done = Some(opt)
            case Left(reason) =>
              lastFailure = s"/block serves an unreadable payload ($reason)"
          }
        case None => lastFailure = "/block does not serve it"
      }
      if (done.isEmpty) {
        if (attempt < 4) Thread.sleep(Backoff.waitMillis(retryBaseWaitMs, attempt))
        attempt += 1
      }
    }
    done.getOrElse(throw new java.io.IOException(
      s"height $h was planned from the node's own availability but " +
        s"$lastFailure after retries — failing the task instead of " +
        "dropping the row (lagging replica behind the endpoint?)"))
  }

  /** Contiguous runs of the partition's (sorted) heights: a gap wider than
    * one 20-height page splits the span, so a sparse explicit height list
    * fetches pages around its members instead of paging through the whole
    * numeric range between its extremes (heights="1,10000000" used to
    * issue one page RPC per 20 heights of the full span — 500k requests
    * for 2 rows).
    */
  private def pageRuns(hs: Array[Long]): Seq[(Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var lo = hs(0)
    var prev = hs(0)
    var i = 1
    while (i < hs.length) {
      if (hs(i) - prev > 20L) { out += ((lo, prev)); lo = hs(i) }
      prev = hs(i)
      i += 1
    }
    out += ((lo, prev))
    out.toSeq
  }

  private val it: Iterator[org.apache.spark.sql.catalyst.InternalRow] =
    if (p.metaMode) {
      if (p.heights.isEmpty) Iterator.empty
      else {
        val seen = scala.collection.mutable.HashSet.empty[Long]
        val paged = pageRuns(p.heights).iterator
          .flatMap { case (lo, hi) => client.metaPages(lo, hi) }
          .flatMap(page => codec.metaRows(
            page, _ <= p.historicalBelow, prunedOrdinals, minNumTxs))
          .filter { case (h, _) => wanted.contains(h) && seen.add(h) }
          .flatMap(_._2)
        // coverage backstop: the pages are a fetch optimization, not the
        // result contract — any planned height the pages did not carry is
        // fetched via /block (plannedRow yields the same meta-safe columns), so
        // changing the projection can never change the result SET. `seen`
        // records every height the pages COVERED (including rows filtered
        // by minNumTxs, reported as (h, None)), so the backstop fires only
        // on genuine page gaps. Lazy RHS: Iterator.++ evaluates it after
        // the paged iterator — and `seen` — are complete.
        paged ++ p.heights.iterator.filterNot(seen.contains)
          .flatMap(h => plannedRow(h, needResults = false))
      }
    } else {
      // results-RPC elision: when no txs_results/begin/end_block_events
      // column (raw ordinals 7..9) is projected, the per-height fetch is ONE
      // RPC instead of the reference's fixed two (`TendermintBlockFetcher
      // .kt:36`) — column pruning reaching past the scan into the wire calls.
      // Streaming never receives pruning (Spark DSv2), so streams fetch both.
      val needResults = prunedOrdinals.exists(_ >= 7)
      p.heights.iterator.flatMap(h => plannedRow(h, needResults))
    }

  private var current: org.apache.spark.sql.catalyst.InternalRow = _
  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false
  override def get(): org.apache.spark.sql.catalyst.InternalRow = current
  override def close(): Unit = ()
}
