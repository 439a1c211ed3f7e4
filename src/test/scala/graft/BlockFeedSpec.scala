package graft

import graft.blocks.{EventTables, FixtureSource}
import graft.sources.DecodeCascade
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** blockfeed DSv2 connector tests against the reference fixture ground truth
  * (100 historical / 29 non-empty / 6 live / 106 combined) plus checkpoint
  * restart and the T5 decode cascade.
  */
class BlockFeedSpec extends AnyFunSuite {

  val T = FixtureSource.DefaultTemplates
  lazy val spark: SparkSession = Session.builder("graft-test").getOrCreate()

  def read(opts: (String, String)*) = {
    val r = spark.read.format("blockfeed").option("path", T)
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("codec: degenerate payloads stay on the contract, never untyped crashes") {
    // r13 review pins: (1) a results payload whose result struct is null
    // degrades to null event columns (best-effort left-join parity), not an
    // NPE in fieldValue; (2) a block whose header.height is non-numeric is
    // Left (unreadable — the reader's ladder), not a NumberFormatException;
    // (3) outright garbage bytes are Left, not a BadRecordException escaping
    // parseOne (a bare JacksonParser throws even in PERMISSIVE mode)
    val codec = new graft.sources.RowCodec
    val allOrdinals = graft.sources.BlockFeed.RawFields.indices.toArray
    val goodBlock = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$T/block/2270370.json")), "UTF-8")
    val nullResult = """{"jsonrpc":"2.0","id":-1,"result":null}"""
    codec.rawRowChecked(goodBlock, Some(nullResult), historical = true,
      allOrdinals, 0) match {
      case Right(Some(row)) =>
        assert(row.isNullAt(7) && row.isNullAt(8) && row.isNullAt(9),
          "a null results struct must degrade to null event columns")
      case other => fail(s"expected a row with null events, got $other")
    }
    val badHeight = goodBlock.replaceFirst(
      """("height"\s*:\s*)"2270370"""", "$1\"not-a-number\"")
    assert(badHeight != goodBlock, "fixture surgery must have applied")
    assert(codec.rawRowChecked(badHeight, None, historical = true,
      allOrdinals, 0).isLeft, "a non-numeric height must be Left, not NFE")
    assert(codec.rawRowChecked("{ not json at all", None, historical = true,
      allOrdinals, 0).isLeft, "garbage bytes must be Left, not an exception")
    // non-object roots (r13 ADVICE): parseOne's recovery catches exactly
    // BadRecordException — if a future Spark surfaces a root-level scalar
    // or array through a different exception type, these pins catch the
    // escape before it becomes an untyped task crash
    assert(codec.rawRowChecked("42", None, historical = true,
      allOrdinals, 0).isLeft, "a scalar root must be Left, not a crash")
    assert(codec.rawRowChecked("[]", None, historical = true,
      allOrdinals, 0).isLeft, "an array root must be Left, not a crash")
    // `data` null/absent is the LEGITIMATE empty-block shape, not
    // corruption (r13 ADVICE; the reference counts data==null as zero txs —
    // `StreamBlockImplT.kt:33`, `StreamBlock.kt:14`): under minNumTxs=1 it
    // is Right(None) (filtered), at minNumTxs=0 a numTxs=0 row — never the
    // ladder, which would permanently fail every empty height of a node
    // generation that omits `data`. Truncation cannot reach this shape: a
    // truncated body is invalid JSON and fails the parse outright. A
    // missing HEADER stays corrupt (no block lacks one), and a corrupt
    // payload must not force the results fetch (by-name resultsJson + the
    // reader's lazy single fetch).
    val noData =
      """{"jsonrpc":"2.0","id":-1,"result":{"block_id":{"hash":"00"},
        |"block":{"header":{"chain_id":"x","height":"5",
        |"time":"2021-07-15T19:27:44Z"}}}}""".stripMargin
    var resultsForced = 0
    def countedResults: Option[String] = { resultsForced += 1; None }
    assert(codec.rawRowChecked(noData, countedResults, historical = true,
      allOrdinals, 1) === Right(None),
      "data==null under pushdown is the filtered empty shape, not the ladder")
    // (plain None here: a PRODUCED row legitimately forces the results
    // fetch, so this call must not share the corrupt-arm counter below)
    codec.rawRowChecked(noData, None, historical = true,
      allOrdinals, 0) match {
      case Right(Some(row)) => assert(row.getInt(3) === 0,
        "data==null at minNumTxs=0 must yield a numTxs=0 row")
      case other => fail(s"expected a numTxs=0 row for data==null, got $other")
    }
    val noHeader =
      """{"jsonrpc":"2.0","id":-1,"result":{"block_id":{"hash":"00"},
        |"block":{"data":{"txs":[]}}}}""".stripMargin
    assert(codec.rawRowChecked(noHeader, countedResults, historical = true,
      allOrdinals, 0).isLeft, "a block without header must be Left")
    assert(resultsForced === 0,
      "a corrupt payload must never force the results fetch")
    // a corrupt PAGE entry (missing num_txs) is skipped — never trusted as
    // an authoritative 0, which under a num_txs pushdown would record the
    // height as covered-and-filtered (a silent drop past the backstop)
    val page =
      """{"jsonrpc":"2.0","id":-1,"result":{"last_height":"9","block_metas":[
        |{"block_id":{"hash":"00"},"block_size":"1","num_txs":"3",
        | "header":{"chain_id":"x","height":"7","time":"2021-07-15T19:27:44Z"}},
        |{"block_id":{"hash":"00"},"block_size":"1",
        | "header":{"chain_id":"x","height":"8","time":"2021-07-15T19:27:44Z"}}
        |]}}""".stripMargin
    val metaOrdinals = Array(0, 3) // height, num_txs
    val entries = codec.metaRows(page, _ => true, metaOrdinals, 0)
    assert(entries.map(_._1) === Seq(7L),
      "the num_txs-less entry must be skipped to the /block backstop")
  }

  test("batch scan: 100 rows, event tables work through the connector") {
    val df = read("from" -> "2270370", "to" -> "2270469")
    assert(df.count() === 100L)
    assert(df.schema === graft.blocks.BlockSchemas.raw)
    // full nested fidelity: the explode pipeline yields the fixture totals
    assert(EventTables.txEvents(df).count() === Fixture.txEventRows)
    assert(EventTables.blockEvents(df).count() === Fixture.blockEventRows)
    assert(df.filter(col("historical")).count() === 100L)
  }

  test("backfill throughput clears the reference's implied ceiling") {
    // the reference's envelope: 16 concurrent fetches x 1 block per 2 HTTP
    // round-trips -> order tens of blocks/s (BASELINE.md). Fixture transport
    // removes the network, but the whole decode/assembly pipeline runs —
    // a regression that drops below the reference's own ceiling on LOCAL
    // I/O would be a real architecture smell, not noise.
    read("from" -> "2270370", "to" -> "2270469").count() // warm the caches
    val t0 = System.nanoTime()
    val n = read("from" -> "2270370", "to" -> "2270469").count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(n === 100L)
    // floor sits far under the quiet-host rate (hundreds/s) so documented
    // 20-50x host-contention spikes cannot flake the suite, yet a genuine
    // architecture regression (per-block overheads back on the scan path)
    // still trips it
    val blocksPerSec = n / secs
    assert(blocksPerSec > 5.0,
      f"backfill ran $blocksPerSec%.1f blocks/s — below the reference envelope")
  }

  test("height-range filter prunes partitions; num_txs pushdown skips empties") {
    val df = read("from" -> "2270370", "to" -> "2270469")
    assert(df.filter(col("height").between(2270400L, 2270409L)).count() === 10L)
    assert(df.filter(col("num_txs") > 0).count() === 29L)
    val plan = df.filter(col("num_txs") > 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("minNumTxs=1"), s"plan did not push num_txs filter:\n$plan")
  }

  test("header-only projection switches to the cheap meta-page path") {
    val df = read("from" -> "2270370", "to" -> "2270469")
      .select("height", "time", "chain_id", "num_txs", "historical")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("mode=meta"), s"expected meta mode:\n$plan")
    assert(df.count() === 100L)
    // same num_txs facts as the full path (S3 ≡ S1 projection)
    val full = read("from" -> "2270370", "to" -> "2270469").select("height", "num_txs")
    assert(df.select("height", "num_txs").except(full).count() === 0L)
  }

  test("micro-batch stream drains history then live: 106 rows, provenance flags") {
    val q = spark.readStream.format("blockfeed")
      .option("path", T).option("from", "2270370")
      .option("maxHeightsPerTrigger", "40")
      .load()
      .writeStream.format("memory").queryName("bf_all")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bf_all").cache()
    assert(got.count() === 106L)
    assert(got.select("height").distinct().count() === 106L)
    assert(got.filter(col("historical")).count() === 100L)
    assert(got.filter(!col("historical")).count() === 6L)
    // multiple micro-batches actually happened (admission control)
    assert(q.recentProgress.length >= 2)
  }

  test("checkpoint restart resumes exactly, no gaps or dupes (T3)") {
    val ckpt = java.nio.file.Files.createTempDirectory("bf_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("bf_out").toString
    def run(opts: Map[String, String]): Unit = {
      val r = spark.readStream.format("blockfeed").option("path", T)
      val q = opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
        .select("height", "num_txs", "historical")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    run(Map("from" -> "2270370", "to" -> "2270419"))
    val first = spark.read.parquet(out).select("height").collect().map(_.getLong(0)).toSet
    assert(first.size === 50)
    // restart from the same checkpoint without the upper bound: exactly the
    // remaining heights arrive, none re-emitted
    run(Map("from" -> "2270370"))
    val all = spark.read.parquet(out).select("height").collect().map(_.getLong(0)).toSeq
    assert(all.size === 106, s"expected 106 total rows, got ${all.size}")
    assert(all.distinct.size === 106, "restart re-emitted committed heights")
  }

  test("from=latest starts at the live tip (S14)") {
    val q = spark.readStream.format("blockfeed")
      .option("path", T).option("from", "latest")
      .load()
      .writeStream.format("memory").queryName("bf_latest")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bf_latest")
    // current height (abci_info) = 3028985 → only the 6 live blocks are above
    assert(got.count() === 6L)
    assert(got.filter(col("historical")).count() === 0L)
  }

  test("decode cascade classifies every control frame (T5)") {
    import DecodeCascade._
    def load(n: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$T/rpc/responses/$n.json")), "UTF-8")
    assert(classify(load("empty")) === Empty)
    assert(classify(load("unknown")).isInstanceOf[Unknown])
    classify(load("error_unwrapped")) match {
      case e: RpcError => assert(e.code === -1000 && !e.isPanic)
      case other => fail(s"expected RpcError, got $other")
    }
    classify(load("error_wrapped")) match {
      case e: RpcError => assert(e.code === -1000 && !e.isPanic)
      case other => fail(s"expected RpcError, got $other")
    }
    classify(load("panic")) match {
      case e: RpcError => assert(e.isPanic)
      case other => fail(s"expected panic RpcError, got $other")
    }
    intercept[MalformedFrame](classify(load("malformed")))
    // live NewBlock envelope classifies as data
    val live = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$T/live/3126935.json")), "UTF-8")
    classify(live) match {
      case NewBlock(h, _) => assert(h === 3126935L)
      case other => fail(s"expected NewBlock, got $other")
    }
    // the stream policy on these classes (panic poisons, noise drops) is
    // WsSubscription's, pinned end to end in WsBlockFeedSpec
  }

  test("full-mode scan without results columns skips the second RPC") {
    // block (ordinal 5) is not meta-safe and not a results column → full
    // mode with results-RPC elision; values must match the enriched scan
    val slim = read("from" -> "2270370", "to" -> "2270379")
      .select(col("height"), col("block.header.proposer_address").as("p"))
    assert(slim.queryExecution.executedPlan.toString.contains("mode=full"))
    assert(slim.count() === 10L)
    val full = read("from" -> "2270370", "to" -> "2270379")
      .select(col("height"), col("block.header.proposer_address").as("p"),
        col("txs_results"))
      .select(col("height"), col("p"))
    assert(slim.except(full).count() === 0L)
    assert(full.except(slim).count() === 0L)
  }

  test("StreamingQueryListener observes progress and termination (K7)") {
    // the reference's consumer harness surface (`EventStreamViewer.consume`:
    // ok/error callbacks) maps to StreamingQueryListener events
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    val started = new java.util.concurrent.atomic.AtomicInteger
    val rows = new java.util.concurrent.atomic.AtomicLong
    val terminated = new java.util.concurrent.atomic.AtomicInteger
    val errors = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = started.incrementAndGet()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        rows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
        if (e.exception.isDefined) errors.incrementAndGet()
        terminated.incrementAndGet()
      }
    }
    spark.streams.addListener(listener)
    try {
      val q = spark.readStream.format("blockfeed")
        .option("path", T).option("from", "2270370").option("to", "2270399")
        .option("maxHeightsPerTrigger", "10")
        .load()
        .writeStream.format("memory").queryName("bf_k7")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      // listener events are delivered asynchronously after termination
      val deadline = System.nanoTime() + 30e9.toLong
      while (terminated.get() < 1 && System.nanoTime() < deadline) Thread.sleep(100)
      assert(started.get() === 1)
      assert(rows.get() === 30L) // every input row observed via progress
      assert(terminated.get() === 1 && errors.get() === 0)
    } finally spark.streams.removeListener(listener)
  }

  test("dropDuplicatesWithinWatermark dedups replayed heights (T2)") {
    // belt-and-braces dedup for at-least-once upstreams (the offset log
    // already guarantees no dupes from OUR connector; this is the guard for
    // e.g. a Kafka replay) — bounded state: heights are monotone, so the
    // watermark reaps old keys (SURVEY §2.9 T2)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def t(mins: Int) = new java.sql.Timestamp(base.getTime + mins * 60000L)
    val q = mem.toDF().toDF("height", "ts")
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("height")
      .writeStream.format("memory").queryName("t2_dedup")
      .outputMode("append").start()
    mem.addData((101L, t(0)), (102L, t(1)))
    q.processAllAvailable()
    // replay 102 (within watermark) + new 103
    mem.addData((102L, t(2)), (103L, t(3)))
    q.processAllAvailable()
    q.stop()
    val hs = spark.table("t2_dedup").select("height")
      .collect().map(_.getLong(0)).sorted
    assert(hs.toSeq === Seq(101L, 102L, 103L))
  }

  test("streaming event extraction end-to-end (scan→explode→decode→agg)") {
    // the reference's primary production path: stream blocks, flatten tx
    // events, aggregate — here as one continuous streaming plan
    val raw = spark.readStream.format("blockfeed")
      .option("path", T).option("from", "2270370")
      .option("maxHeightsPerTrigger", "40")
      .load()
    val q = EventTables.txEvents(raw)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("bf_txev")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bf_txev")
    val batch = EventTables.txEvents(
        read("from" -> "2270370", "to" -> Long.MaxValue.toString))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(got.except(batch).count() === 0L)
    assert(batch.except(got).count() === 0L)
    // historical slice alone contributes the known 9838 fixture tx events
    assert(got.agg(sum(col("n"))).head().getLong(0) >= Fixture.txEventRows)
  }

  test("retry decorator: exponential backoff with jitter on I/O errors (T4)") {
    import graft.sources.{BlockClient, RetryingBlockClient}
    var calls = 0
    val flaky = new BlockClient {
      override def currentHeight(): Long = {
        calls += 1
        if (calls < 3) throw new java.io.IOException("transient")
        42L
      }
      override def availableHeights(from: Long, to: Long) = Seq.empty
      override def block(h: Long) = None
      override def blockResults(h: Long) = None
      override def metaPages(f: Long, t: Long) =
        throw new IllegalStateException("fatal")
    }
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val c = new RetryingBlockClient(flaky, maxAttempts = 5,
      baseWaitMillis = 100L, sleeper = sleeps += _)
    assert(c.currentHeight() === 42L && calls === 3)
    // two waits: 100·2^0 and 100·2^1, each ±25% jitter
    assert(sleeps.length === 2)
    assert(sleeps(0) >= 75 && sleeps(0) <= 125)
    assert(sleeps(1) >= 150 && sleeps(1) <= 250)
    // non-retryable errors surface immediately (MultiplexFlow.kt:47)
    intercept[IllegalStateException](c.metaPages(1L, 2L))
    // retryable errors exhaust maxAttempts then surface
    calls = -100
    intercept[java.io.IOException] {
      new RetryingBlockClient(flaky, maxAttempts = 2, baseWaitMillis = 1L,
        sleeper = _ => ()).currentHeight()
    }
    // IOExceptions that cannot heal with time (bad path, unknown host)
    // fail FAST — zero sleeps, one call — instead of riding the backoff
    // ladder; matters doubly now that driver-side planning is wrapped too
    var permCalls = 0
    val permanent = new BlockClient {
      override def currentHeight(): Long = {
        permCalls += 1
        throw new java.nio.file.NoSuchFileException("/typo/abci_info")
      }
      override def availableHeights(from: Long, to: Long) = Seq.empty
      override def block(h: Long) = {
        permCalls += 1
        throw new java.net.UnknownHostException("no-such-node")
      }
      override def blockResults(h: Long) = None
      override def metaPages(f: Long, t: Long) = Seq.empty
    }
    val permSleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val pc = new RetryingBlockClient(permanent, maxAttempts = 5,
      baseWaitMillis = 100L, sleeper = permSleeps += _)
    intercept[java.nio.file.NoSuchFileException](pc.currentHeight())
    intercept[java.net.UnknownHostException](pc.block(1L))
    assert(permCalls === 2 && permSleeps.isEmpty,
      "permanent I/O errors must surface immediately with no backoff")
  }

  test("explicit height list scan (S2) intersects with pushed predicates") {
    val df = read("heights" -> "2270469, 2270375,2270370,2270380,2270375, 9999999")
    // deduped, missing heights dropped, all four present
    assert(df.select("height").collect().map(_.getLong(0)).sorted
      === Array(2270370L, 2270375L, 2270380L, 2270469L))
    // height predicates still prune on top of the explicit list
    assert(df.filter(col("height") >= 2270380L).count() === 2L)
    // meta-only projection keeps working over the list
    val meta = read("heights" -> "2270370,2270380")
      .select("height", "num_txs")
    assert(meta.queryExecution.executedPlan.toString.contains("mode=meta"))
    assert(meta.count() === 2L)
  }

  test("streaming time-window agg with watermark over the feed (W1/T7)") {
    val src = spark.readStream.format("blockfeed")
      .option("path", T).option("from", "2270370")
      .option("maxHeightsPerTrigger", "40")
      .load()
    val agg = src
      .withWatermark("time", "10 minutes")
      .groupBy(window(col("time"), "1 minute"))
      .agg(count(lit(1)).as("n_blocks"), max(col("height")).as("max_height"))
    val q = agg.writeStream.format("memory").queryName("bf_win")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("bf_win")
      .select(col("window.start").as("ws"), col("n_blocks"), col("max_height"))
      .cache()
    // every one of the 106 combined blocks lands in exactly one window
    assert(got.agg(sum(col("n_blocks"))).head().getLong(0) === 106L)
    // streaming result ≡ the same window agg computed in batch (S12 path)
    val batch = read("from" -> "2270370", "to" -> Long.MaxValue.toString)
      .groupBy(window(col("time"), "1 minute"))
      .agg(count(lit(1)).as("n_blocks"), max(col("height")).as("max_height"))
      .select(col("window.start").as("ws"), col("n_blocks"), col("max_height"))
    assert(got.except(batch).count() === 0L)
    assert(batch.except(got).count() === 0L)
  }

  test("Trigger.Once drains everything available, not one maxHeightsPerTrigger batch") {
    // r12 review: Spark passes ReadLimit.allAvailable() under Trigger.Once
    // (it explicitly ignores the source's default limit there); clamping
    // the everything-limit back to maxHeightsPerTrigger made a one-shot
    // run silently stop after the first 40 of 100 heights
    val q = spark.readStream.format("blockfeed")
      .option("path", T)
      .option("from", "2270370").option("to", "2270469")
      .option("maxHeightsPerTrigger", "40")
      .load()
      .writeStream.format("memory").queryName("bf_once")
      .trigger(Trigger.Once()).start()
    q.awaitTermination(120000)
    assert(spark.table("bf_once").count() === 100L,
      "Trigger.Once must not be clamped to maxHeightsPerTrigger")
  }

  test("boundary height/num_txs literals stay residual (pushed v±1 would wrap)") {
    // r12 review: GreaterThan("height", Long.MaxValue) used to be ACCEPTED
    // and its strict bound computed as v+1 — wrapping to Long.MinValue, so
    // the filter Spark believed was enforced matched nothing and every row
    // came back where the right answer is zero
    val df = read("from" -> "2270370", "to" -> "2270469")
    assert(df.filter(col("height") > Long.MaxValue).count() === 0L)
    assert(df.filter(col("height") < Long.MinValue).count() === 0L)
    assert(df.filter(col("num_txs") > Int.MaxValue).count() === 0L)
    // non-boundary bounds still push and still work
    assert(df.filter(col("height") > 2270467L).count() === 2L)
  }

  test("meta-mode pages are a fetch optimization, not the result contract") {
    // r12 review: a fixture whose blockchain/ pages do not cover every
    // block/ height used to return FEWER rows under a header-only
    // projection than under select(block) on the same data — projection
    // changing the result set. The reader now backstops page gaps with
    // per-height /block fetches.
    val root = java.nio.file.Files.createTempDirectory("bf_meta_cov")
    try {
      val src = java.nio.file.Paths.get(T)
      java.nio.file.Files.createDirectories(root.resolve("block"))
      java.nio.file.Files.createDirectories(root.resolve("blockchain"))
      java.nio.file.Files.createDirectories(root.resolve("abci_info"))
      java.nio.file.Files.copy(src.resolve("abci_info/success.json"),
        root.resolve("abci_info/success.json"))
      (2270370L to 2270389L).foreach { h =>
        java.nio.file.Files.copy(src.resolve(s"block/$h.json"),
          root.resolve(s"block/$h.json"))
      }
      // pages cover only 4 of the 20 planned heights
      java.nio.file.Files.copy(src.resolve("blockchain/2270370-2270373.json"),
        root.resolve("blockchain/2270370-2270373.json"))
      val df = spark.read.format("blockfeed")
        .option("path", root.toString)
        .option("from", "2270370").option("to", "2270389").load()
      val meta = df.select("height", "num_txs")
      assert(meta.queryExecution.executedPlan.toString.contains("mode=meta"))
      assert(meta.count() === 20L,
        "page gaps must be backstopped by /block, not dropped")
      // and the full projection agrees — same result set either way
      assert(df.select("height").count() === 20L)
      // the skip-empty pushdown still composes with the backstop
      assert(df.filter(col("num_txs") > 0).select("height", "num_txs").count() ===
        read("from" -> "2270370", "to" -> "2270389")
          .filter(col("num_txs") > 0).count())
    } finally TestDirs.deleteRecursively(root)
  }

  test("non-positive heightsPerPartition / maxHeightsPerTrigger fail at load, naming the option") {
    // heightsPerPartition=0 used to die in Seq.grouped with no mention of
    // the option; maxHeightsPerTrigger=0 planned empty triggers forever
    for (name <- Seq("heightsPerPartition", "maxHeightsPerTrigger");
         v <- Seq("0", "-1")) {
      val batch = intercept[IllegalArgumentException](
        read("from" -> "2270370", "to" -> "2270469", name -> v))
      val stream = intercept[IllegalArgumentException](
        spark.readStream.format("blockfeed").option("path", T)
          .option("from", "2270370").option(name, v).load())
      for (e <- Seq(batch, stream))
        assert(e.getMessage.contains(name) && e.getMessage.contains(s"got $v"),
          e.getMessage)
    }
  }

  test("file transport listings close their directory streams") {
    // availableHeights and metaPages run on every block-query plan and
    // every file-transport trigger; an unclosed Files.list held one file
    // descriptor per call until the JVM exited
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val c = new graft.sources.FileBlockClient(T)
    val before = os.getOpenFileDescriptorCount
    (1 to 300).foreach(_ => c.availableHeights(1L, Long.MaxValue))
    val afterHeights = os.getOpenFileDescriptorCount
    (1 to 300).foreach(_ => c.metaPages(2270370L, 2270469L))
    val afterPages = os.getOpenFileDescriptorCount
    // slack for descriptors other threads of this JVM open meanwhile
    assert(afterHeights - before < 50, s"availableHeights: $before -> $afterHeights")
    assert(afterPages - afterHeights < 50, s"metaPages: $afterHeights -> $afterPages")
  }
}
