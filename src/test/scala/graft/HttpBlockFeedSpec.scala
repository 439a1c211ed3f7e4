package graft

import graft.blocks.{EventTables, FixtureSource}
import graft.sources.{BlockClient, HttpBlockClient, RetryingBlockClient}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** The HTTP JSON-RPC transport against a local stub node replaying the
  * golden templates (zero egress): the S1/S13 connector scenarios must
  * produce the SAME 100/29/6/106 ground truth as the file transport, plus
  * the transport-only behaviors (retry on transient HTTP failures, absent
  * heights as None, scheme-based selection).
  */
class HttpBlockFeedSpec extends AnyFunSuite {

  private val T = FixtureSource.DefaultTemplates
  private lazy val spark: SparkSession = Session.builder("graft-http-test").getOrCreate()

  private def withStub[A](f: StubRpcServer => A): A = {
    val stub = new StubRpcServer(T)
    try f(stub) finally stub.stop()
  }

  test("scheme selection: http:// opens the network transport") {
    assert(BlockClient.open("http://127.0.0.1:1").isInstanceOf[HttpBlockClient])
    assert(BlockClient.open(T).isInstanceOf[graft.sources.FileBlockClient])
  }

  test("client RPCs: height, dense availability, block fetch, absent = None") {
    withStub { stub =>
      val c = new HttpBlockClient(stub.base)
      assert(c.currentHeight() === 2270469L)
      // dense across the node's retained window, clamped by /status
      assert(c.availableHeights(2270360L, 2270374L) === (2270370L to 2270374L))
      assert(c.availableHeights(2270470L, 9999999L) === (2270470L to 2270475L))
      assert(c.availableHeights(1L, 100L) === Seq.empty)
      assert(c.block(2270370L).exists(_.contains("\"block\"")))
      assert(c.blockResults(2270370L).exists(_.contains("txs_results")))
      // far outside the chain: a JSON-RPC error response, not an exception
      assert(c.block(9999999L).isEmpty)
      // 20-height pages aligned to from
      val pages = c.metaPages(2270370L, 2270409L)
      assert(pages.size === 2)
      assert(pages.head.contains("block_metas"))
    }
  }

  test("T4 over the wire: transient 503s are retried, then succeed") {
    withStub { stub =>
      val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
      val c = new RetryingBlockClient(new HttpBlockClient(stub.base),
        maxAttempts = 5, baseWaitMillis = 10L, sleeper = waits += _)
      stub.failNext(3)
      assert(c.currentHeight() === 2270469L)
      assert(waits.size === 3) // exactly one backoff per transient failure
      // non-transient absence is NOT retried
      stub.failNext(0)
      val before = stub.requestCount
      assert(c.block(9999999L).isEmpty)
      assert(stub.requestCount === before + 1)
    }
  }

  test("S1 batch scan over http: 100 rows, same event totals as file transport") {
    withStub { stub =>
      val df = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("from", "2270370").option("to", "2270469").load()
      assert(df.count() === 100L)
      assert(df.filter(col("historical")).count() === 100L)
      assert(EventTables.txEvents(df).count() === Fixture.txEventRows)
      assert(EventTables.blockEvents(df).count() === Fixture.blockEventRows)
      assert(df.filter(col("num_txs") > 0).count() === 29L)
    }
  }

  test("S3 over http: header-only projection takes the meta-page path") {
    withStub { stub =>
      val df = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("from", "2270370").option("to", "2270469").load()
        .select("height", "time", "chain_id", "num_txs", "historical")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("mode=meta"), s"expected meta mode:\n$plan")
      assert(df.count() === 100L)
    }
  }

  test("S13 combined stream over http: 106 rows, 100 historical + 6 live") {
    withStub { stub =>
      val q = spark.readStream.format("blockfeed")
        .option("path", stub.base)
        .option("from", "2270370")
        .option("maxHeightsPerTrigger", "40")
        .load()
        .writeStream.format("memory").queryName("bf_http_all")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.table("bf_http_all").cache()
      assert(got.count() === 106L)
      assert(got.select("height").distinct().count() === 106L)
      assert(got.filter(col("historical")).count() === 100L)
      assert(got.filter(!col("historical")).count() === 6L)
      assert(q.recentProgress.length >= 2)
    }
  }

  test("S14 over http: from=latest starts at the live tip") {
    withStub { stub =>
      val q = spark.readStream.format("blockfeed")
        .option("path", stub.base)
        .option("from", "latest")
        .load()
        .writeStream.format("memory").queryName("bf_http_latest")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val got = spark.table("bf_http_latest")
      assert(got.count() === 6L)
      assert(got.filter(col("historical")).count() === 0L)
    }
  }

  test("a planned height the node lags on is retried, then fails the task — never dropped") {
    // r12 review: planning lists heights the node itself advertised, and by
    // read time the offset/commit bookkeeping is past them — a /block that
    // answers not-available (lagging replica behind the endpoint) must not
    // silently flatMap the row away (a permanent T1 gap). Heal arm: two
    // not-available answers, absorbed by the reader's presence ladder.
    // NB count() takes the META path (empty projection) and pages still
    // cover a hidden height — the presence contract under test lives on
    // the full path, so the query must project a non-meta column
    withStub { stub =>
      stub.hideBlocks(2270380L, 2)
      val df = spark.read.format("blockfeed")
        .option("path", stub.base).option("retryBaseWaitMs", "5")
        .option("from", "2270370").option("to", "2270389").load()
      assert(df.filter(col("block").isNotNull).count() === 20L,
        "a healing replica must cost retries, not rows")
      assert(stub.blockServesIn(2270380L, 2270380L) >= 3) // the ladder engaged
    }
    // fail arm: a height that never heals fails the scan with the height
    // named, instead of returning 19 rows
    withStub { stub =>
      stub.hideBlocks(2270385L, Int.MaxValue)
      val df = spark.read.format("blockfeed")
        .option("path", stub.base).option("retryBaseWaitMs", "5")
        .option("from", "2270370").option("to", "2270389").load()
      val e = intercept[Throwable](df.filter(col("block").isNotNull).count())
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("2270385"),
        s"failure must name the unserved height, got:\n$msgs")
    }
  }

  test("a planned height served as an unreadable payload retries, then fails — never dropped") {
    // r13 (r12 ADVICE): the presence contract covered a block that is
    // ABSENT, but a 200 whose body fails to decode used to hit rawRow's
    // None path and get silently flatMapped away — the same permanent
    // exactly-once gap, triggered by a corrupt payload instead of a 404.
    // Heal arm: two corrupt serves, absorbed by the same ladder.
    withStub { stub =>
      stub.corruptBlocks(2270380L, 2)
      val df = spark.read.format("blockfeed")
        .option("path", stub.base).option("retryBaseWaitMs", "5")
        .option("from", "2270370").option("to", "2270389").load()
      assert(df.filter(col("block").isNotNull).count() === 20L,
        "a replica healing from corrupt serves must cost retries, not rows")
      assert(stub.blockServesIn(2270380L, 2270380L) >= 3) // the ladder engaged
    }
    // fail arm: a payload that never becomes readable fails the scan with
    // the height named, instead of returning 19 rows
    withStub { stub =>
      stub.corruptBlocks(2270385L, Int.MaxValue)
      val df = spark.read.format("blockfeed")
        .option("path", stub.base).option("retryBaseWaitMs", "5")
        .option("from", "2270370").option("to", "2270389").load()
      val e = intercept[Throwable](df.filter(col("block").isNotNull).count())
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("2270385") && msgs.contains("unreadable"),
        s"failure must name the unreadable height, got:\n$msgs")
    }
  }

  test("a corrupt meta-page entry is re-covered via the /block backstop — zero dropped rows") {
    // r14 (r13 VERDICT task #4): the codec-level pin says a num_txs-less
    // page entry is SKIPPED, never trusted as an authoritative 0 — this is
    // the end-to-end arm on the HTTP wire. Under a num_txs pushdown on the
    // META path, pre-94ad3ef metaRows parsed the broken entry as num_txs=0,
    // recorded the height covered-and-filtered, and the height silently
    // vanished from the result; now the skipped entry leaves a coverage
    // gap the reader's /block backstop must re-fetch. 2270408 is the one
    // height with txs (num_txs=4) in its page, so the drop would be real.
    def txHeights(stub: StubRpcServer): Set[Long] = {
      val df = spark.read.format("blockfeed")
        .option("path", stub.base).option("retryBaseWaitMs", "5")
        .option("from", "2270390").option("to", "2270409")
        .load().select("height", "num_txs")
        .filter(col("num_txs") > 0)
      assert(df.queryExecution.executedPlan.toString.contains("mode=meta"),
        "the projection must take the meta-page path for the pin to bite")
      df.collect().map(_.getLong(0)).toSet
    }
    val clean = withStub(txHeights)
    assert(clean.contains(2270408L), "fixture precondition: 2270408 has txs")
    withStub { stub =>
      stub.corruptMetaEntry(2270408L, Int.MaxValue)
      assert(txHeights(stub) === clean,
        "a corrupt page entry must cost a backstop RPC, never a dropped row")
      assert(stub.blockServesIn(2270408L, 2270408L) >= 1,
        "the re-covered height must have come over /block, not the page")
    }
  }

  test("ws mode clamps a below-floor `from` to the node's retained window") {
    // r12 review: the dense-range arithmetic advance is only sound ABOVE
    // the pruning node's earliest_block_height — from=1 (the default)
    // used to plan heights 1..cap arithmetically, which the presence
    // contract then rightly refuses to drop: a permanently wedged stream
    // on heights that can never heal. The construction-time availability
    // probe clamps the start to the floor instead.
    val ws = new StubWsServer
    try withStub { stub =>
      val q = spark.readStream.format("blockfeed")
        .option("path", stub.base)
        .option("ws", ws.url)
        .option("from", "1") // far below the stub's earliest (2270370)
        .option("retryBaseWaitMs", "5")
        .load()
        .writeStream.format("memory").queryName("bf_ws_floor")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "drain wedged on pruned heights")
      // tip at prepare = the abci start tip (no push): exactly the window
      assert(spark.table("bf_ws_floor").count() === 100L)
    } finally ws.stop()
  }

  test("sparse explicit heights fetch meta pages per run, not across the whole span") {
    // r12 review: the meta reader paged metaPages(min, max) over the
    // partition's full numeric span — heights="lo,hi" a million apart paged
    // the entire range for two rows. Runs split at >20-height gaps.
    withStub { stub =>
      val df = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("heights", "2270370,2270469")
        .load().select("height", "num_txs")
      assert(df.queryExecution.executedPlan.toString.contains("mode=meta"))
      val before = stub.requestCount
      assert(df.count() === 2L)
      // planning RPCs (abci_info + /status, ×2 — AQE re-plans the cloned
      // scan node) + one page per RUN = 2; the old span fetch paid
      // ceil(100/20) = 5 page RPCs here (9 total) for the same two rows
      assert(stub.requestCount - before <= 7,
        s"expected per-run pages, saw ${stub.requestCount - before} RPCs")
    }
  }
}
