package graft

import graft.blocks.{EventTables, FixtureSource}
import graft.sources.BlockClient
import graft.sources.grpc.GrpcBlockClient
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The gRPC transport THROUGH the connector (the HttpBlockFeedSpec
  * scenarios on the fourth transport): batch scans, pushdown-driven mode
  * selection, and the per-height meta degrade must all produce the same
  * 100/29 ground truth as the file transport when the only thing that
  * changed is `path = grpc://…`. The wire itself (framing, status taxonomy,
  * codec round-trip) is covered by GrpcWireSpec/GrpcCodecSpec; the gate
  * queries st11/st12 hash-match the streaming drain and the batch event
  * aggregation against DuckDB.
  */
class GrpcBlockFeedSpec extends AnyFunSuite {

  private val T = FixtureSource.DefaultTemplates
  private lazy val spark: SparkSession = Session.builder("graft-grpc-test").getOrCreate()

  private def withStub[A](f: StubGrpcServer => A): A = {
    val stub = new StubGrpcServer(T)
    try f(stub) finally stub.stop()
  }

  test("scheme selection: grpc:// opens the gRPC transport") {
    assert(BlockClient.open("grpc://127.0.0.1:1").isInstanceOf[GrpcBlockClient])
    intercept[IllegalArgumentException](BlockClient.open("grpc://no-port"))
    // a grpc:// URI takes no options: any parameter — including the
    // removed `results` layout switch and `callTimeoutMillis` — fails
    // naming both the parameter and the URI, never silently ignored
    for ((uri, name) <- Seq(
           "grpc://127.0.0.1:1?results=v038" -> "results",
           "grpc://127.0.0.1:1?results=v034" -> "results",
           "grpc://127.0.0.1:1?callTimeoutMillis=400" -> "callTimeoutMillis")) {
      val e = intercept[IllegalArgumentException](BlockClient.open(uri))
      assert(e.getMessage.contains(s"'$name'") && e.getMessage.contains(uri),
        e.getMessage)
    }
  }

  test("S1 batch scan over grpc: 100 rows, same event totals as file transport") {
    withStub { stub =>
      val df = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("from", "2270370").option("to", "2270469").load()
      assert(df.count() === 100L)
      assert(EventTables.txEvents(df).count() === Fixture.txEventRows)
      assert(EventTables.blockEvents(df).count() === Fixture.blockEventRows)
      assert(df.filter(col("num_txs") > 0).count() === 29L)
      // the stub serves the 0.38 layout (begin/end folded into one list
      // with mode markers): the reconstructed end list must equal the file
      // transport's. Count equality + one-direction multiset containment ⇒
      // equality; the count is what makes this non-vacuous (a misroute
      // empties df's end list, and empty.exceptAll(x) is 0 rows)
      val viaFile = Fixture.raw(spark, 2270370L, 2270469L)
      def endTypes(d: org.apache.spark.sql.DataFrame) =
        d.select(explode(col("end_block_events")).as("e")).select(col("e.type"))
      val expectedEnd = endTypes(viaFile).count()
      assert(expectedEnd > 0L)
      assert(endTypes(df).count() === expectedEnd)
      assert(endTypes(df).exceptAll(endTypes(viaFile)).count() === 0L)
    }
  }

  test("S3 over grpc: header-only projection takes the (degraded) meta path") {
    // gRPC has no paged /blockchain RPC: a meta-mode scan reads every
    // planned height through the reader's per-height block() fallback —
    // one GetBlockByHeight per height and no results RPC — and must yield
    // the file transport's meta-safe columns exactly
    val metaCols = Seq("height", "time", "chain_id", "num_txs", "historical", "block_id")
    def scan(path: String) = spark.read.format("blockfeed")
      .option("path", path)
      .option("from", "2270370").option("to", "2270409").load()
      .select(metaCols.map(col): _*)
    withStub { stub =>
      val df = scan(stub.base)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("mode=meta"), s"expected meta mode:\n$plan")
      val viaGrpc = df.collect().sortBy(_.getLong(0)).toSeq
      assert(viaGrpc.size === 40)
      assert(stub.blockServesIn(2270370L, 2270409L) === 40,
        "expected exactly one block fetch per planned height")
      assert(stub.resultsRequested === 0, "a meta scan asked for block results")
      val viaFile = scan(T).collect().sortBy(_.getLong(0)).toSeq
      assert(viaGrpc === viaFile)
    }
  }

  test("results-RPC elision over grpc: no event column, no results calls") {
    withStub { stub =>
      // projecting the block payload (ordinal 5) forces full mode but needs
      // no txs_results — the reader must make exactly one RPC per height
      val df = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("from", "2270370").option("to", "2270379").load()
        .select(col("height"), size(col("block.data.txs")).as("n"))
      assert(df.count() === 10L)
      assert(stub.resultsServes === 0,
        "results service called despite no event column in the projection")
      assert(stub.blockServesIn(2270370L, 2270379L) >= 10)
    }
  }

  test("asked vs answered: the results counters split over the mixed golden fixtures") {
    // r14 (r13 ADVICE): resultsServes used to count REQUESTS, and the
    // golden window itself mixes present and absent results — heights
    // 2270417/2270420 carry a block template but no block_results — so
    // "asked" and "answered" genuinely differ by 2 over the full window.
    // One drain pins both semantics at once: the event projection forces
    // the 2-RPC full mode (100 asks — the st12/st13 gate claim), the wire
    // answers 98 with payloads (the serve count the elision specs read),
    // and the two unanswered heights degrade to null event columns (the
    // documented left-join parity) instead of dropping or failing.
    withStub { stub =>
      // collect(), not count(): count prunes the event column away and the
      // elision (rightly) skips every results ask — the pin needs the
      // projection actually materialized
      val rows = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("from", "2270370").option("to", "2270469").load()
        .select("height", "begin_block_events")
        .collect()
      assert(rows.length === 100)
      assert(stub.resultsRequested === 100,
        "full mode must ask the results service once per planned height")
      assert(stub.resultsServes === Fixture.heightsWithResults,
        "only answered-with-payload requests may count as serves")
      val absent = rows.filter(r => Set(2270417L, 2270420L)(r.getLong(0)))
      assert(absent.length === 2 && absent.forall(_.isNullAt(1)),
        "absent results must degrade to null event columns, not drop rows")
    }
  }

  test("height-list scan (S2) over grpc plans only the listed heights") {
    withStub { stub =>
      val df = spark.read.format("blockfeed")
        .option("path", stub.base)
        .option("heights", "2270370,2270400,2270469").load()
        .select(col("height"), size(col("block.data.txs")).as("n"))
      assert(df.collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(2270370L, 2270400L, 2270469L))
      assert(stub.blockServesIn(2270370L, 2270469L) === 3)
    }
  }

  test("ws over grpc: a below-floor `from` fails loudly (the wire cannot see the floor)") {
    // BlockFeed's startFloor probe clamps ws-mode's arithmetic start to the
    // node's retained window — but only on a transport whose
    // availableHeights can SEE the floor. The gRPC surface has no
    // earliest-height RPC (GrpcBlockClient.availableHeights assumes a
    // synced dense node), so the probe is a documented no-op there, and a
    // below-floor `from` must fail the stream LOUDLY via the planned-height
    // presence contract — never silently drop the pruned heights (permanent
    // T1 gap) and never wedge without a cause. This pins the documented
    // loud-failure arm so it cannot silently change.
    val ws = new StubWsServer
    try withStub { stub =>
      val q = spark.readStream.format("blockfeed")
        .option("path", stub.base)
        .option("ws", ws.url)
        .option("from", "1") // far below the stub's earliest (2270370)
        .option("maxHeightsPerTrigger", "8")
        .option("retryBaseWaitMs", "1")
        .load()
        .writeStream.format("memory").queryName("bf_grpc_ws_floor")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.awaitTermination(120000))
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
      assert(msgs.contains("planned from the node's own availability"),
        s"a below-floor ws start on grpc must trip the presence contract, got:\n$msgs")
      assert(msgs.contains("height 1 "),
        s"the failure must name the below-floor height, got:\n$msgs")
    } finally ws.stop()
  }
}
