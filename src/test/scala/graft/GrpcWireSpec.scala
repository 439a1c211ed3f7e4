package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.RetryingBlockClient
import graft.sources.grpc.{GrpcBlockClient, GrpcConnection, GrpcWire}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The gRPC transport end-to-end over a real loopback HTTP/2 connection:
  * [[graft.sources.grpc.GrpcBlockClient]] against [[StubGrpcServer]] — the
  * S7/T4 test pattern (`WsBlockFeedSpec`, `HttpBlockFeedSpec`) on the third
  * transport. netty's HTTP/2 codec sits on BOTH sides, so preface, SETTINGS,
  * HPACK, flow control, and stream lifecycle run the real protocol; the
  * assertions here pin the gRPC layer on top: framing, trailers status
  * taxonomy, NOT_FOUND vs transient vs fail-fast, multi-frame payload
  * reassembly, and the retry decorator integration.
  */
class GrpcWireSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val T = graft.blocks.FixtureSource.DefaultTemplates
  private val mapper = new ObjectMapper()

  private var stub: StubGrpcServer = _
  private var client: GrpcBlockClient = _

  override def beforeAll(): Unit = {
    stub = new StubGrpcServer(T)
    client = new GrpcBlockClient(stub.base)
  }
  override def afterAll(): Unit = stub.stop()

  private def resolved(path: String): String =
    graft.blocks.FixtureSource.substitute(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"), Map.empty)

  test("currentHeight = GetLatestBlock().header.height (the start tip)") {
    assert(client.currentHeight() === 2270469L)
  }

  test("availableHeights: dense within [from, min(to, tip)]") {
    assert(client.availableHeights(2270370L, 2270374L) ===
      (2270370L to 2270374L))
    assert(client.availableHeights(2270468L, 99999999L) ===
      Seq(2270468L, 2270469L))
    assert(client.availableHeights(5000000L, 6000000L) === Seq.empty)
  }

  test("block(h): the JSON that crossed the gRPC wire equals the template") {
    val viaWire = client.block(2270370L).get
    val orig = mapper.readTree(resolved(s"$T/block/2270370.json"))
    // wire transparency: the bytes the client decodes are exactly the bytes
    // the stub encoded, so the wire result must equal the local round-trip
    // product byte-for-byte — and GrpcCodecSpec separately proves that
    // round-trip value-equals the original template for the full corpus
    import graft.sources.grpc.{TendermintGrpcCodec => C}
    assert(viaWire ===
      C.decodeBlockResponse(C.encodeBlockResponse(resolved(s"$T/block/2270370.json"))))
    val wire = mapper.readTree(viaWire)
    val h = wire.path("result").path("block").path("header")
    assert(h.path("height").asText() === "2270370")
    assert(h.path("chain_id").asText() === Fixture.chainId)
    assert(h.path("time").asText() === Fixture.firstBlockTime)
    assert(wire.path("result").path("block_id").path("hash").asText() ===
      orig.path("result").path("block_id").path("hash").asText())
  }

  test("blockResults(h): the 202-event tx block reassembles across DATA frames") {
    // 2270408's results JSON is the corpus' largest (a 42-plus-event tx
    // payload well past one 16 KiB default HTTP/2 frame)
    val wire = mapper.readTree(client.blockResults(2270408L).get)
    val txs = wire.path("result").path("txs_results")
    assert(txs.isArray && txs.size() > 0)
    assert(txs.get(0).path("events").size() === 202)
    assert(txs.get(0).path("gas_wanted").asText() === Fixture.BigTx.gasWanted)
  }

  test("missing height → NOT_FOUND → None (parity with HTTP 404 / missing file)") {
    assert(client.block(9999999L).isEmpty)
    assert(client.blockResults(9999999L).isEmpty)
  }

  test("live slots above the historical tip serve the live payloads") {
    // chain slot 2270470 (histTo+1) serves the first live template (3126935)
    val wire = mapper.readTree(client.block(2270470L).get)
    assert(wire.path("result").path("block").path("header")
      .path("height").asText() === "3126935")
  }

  test("advanceTipAfterFirstPoll: the tip moves between polls, slot-valued") {
    // the st15 contract: call 1 (stream construction — the provenance
    // boundary) sees the historical ceiling; every later poll sees the
    // advanced tip, whose header.height carries the CHAIN SLOT (a real
    // chain's latest block does) while the rest of the payload is the live
    // block's own content. The default stub (the shared `stub`) has already
    // answered many tip calls above and stays frozen at histTo — also pinned.
    val adv = new StubGrpcServer(T, advanceTipAfterFirstPoll = true)
    try {
      val c = new GrpcBlockClient(adv.base)
      assert(c.currentHeight() === 2270469L)        // poll 1: start tip
      assert(c.currentHeight() === 2270475L)        // poll 2+: advanced, slot-valued
      assert(c.currentHeight() === 2270475L)
      assert(adv.tipServes === 3)
      // the advanced tip's payload is the live block's own content with only
      // header.height slot-mapped
      val raw = graft.sources.grpc.GrpcWire.unframe(
        new graft.sources.grpc.GrpcConnection("127.0.0.1", adv.port)
          .unary(GrpcBlockClient.GetLatestBlockPath, Array.emptyByteArray).payload)
      val tip = mapper.readTree(
        graft.sources.grpc.TendermintGrpcCodec.decodeBlockResponse(raw))
      val hdr = tip.path("result").path("block").path("header")
      assert(hdr.path("height").asText() === "2270475")
      val live = mapper.readTree(resolved(s"$T/block/3126940.json"))
      assert(hdr.path("data_hash").asText() ===
        live.path("result").path("block").path("header").path("data_hash").asText())
    } finally adv.stop()
    assert(client.currentHeight() === 2270469L) // default: frozen tip
  }

  test("T4: transient UNAVAILABLE is absorbed by the retry decorator") {
    stub.failNext(2)
    val retrying = new RetryingBlockClient(client, baseWaitMillis = 1L)
    assert(retrying.currentHeight() === 2270469L)
    // and without the decorator the same fault surfaces as IOException
    stub.failNext(1)
    intercept[java.io.IOException](client.currentHeight())
  }

  test("flow control: a response larger than the 1 MiB stream window reassembles") {
    // the corpus tops out at a few hundred KiB; synthesize a block_results
    // payload whose proto encoding exceeds the initial window so the
    // transfer MUST ride WINDOW_UPDATE replenishment (and the peer's
    // max-frame splitting) to complete — a stall here would hit the 60 s
    // call timeout, not a wrong answer
    val tmp = java.nio.file.Files.createTempDirectory("grpc-big-")
    try {
      val dir = tmp.resolve("block_results")
      java.nio.file.Files.createDirectories(dir)
      val bigLog = "x" * (3 * 1024 * 1024) // 3 MiB >> the 1 MiB window
      val json =
        s"""{"jsonrpc":"2.0","id":-1,"result":{"height":"42",
           |"txs_results":[{"code":0,"data":"","log":"$bigLog","info":"",
           |"gas_wanted":"1","gas_used":"1","codespace":"",
           |"events":[]}],
           |"begin_block_events":null,"end_block_events":null}}""".stripMargin
      java.nio.file.Files.write(dir.resolve("42.json"), json.getBytes("UTF-8"))
      val big = new StubGrpcServer(tmp.toString, histFrom = 42L, histTo = 42L)
      try {
        val c = new GrpcBlockClient(big.base)
        val res = c.blockResults(42L).get
        val tree = mapper.readTree(res)
        val log = tree.path("result").path("txs_results").get(0).path("log").asText()
        assert(log.length === 3 * 1024 * 1024)
        assert(log.forall(_ == 'x'))
      } finally big.stop()
    } finally TestDirs.deleteRecursively(tmp)
  }

  test("a dropped connection reconnects transparently on the next call") {
    val conn = new GrpcConnection("127.0.0.1", stub.port)
    val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(2270371L)
    assert(conn.unary(GrpcBlockClient.GetBlockByHeightPath, req).status === GrpcWire.OK)
    conn.close() // an executor's TCP connection dies (idle reap, node bounce)
    // the next unary must dial a fresh connection, not fail on the dead one
    assert(conn.unary(GrpcBlockClient.GetBlockByHeightPath, req).status === GrpcWire.OK)
    conn.close()
  }

  test("unknown method → UNIMPLEMENTED fails fast (not retried)") {
    val conn = new GrpcConnection("127.0.0.1", stub.port)
    val res = conn.unary("/no.such.Service/Method", Array.emptyByteArray)
    assert(res.status === GrpcWire.UNIMPLEMENTED)
    conn.close()
  }

  test("concurrent calls multiplex one connection without cross-stream mixups") {
    // 16 task threads × the full 100-height range on ONE GrpcConnection —
    // the executor sharing shape the pool is built for. Each response must
    // carry ITS request's height: a frame routed to the wrong stream, a
    // body interleaved across streams, or a slot race in the CAS parent
    // would surface as a wrong height, a codec error, or a hang here.
    val conn = new GrpcConnection("127.0.0.1", stub.port)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val heights = (2270370L to 2270469L).toSeq
      val futures = heights.map { h =>
        Future {
          val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(h)
          val res = conn.unary(GrpcBlockClient.GetBlockByHeightPath, req)
          assert(res.status === GrpcWire.OK)
          val json = graft.sources.grpc.TendermintGrpcCodec
            .decodeBlockResponse(GrpcWire.unframe(res.payload))
          mapper.readTree(json).path("result").path("block")
            .path("header").path("height").asText().toLong
        }
      }
      val got = Await.result(Future.sequence(futures),
        scala.concurrent.duration.Duration(120, "s"))
      assert(got === heights)
    } finally {
      pool.shutdownNow()
      conn.close()
    }
  }

  test("concurrent unary calls beyond a low max-concurrent-streams peer queue, not fail") {
    // a conservative node/LB may legally advertise MAX_CONCURRENT_STREAMS
    // below the number of task threads sharing one pooled connection; the
    // client codec enforces the advertised limit by QUEUEING excess stream
    // opens (not failing their HEADERS writes), so every call completes —
    // just with bounded in-flight depth. Without the enforcement: 'Maximum
    // active streams violated' → IOException → every T4 retry re-fails.
    val low = new StubGrpcServer(T, maxConcurrentStreams = 4)
    val conn = new GrpcConnection("127.0.0.1", low.port)
    val threads = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      // settle the SETTINGS exchange first so the burst below
      // deterministically runs AGAINST the known limit (calls during the
      // preface race would test nothing)
      assert(conn.unary(GrpcBlockClient.GetLatestBlockPath,
        Array.emptyByteArray).status === GrpcWire.OK)
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val go = new java.util.concurrent.CountDownLatch(1)
      val heights = (2270370L until 2270370L + 3 * threads).toSeq
      val futures = heights.grouped(3).toSeq.map { hs =>
        Future {
          go.await()
          hs.map { h =>
            val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(h)
            val res = conn.unary(GrpcBlockClient.GetBlockByHeightPath, req)
            assert(res.status === GrpcWire.OK)
            graft.sources.grpc.TendermintGrpcCodec
              .latestHeightOf(GrpcWire.unframe(res.payload))
          }
        }
      }
      go.countDown() // release every thread at once: > 4 calls in flight
      val got = Await.result(Future.sequence(futures),
        scala.concurrent.duration.Duration(120, "s")).flatten
      assert(got === heights)
      assert(low.blockServesIn(heights.head, heights.last) === heights.size)
    } finally {
      pool.shutdownNow()
      conn.close()
      low.stop()
    }
  }

  /** Reflective handle on the private CAS parent slot — used ONLY to stage
    * the orphan scenario below (null the slot without closing its channel,
    * the "another thread already reconnected" shape evict's scaladoc
    * describes); assertions read the private[graft] `pooledChannel` view.
    */
  private def slotOf(conn: GrpcConnection) = {
    val f = classOf[GrpcConnection].getDeclaredField("parent")
    f.setAccessible(true)
    f.get(conn).asInstanceOf[
      java.util.concurrent.atomic.AtomicReference[io.netty.channel.Channel]]
  }

  test("evict that loses the CAS still closes the orphan channel") {
    // regression (r10 ADVICE): evict() used to close only when its CAS won,
    // so a GOAWAY-draining channel replaced by a concurrent reconnect stayed
    // registered on the daemon event loop until JVM exit. Stage exactly that
    // shape: ch1 live in the slot, slot nulled as a racing reconnect would
    // leave it mid-swap, ch2 dialed in — then evict(ch1) must lose the CAS
    // yet close ch1, and must not disturb the newer ch2.
    val conn = new GrpcConnection("127.0.0.1", stub.port)
    val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(2270371L)
    try {
      assert(conn.unary(GrpcBlockClient.GetBlockByHeightPath, req).status === GrpcWire.OK)
      val ch1 = conn.pooledChannel
      assert(ch1 != null && ch1.isActive)
      slotOf(conn).set(null) // the racing reconnect's window
      assert(conn.unary(GrpcBlockClient.GetBlockByHeightPath, req).status === GrpcWire.OK)
      val ch2 = conn.pooledChannel
      assert((ch2 ne ch1) && ch2.isActive, "second dial must publish a fresh channel")
      assert(ch1.isActive, "staging precondition: ch1 is the still-open orphan")
      conn.evict(ch1) // CAS(ch1 → null) loses: slot holds ch2
      assert(ch1.closeFuture().awaitUninterruptibly(5000L),
        "the CAS-losing evict must still close its channel")
      assert(!ch1.isActive)
      assert(conn.pooledChannel eq ch2, "evict of an orphan must not touch the live slot")
      assert(conn.unary(GrpcBlockClient.GetBlockByHeightPath, req).status === GrpcWire.OK)
    } finally conn.close()
  }

  test("close() racing a dial never leaves the slot resurrected or a dead channel pooled") {
    // regression (r10 ADVICE): close() used to skip the dial monitor, so a
    // close racing a dial could getAndSet(null) BEFORE the dial's
    // parent.set published — resurrecting the slot with a channel nobody
    // would ever close. Both serializations are forced deterministically by
    // parking both threads on the connection's monitor and releasing it.
    val conn = new GrpcConnection("127.0.0.1", stub.port)
    val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(2270371L)
    def awaitBlocked(t: Thread): Unit = {
      val deadline = System.nanoTime() + 10000L * 1000000L
      while (t.getState != Thread.State.BLOCKED && System.nanoTime() < deadline)
        Thread.sleep(1)
      assert(t.getState == Thread.State.BLOCKED, s"${t.getName} never contended the monitor")
    }
    for (round <- 1 to 6) {
      @volatile var dialErr: Throwable = null
      val dial = new Thread(() => {
        try { conn.unary(GrpcBlockClient.GetBlockByHeightPath, req); () }
        catch { case t: Throwable => dialErr = t }
      }, s"lifecycle-dial-$round")
      val closer = new Thread(() => conn.close(), s"lifecycle-close-$round")
      conn.synchronized {
        dial.start(); awaitBlocked(dial)
        closer.start(); awaitBlocked(closer)
      } // release: the JVM serializes the two in either order
      dial.join(30000L); closer.join(30000L)
      assert(!dial.isAlive && !closer.isAlive, "lifecycle threads wedged")
      val slot = conn.pooledChannel
      // invariant either way: a pooled channel is live, never a corpse; a
      // dial killed mid-call by the close surfaces the documented
      // stream-closed IOException, nothing else
      assert(slot == null || slot.isActive, "slot holds a dead channel")
      if (dialErr != null) assert(dialErr.isInstanceOf[java.io.IOException], s"$dialErr")
      // and the load-bearing contract: once close() returns UNCONTENDED, the
      // slot is null — under the pre-fix race it could come back non-null
      conn.close()
      assert(conn.pooledChannel == null, "close() must leave the slot null")
    }
  }

  test("a stalled peer fails a unary call in ~one call timeout, leaving no stream open") {
    // a listener that accepts TCP but never speaks HTTP/2 is a stalled-but-
    // open peer (the backlog completes the connect; no accept loop needed):
    // the call must surface IOException once its budget runs out — the T4
    // retry's transient — and close its stream, or every retry would leave
    // one more stream registered on the immortal pooled connection
    val silent = new java.net.ServerSocket(0, 16,
      java.net.InetAddress.getByName("127.0.0.1"))
    val conn = new GrpcConnection("127.0.0.1", silent.getLocalPort,
      callTimeoutMillis = 400)
    try {
      val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(2270371L)
      val t0 = System.nanoTime()
      intercept[java.io.IOException](conn.unary(GrpcBlockClient.GetBlockByHeightPath, req))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(elapsedMs >= 350L && elapsedMs < 1300L,
        s"a 400 ms call budget against a stalled peer took $elapsedMs ms")
      val h2 = conn.pooledChannel.pipeline()
        .get(classOf[io.netty.handler.codec.http2.Http2FrameCodec]).connection()
      // the stream close runs on the event loop: give it a moment to land
      val deadline = System.nanoTime() + 5000L * 1000000L
      while (h2.numActiveStreams() > 0 && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(h2.numActiveStreams() === 0, "the timed-out call left its stream registered")
    } finally { conn.close(); silent.close() }
  }

  test("request counters observe the wire (the gate queries' proof hooks)") {
    val before = stub.blockServesIn(2270380L, 2270380L)
    client.block(2270380L)
    assert(stub.blockServesIn(2270380L, 2270380L) === before + 1)
    val rBefore = stub.resultsServes
    client.blockResults(2270380L)
    assert(stub.resultsServes === rBefore + 1)
  }
}
