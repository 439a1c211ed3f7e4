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

  test("metaPages: 20-height pages synthesized from per-height fetches") {
    val pages = client.metaPages(2270370L, 2270410L)
    assert(pages.size === 3) // 370-389, 390-409, 410
    val metas = mapper.readTree(pages.head).path("result").path("block_metas")
    assert(metas.size() === 20)
    assert(metas.get(0).path("header").path("height").asText() === "2270370")
    assert(metas.get(0).path("num_txs").isTextual) // JSON-string like the RPC
  }

  test("pipelined batch against a low max-concurrent-streams peer queues, not fails") {
    // a conservative node/LB may legally advertise MAX_CONCURRENT_STREAMS
    // below the meta path's 20-deep dispatch; the client codec enforces the
    // advertised limit by QUEUEING excess stream opens (not failing their
    // HEADERS writes), so the batch completes correctly — just with bounded
    // in-flight depth. Pre-fix behavior: 'Maximum active streams violated'
    // → IOException → every T4 retry re-fails identically.
    val low = new StubGrpcServer(T, maxConcurrentStreams = 4)
    try {
      val c = new GrpcBlockClient(low.base)
      // settle the SETTINGS exchange first so the 20-deep dispatch below
      // deterministically runs AGAINST the known limit (dispatching during
      // the preface race would test nothing)
      assert(c.currentHeight() === 2270469L)
      val pages = c.metaPages(2270370L, 2270410L)
      assert(pages.size === 3)
      val metas = mapper.readTree(pages.head).path("result").path("block_metas")
      assert(metas.size() === 20)
      assert(metas.get(19).path("header").path("height").asText() === "2270389")
      assert(low.blockServesIn(2270370L, 2270410L) === 41)
    } finally low.stop()
  }

  test("a transient mid-batch fails the pipelined call fast and leaves the connection usable") {
    // one UNAVAILABLE inside a 20-deep pipelined page: the batch must
    // surface IOException (the T4 contract — the retry wrapper above
    // re-issues the page), the not-yet-awaited siblings are aborted rather
    // than left registered on the pooled connection, and the SAME
    // connection must serve the retried batch correctly — a leaked stream
    // budget or a poisoned parent would fail the second call
    val iso = new StubGrpcServer(T)
    try {
      val c = new GrpcBlockClient(iso.base)
      assert(c.currentHeight() === 2270469L) // dial + settle SETTINGS
      iso.failNext(1)
      intercept[java.io.IOException](c.metaPages(2270370L, 2270389L))
      // the same un-retried client, same pooled connection: full page, clean
      val pages = c.metaPages(2270370L, 2270389L)
      assert(pages.size === 1)
      assert(mapper.readTree(pages.head).path("result")
        .path("block_metas").size() === 20)
    } finally iso.stop()
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

  test("a stalled peer costs a pipelined batch ONE inactivity budget, not one per await") {
    // regression (r10 ADVICE): each sequential await used to get a fresh
    // full callTimeoutMillis, so a 20-deep batch against a stalled-but-open
    // peer blocked the task thread ~20× the intended timeout before the T4
    // retry saw an error. The batch issuer now refreshes the deadline only
    // when a response COMPLETES (the inactivity budget — a progressing peer
    // never starves); a fully stalled peer completes nothing, so the whole
    // batch times out within ~one budget. A listener that accepts TCP but
    // never speaks HTTP/2 is exactly that peer (the backlog completes the
    // connect; no accept loop needed). 5 calls at 400 ms each: old =
    // ~2000 ms serial budgets, new ≈ 400 ms; gate in between.
    val silent = new java.net.ServerSocket(0, 16,
      java.net.InetAddress.getByName("127.0.0.1"))
    val conn = new GrpcConnection("127.0.0.1", silent.getLocalPort,
      callTimeoutMillis = 400)
    try {
      val req = graft.sources.grpc.TendermintGrpcCodec.encodeHeightRequest(2270371L)
      val pending = (1 to 5).map(_ =>
        conn.start(GrpcBlockClient.GetBlockByHeightPath, req))
      val deadline = conn.deadlineFromNow()
      val t0 = System.nanoTime()
      pending.foreach(p => intercept[java.io.IOException](p.await(deadline)))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(elapsedMs < 1300L,
        s"5 awaits against a stalled peer took ${elapsedMs} ms — batch " +
          "deadline not shared (serial budgets would be ~2000 ms)")
    } finally { conn.close(); silent.close() }
  }

  test("callMany against a stalled peer fails within ~one inactivity budget end-to-end") {
    // the callMany-LEVEL twin of the await-primitive test above: the whole
    // pipelined meta path (dispatch 20, await under the refresh-on-
    // completion inactivity budget with its absolute ceiling) must surface
    // the stalled peer as IOException in ~one budget — reverting the
    // refresh to per-await fresh budgets (the r10 bug) would take ~20×,
    // and deleting the refresh line entirely is caught by the comment's
    // progressing-peer rationale plus the ceiling bound pinned here.
    // ?callTimeoutMillis routes the short budget through the real client
    // and pool (first-dial-wins per endpoint; the port is unique).
    val silent = new java.net.ServerSocket(0, 32,
      java.net.InetAddress.getByName("127.0.0.1"))
    try {
      val c = new GrpcBlockClient(
        s"grpc://127.0.0.1:${silent.getLocalPort}?callTimeoutMillis=400")
      val t0 = System.nanoTime()
      intercept[java.io.IOException](c.metaPages(2270370L, 2270389L))
      val elapsedMs = (System.nanoTime() - t0) / 1000000L
      assert(elapsedMs < 1600L,
        s"a 20-deep stalled batch took ${elapsedMs} ms through callMany — " +
          "per-await fresh budgets would be ~8000 ms")
    } finally silent.close()
  }

  test("callTimeoutMillis is validated like results=: non-numeric and non-positive both name the URI") {
    val bad = intercept[IllegalArgumentException](
      new GrpcBlockClient("grpc://127.0.0.1:1?callTimeoutMillis=abc"))
    assert(bad.getMessage.contains("callTimeoutMillis") &&
      bad.getMessage.contains("grpc://127.0.0.1:1"))
    val zero = intercept[IllegalArgumentException](
      new GrpcBlockClient("grpc://127.0.0.1:1?callTimeoutMillis=0"))
    assert(zero.getMessage.contains("> 0") &&
      zero.getMessage.contains("grpc://127.0.0.1:1"))
  }

  test("a conflicting callTimeoutMillis for an already-dialed endpoint is flagged, once") {
    // first-dial-wins is documented on the pool, but a silently ignored
    // user-visible option is unreadable from the outside — the pool warns on
    // a conflicting later dial, once per distinct conflict, not per RPC
    val iso = new StubGrpcServer(T)
    try {
      val first = new GrpcBlockClient(iso.base) // dials at the 60 s default
      assert(first.currentHeight() === 2270469L)
      val n0 = GrpcBlockClient.timeoutConflicts
      val second = new GrpcBlockClient(s"${iso.base}&callTimeoutMillis=123")
      assert(second.currentHeight() === 2270469L) // still served (pool reused)
      assert(GrpcBlockClient.timeoutConflicts === n0 + 1)
      assert(second.currentHeight() === 2270469L)
      assert(GrpcBlockClient.timeoutConflicts === n0 + 1,
        "the same conflict must be flagged once, not once per RPC")
    } finally iso.stop()
    // the converse must NOT warn: a client that never set the option is not
    // "requesting 60000" just because that is the default — against a pool
    // first-dialed at an explicit non-default timeout, a defaulted later
    // client is silence, not a conflict (r12 review)
    val iso2 = new StubGrpcServer(T)
    try {
      val explicit = new GrpcBlockClient(s"${iso2.base}&callTimeoutMillis=123")
      assert(explicit.currentHeight() === 2270469L)
      val n1 = GrpcBlockClient.timeoutConflicts
      val defaulted = new GrpcBlockClient(iso2.base) // no option named
      assert(defaulted.currentHeight() === 2270469L)
      assert(GrpcBlockClient.timeoutConflicts === n1,
        "a defaulted client must not be warned about a timeout it never requested")
    } finally iso2.stop()
  }

  test("ceiling-tripped batch shrinks the retry's pipeline depth: a slow-but-progressing peer drains") {
    // regression (r11 ADVICE): the absolute batch ceiling reintroduced the
    // fixed-whole-batch-budget failure mode for a LEGITIMATELY slow peer
    // that serializes its responses — each response lands inside the
    // inactivity budget, the batch total overruns the ceiling, and every T4
    // retry re-issued the IDENTICAL full-depth batch against the same
    // ceiling: permanently unfetchable despite constant progress. Now the
    // trip halves the endpoint's pipeline depth, so the retry's chunks each
    // fit under their own ceiling and the range drains; success re-grows
    // the depth by ONE so one incident is not a permanent serial path.
    // Additive, not doubling: a re-grow straight back to the tripped depth
    // would make the NEXT page trip again — trip/drain oscillation, a full
    // ceiling of abandoned peer work per cycle (r12 review).
    // Numbers: budget 1800 ms, 500 ms per serialized response, 20-deep page
    // → ceiling 9000 ms < 20×500 ms total, trips with the ceiling binding.
    // The margins are deliberately wide for a wall-clock gate with exact
    // depth asserts (r12 review flagged the original 800/400 pair as ~2×):
    // a spurious inactivity timeout needs a >1.3 s scheduling excursion
    // between two paced responses, and a chunk that should complete sits
    // ≥3.5 s under its ceiling (10×500 ms vs 9000 ms).
    val slow = new StubGrpcServer(T, delayBlockMillis = 500)
    try {
      val c = new GrpcBlockClient(s"${slow.base}&callTimeoutMillis=1800")
      assert(c.currentHeight() === 2270469L) // settle SETTINGS (undelayed RPC)
      assert(GrpcBlockClient.pipelineDepth("127.0.0.1", slow.port) ===
        GrpcBlockClient.MaxBatchDepth)
      intercept[java.io.IOException](c.metaPages(2270370L, 2270389L))
      assert(GrpcBlockClient.pipelineDepth("127.0.0.1", slow.port) === 10,
        "a ceiling trip must halve the effective (20-deep) pipeline depth")
      Thread.sleep(2000L) // let the stub finish the abandoned serialized work
      // the retry (T4 re-issues exactly this call) drains at depth 10:
      // 10 × 500 ms per chunk sits well under the 9000 ms chunk ceiling
      val pages = c.metaPages(2270370L, 2270389L)
      assert(pages.size === 1)
      val metas = mapper.readTree(pages.head).path("result").path("block_metas")
      assert(metas.size() === 20)
      assert(metas.get(0).path("header").path("height").asText() === "2270370")
      assert(metas.get(19).path("header").path("height").asText() === "2270389")
      assert(GrpcBlockClient.pipelineDepth("127.0.0.1", slow.port) === 11,
        "a completed chunked batch must re-grow the depth by one (AIMD), " +
          "not double back to the depth that just tripped")
      // the anti-oscillation property itself: the NEXT page dispatches at 11
      // (chunks of 11+9, each ≤5.5 s of serialized responses, well under the
      // 9 s chunk ceiling) and succeeds — no second trip, depth climbs to 12
      val again = c.metaPages(2270370L, 2270389L)
      assert(mapper.readTree(again.head).path("result").path("block_metas").size() === 20)
      assert(GrpcBlockClient.pipelineDepth("127.0.0.1", slow.port) === 12,
        "the re-grown depth must not re-trip on the following page")
    } finally slow.stop()
  }

  test("the depth AIMD is per-incident, not per-batch: a wave of trips shrinks once, a wave of completions regrows once") {
    // r12 review: the pool is shared by every task on the executor, so ONE
    // slow incident trips the ceiling in MANY concurrently in-flight
    // batches — and an unconditional halve-per-tripped-batch would collapse
    // 20→10→5→2→1 in one incident, leaving the endpoint fully serial, while
    // an unconditional +1-per-completion would regrow +32 in one wave and
    // overshoot straight past the depth that just tripped. Deterministic
    // unit pin of the CAS semantics (a live concurrent twin would be a
    // timing gate; the wire-level shrink/regrow cycle is pinned end-to-end
    // by the test above).
    val d = new java.util.concurrent.atomic.AtomicInteger(20)
    // a wave of 4 tripped batches, all of which dispatched at depth 20:
    // every sibling computes the same target (10), so the clamp is
    // idempotent — once per incident, not once per batch
    (1 to 4).foreach(_ => GrpcBlockClient.shrinkOnCeilingTrip(d, 20, 20))
    assert(d.get() === 10,
      "four trips of ONE incident must halve once, not collapse toward 1")
    // a batch that dispatched at the ALREADY-shrunk depth and still tripped
    // is a new incident at the new depth — a genuinely slower peer walks down
    assert(GrpcBlockClient.shrinkOnCeilingTrip(d, 10, 10) === 5)
    assert(d.get() === 5)
    // a shrink must never be LOST to a racing regrow (the CAS-from-observed
    // alternative lost exactly this): a completion regrows 5→6 an instant
    // before a sibling dispatched at 5 trips — the trip's clamp still lands,
    // so the T4 retry does not burn a second full-ceiling round un-shrunk
    assert(GrpcBlockClient.regrowAfterChunkedBatch(d, 5))
    assert(d.get() === 6)
    assert(GrpcBlockClient.shrinkOnCeilingTrip(d, 5, 5) === 2)
    // a wave of 4 chunked completions that all observed depth 2: +1 total,
    // not +4 (overshoot would re-trip every other page)
    val regrows = (1 to 4).map(_ => GrpcBlockClient.regrowAfterChunkedBatch(d, 2))
    assert(d.get() === 3)
    assert(regrows.count(identity) === 1)
    // the floor: a trip at depth 1 stays at 1 (there the ceiling degenerates
    // to 5× a single call's budget, which only a genuinely stalled peer misses)
    val floor = new java.util.concurrent.atomic.AtomicInteger(1)
    assert(GrpcBlockClient.shrinkOnCeilingTrip(floor, 1, 1) === 1)
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
