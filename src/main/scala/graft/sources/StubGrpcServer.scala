package graft

import graft.sources.grpc.{GrpcBlockClient, GrpcWire, TendermintGrpcCodec}
import io.netty.bootstrap.ServerBootstrap
import io.netty.buffer.Unpooled
import io.netty.channel._
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2._
import io.netty.util.concurrent.DefaultThreadFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** Local gRPC stub node replaying the reference's golden templates over a
  * REAL HTTP/2 + gRPC wire (zero egress) — the gRPC twin of
  * [[StubRpcServer]]: the same 100/29/6/106 chain model, served as protobuf
  * messages through netty's server-side HTTP/2 codec, so the
  * [[graft.sources.grpc.GrpcBlockClient]] transport is exercised against an
  * independent HTTP/2 implementation (netty's), with only the 5-byte gRPC
  * framing and the hand-rolled proto codec shared between the two sides —
  * and THOSE are pinned by `GrpcCodecSpec`'s known-answer byte tests plus
  * the full-corpus JSON→proto→JSON round-trip.
  *
  * Services: `cosmos.base.tendermint.v1beta1.Service/GetLatestBlock` (the
  * node tip — the block at the historical ceiling, mirroring
  * `abci_info`'s start-tip role on the HTTP stub) and `GetBlockByHeight`,
  * plus `cometbft.services.block_results.v1.BlockResultsService/
  * GetBlockResults` in the 0.38 layout a real node serves (begin/end events
  * folded into `finalize_block_events` with the cosmos-sdk's `mode` markers,
  * [[TendermintGrpcCodec.encodeBlockResultsResponse]]). Unknown methods
  * answer UNIMPLEMENTED(12); missing heights answer NOT_FOUND(5);
  * `failNext(n)` makes the next n calls answer UNAVAILABLE(14) — the T4
  * transient path through the retry decorator.
  *
  * Ships in the main artifact for the same documented reason as
  * [[StubRpcServer]]: the gate queries construct it from the production
  * classpath; an assembly can strip it.
  */
final class StubGrpcServer(dir: String,
                           val histFrom: Long = 2270370L,
                           val histTo: Long = 2270469L,
                           val liveCount: Int = 6,
                           val liveSrcFrom: Long = 3126935L,
                           advanceTipAfterFirstPoll: Boolean = false,
                           maxConcurrentStreams: Int = 0)
  extends StubChainNode {

  // Chain model, chaos contract, and proof-hook counters: StubChainNode,
  // shared verbatim with the HTTP stub. One gRPC-specific note on the tip:
  // unlike the HTTP wire's two tip endpoints (`abci_info` = the tip at
  // stream start, `/status` = the advanced live tip), the gRPC services
  // expose ONE tip RPC — `GetLatestBlock` — and it returns a BLOCK, whose
  // `header.height` a real chain always stamps with the block's chain slot.
  // So the start-tip/advanced-tip split must be modeled IN TIME, the way a
  // real node's tip advances between polls: with `advanceTipAfterFirstPoll`
  // the FIRST GetLatestBlock (the connector's stream-construction call,
  // playing abci_info's provenance-boundary role) serves the historical
  // ceiling's own block (header.height == histTo), and every LATER call —
  // the per-trigger tip polls — serves the slot-mapped latest: the live
  // payload template for chain slot `latest` with `header.height` rewritten
  // to that slot (the serving-side twin of the trait's srcHeight mapping,
  // which already serves live PAYLOADS at slot-addressed GetBlockByHeight).
  // With the flag off (default), every call serves the histTo block — the
  // frozen-tip model st11–st14 were gated on.

  private val tipPolls = new AtomicInteger(0)
  /** GetLatestBlock calls served (those that reached the RPC, i.e. not
    * absorbed by `failNext`) — lets st15 prove the tip really was re-polled.
    */
  def tipServes: Int = tipPolls.get()

  // GetBlockResults serves count via StubChainNode.resultsServes — the
  // shared counter keeps the HTTP and gRPC stubs' proof hooks in lockstep

  /** Template `${var:-default}` resolution + proto encode, memoized per
    * file (the encode walks multi-KB JSON; per-request it would bill stub
    * CPU to the client's numbers — the [[StubRpcServer]] cache rationale).
    */
  private val encodedCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  private def encoded(path: String, enc: String => Array[Byte]): Option[Array[Byte]] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else Some(encodedCache.computeIfAbsent(path, { pp: String =>
      val raw = new String(Files.readAllBytes(Paths.get(pp)), "UTF-8")
      enc(graft.blocks.FixtureSource.substitute(raw, Map.empty))
    }))
  }

  /** The GetLatestBlock payload for chain slot `slot`: historical slots
    * serve their own template verbatim; a live slot serves its live payload
    * with `result.block.header.height` REWRITTEN to the slot — a real
    * chain's latest block carries its chain-slot height in its own header,
    * which is exactly what makes the single tip RPC usable as a slot-valued
    * tip. Cached per slot (the tip is re-polled every trigger).
    */
  private def tipBlock(slot: Long): Option[Array[Byte]] =
    if (slot == srcHeight(slot))
      // historical slot: the template's own header.height IS the slot —
      // serve through the shared encode cache, no rewrite (the frozen-tip
      // default takes only this branch)
      encoded(s"$dir/block/$slot.json", TendermintGrpcCodec.encodeBlockResponse)
    else {
      val path = s"$dir/block/${srcHeight(slot)}.json"
      val p = Paths.get(path)
      if (!Files.exists(p)) None
      else Some(encodedCache.computeIfAbsent(s"$path#tip=$slot", { _: String =>
        val raw = new String(Files.readAllBytes(p), "UTF-8")
        val json = graft.blocks.FixtureSource.substitute(raw, Map.empty)
        val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
        tree.path("result").path("block").path("header")
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          .put("height", slot.toString)
        TendermintGrpcCodec.encodeBlockResponse(tree.toString)
      }))
    }

  private def route(path: String, requestBody: Array[Byte]): (Int, String, Option[Array[Byte]]) = {
    countRequest()
    if (transientDue())
      return (GrpcWire.UNAVAILABLE, "stub transient failure", None)
    path match {
      case GrpcBlockClient.GetLatestBlockPath =>
        // first call = the tip at "stream start" (the abci_info role);
        // later calls = the advanced tip when advanceTipAfterFirstPoll
        // (the /status role) — a real chain's tip moving between polls
        val firstPoll = tipPolls.getAndIncrement() == 0
        val slot = if (advanceTipAfterFirstPoll && !firstPoll) latest else histTo
        tipBlock(slot) match {
          case Some(b) => (GrpcWire.OK, "", Some(b))
          case None => (GrpcWire.INTERNAL, s"stub missing tip template for slot $slot", None)
        }
      case GrpcBlockClient.GetBlockByHeightPath =>
        val h = TendermintGrpcCodec.decodeHeightRequest(GrpcWire.unframe(requestBody))
        if (blockFetchFaulted(h))
          return (GrpcWire.UNAVAILABLE, s"stub transient failure at $h", None)
        // hideBlocks parity with the HTTP stub: the shared chaos contract
        // must mean the same thing on every wire, or a future gRPC presence
        // test would pass vacuously
        if (blockHiddenNow(h))
          return (GrpcWire.NOT_FOUND, s"height $h is not available", None)
        encoded(s"$dir/block/${srcHeight(h)}.json",
          TendermintGrpcCodec.encodeBlockResponse) match {
          case Some(b) => (GrpcWire.OK, "", Some(b))
          case None => (GrpcWire.NOT_FOUND, s"height $h is not available", None)
        }
      case GrpcBlockClient.GetBlockResultsPath =>
        val h = TendermintGrpcCodec.decodeHeightRequest(GrpcWire.unframe(requestBody))
        countResultsRequest()
        encoded(s"$dir/block_results/${srcHeight(h)}.json",
          TendermintGrpcCodec.encodeBlockResultsResponse) match {
          case Some(b) =>
            // the SERVE count sits beside the OK answer, in lockstep with
            // the HTTP stub: resultsServes means answered-with-payload on
            // every wire (r13 ADVICE), resultsRequested means asked
            countResultsServe()
            (GrpcWire.OK, "", Some(b))
          case None => (GrpcWire.NOT_FOUND, s"height $h is not available", None)
        }
      case other => (GrpcWire.UNIMPLEMENTED, s"unknown method $other", None)
    }
  }

  /** Per-stream handler: aggregate request DATA, answer on END_STREAM. */
  private final class StreamHandler extends ChannelInboundHandlerAdapter {
    private var path: String = ""
    private val body = new java.io.ByteArrayOutputStream(256)

    override def channelRead(ctx: ChannelHandlerContext, msg: Any): Unit = msg match {
      case hf: Http2HeadersFrame =>
        if (hf.headers().path() != null) path = hf.headers().path().toString
        if (hf.isEndStream) respond(ctx)
      case df: Http2DataFrame =>
        val buf = df.content()
        val n = buf.readableBytes()
        val arr = new Array[Byte](n)
        buf.readBytes(arr)
        body.write(arr, 0, n)
        val consumed = df.initialFlowControlledBytes()
        df.release()
        if (consumed > 0)
          ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(consumed))
        if (df.isEndStream) respond(ctx)
      case other =>
        io.netty.util.ReferenceCountUtil.release(other)
    }

    private def respond(ctx: ChannelHandlerContext): Unit = {
      val (status, message, payload) =
        try route(path, body.toByteArray)
        catch { case e: Exception =>
          (GrpcWire.INTERNAL, s"stub error: ${e.getMessage}", None)
        }
      payload match {
        case Some(msg) =>
          val headers = new DefaultHttp2Headers()
          headers.status("200")
          headers.set("content-type", "application/grpc")
          ctx.write(new DefaultHttp2HeadersFrame(headers))
          ctx.write(new DefaultHttp2DataFrame(
            Unpooled.wrappedBuffer(GrpcWire.frame(msg)), false))
          val trailers = new DefaultHttp2Headers()
          trailers.set("grpc-status", status.toString)
          ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers, true))
        case None =>
          // trailers-only error response (the gRPC error shape)
          val headers = new DefaultHttp2Headers()
          headers.status("200")
          headers.set("content-type", "application/grpc")
          headers.set("grpc-status", status.toString)
          if (message.nonEmpty) headers.set("grpc-message", message)
          ctx.writeAndFlush(new DefaultHttp2HeadersFrame(headers, true))
      }
      ()
    }

    override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit =
      ctx.close()
  }

  private val group: EventLoopGroup = new MultiThreadIoEventLoopGroup(
    2, new DefaultThreadFactory("graft-grpc-stub", /* daemon = */ true),
    NioIoHandler.newFactory())

  private val serverChannel: Channel = {
    val b = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      // response path writes HEADERS + DATA + trailers as separate small
      // writes — without TCP_NODELAY, Nagle bills ~40 ms to every RPC
      // (the GrpcConnection / StubRpcServer nodelay lesson, server side)
      .childOption[java.lang.Boolean](ChannelOption.TCP_NODELAY, true)
      .childHandler(new ChannelInitializer[Channel] {
        override def initChannel(ch: Channel): Unit = {
          // maxConcurrentStreams > 0 models a conservative node/LB that
          // advertises a low SETTINGS_MAX_CONCURRENT_STREAMS: concurrent
          // unary calls beyond it must QUEUE their stream opens, not fail
          // them (GrpcWireSpec pins this)
          val settings = Http2Settings.defaultSettings()
            .initialWindowSize(1 << 20)
            .maxFrameSize(1 << 18)
          if (maxConcurrentStreams > 0)
            settings.maxConcurrentStreams(maxConcurrentStreams.toLong)
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forServer()
              .initialSettings(settings)
              .build(),
            new Http2MultiplexHandler(new ChannelInitializer[Channel] {
              override def initChannel(stream: Channel): Unit = {
                stream.pipeline().addLast(new StreamHandler)
                ()
              }
            }))
          ()
        }
      })
    b.bind("127.0.0.1", 0).syncUninterruptibly().channel()
  }

  val port: Int =
    serverChannel.localAddress().asInstanceOf[java.net.InetSocketAddress].getPort

  /** Client-ready URI. */
  def base: String = s"grpc://127.0.0.1:$port"

  /** Closes the listener; the event loop is daemon and shut down gracefully
    * (0 s quiet period) so no non-daemon thread outlives the stub — the
    * JDK-HttpServer exit-hang lesson from [[StubRpcServer]].
    */
  def stop(): Unit = {
    serverChannel.close().awaitUninterruptibly(2000L)
    group.shutdownGracefully(0L, 500L, java.util.concurrent.TimeUnit.MILLISECONDS)
    ()
  }
}
