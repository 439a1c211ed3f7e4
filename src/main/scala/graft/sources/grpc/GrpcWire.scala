package graft.sources.grpc

import io.netty.bootstrap.Bootstrap
import io.netty.buffer.Unpooled
import io.netty.channel._
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.nio.NioSocketChannel
import io.netty.handler.codec.http2._
import io.netty.util.concurrent.DefaultThreadFactory
import java.io.IOException
import java.util.concurrent.{CompletableFuture, TimeUnit}

/** gRPC-over-HTTP/2 wire layer, hand-rolled on the netty HTTP/2 frame codec
  * that already ships on the Spark classpath (`netty-codec-http2`) — no gRPC
  * library exists in this offline environment, and none is needed: the gRPC
  * wire protocol is public and small. A unary call is
  *
  *   HEADERS  :method POST, :scheme http, :path /pkg.Service/Method,
  *            content-type: application/grpc, te: trailers
  *   DATA     1-byte compressed flag (0) + 4-byte big-endian length + proto
  *            message, END_STREAM
  *   ← HEADERS :status 200, content-type: application/grpc
  *   ← DATA    same 5-byte-framed proto response (possibly split across
  *             frames by the peer's SETTINGS_MAX_FRAME_SIZE)
  *   ← HEADERS grpc-status / grpc-message trailers, END_STREAM
  *
  * plus the trailers-only error form (a single HEADERS frame carrying
  * `grpc-status` with END_STREAM). Transport is cleartext h2c with prior
  * knowledge (the gRPC default); netty's `Http2FrameCodec` speaks the
  * connection preface, SETTINGS, and outbound flow control, and the HTTP/2
  * layer on each side is netty's own independent implementation — only the
  * 5-byte gRPC framing and the proto payloads are ours.
  *
  * Threading: one shared daemon event-loop group per JVM (daemon so a
  * finished Bench/Verify run exits — the JDK-HttpServer non-daemon-pool hang
  * documented on [[graft.StubRpcServer]] applies equally here); one TCP
  * connection per [[GrpcConnection]], one HTTP/2 stream per call. Calls
  * block the calling Spark task thread on a future, never the event loop.
  */
object GrpcWire {

  /** `grpc-status` codes used by the transport (public gRPC spec). */
  val OK = 0
  val DEADLINE_EXCEEDED = 4
  val NOT_FOUND = 5
  val RESOURCE_EXHAUSTED = 8
  val UNIMPLEMENTED = 12
  val INTERNAL = 13
  val UNAVAILABLE = 14

  final case class GrpcResponse(status: Int, message: String, payload: Array[Byte])

  /** Prefix `msg` with the gRPC frame header (flag 0 + u32 length). */
  def frame(msg: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](5 + msg.length)
    out(0) = 0
    out(1) = ((msg.length >>> 24) & 0xff).toByte
    out(2) = ((msg.length >>> 16) & 0xff).toByte
    out(3) = ((msg.length >>> 8) & 0xff).toByte
    out(4) = (msg.length & 0xff).toByte
    System.arraycopy(msg, 0, out, 5, msg.length)
    out
  }

  /** Strip the 5-byte gRPC frame header; rejects compressed frames (the
    * transport never negotiates a compression codec) and length mismatches.
    */
  def unframe(framed: Array[Byte]): Array[Byte] = {
    if (framed.length < 5)
      throw new IOException(s"gRPC frame shorter than its header: ${framed.length}")
    if (framed(0) != 0)
      throw new IOException("compressed gRPC frame without a negotiated codec")
    val len = ((framed(1) & 0xff) << 24) | ((framed(2) & 0xff) << 16) |
      ((framed(3) & 0xff) << 8) | (framed(4) & 0xff)
    if (len != framed.length - 5)
      throw new IOException(s"gRPC frame length $len != payload ${framed.length - 5}")
    java.util.Arrays.copyOfRange(framed, 5, framed.length)
  }

  /** Connections pooled per (host, port) by [[GrpcBlockClient.connection]],
    * and the loop-thread count below: ONE constant, because their equality
    * is load-bearing — a netty channel is pinned to one loop thread, so
    * fewer threads than pooled connections would re-serialize the frame
    * work the pool exists to spread.
    */
  val PoolSize = 4

  /** Budget for a TCP dial and for opening one HTTP/2 stream on it. */
  val ConnectTimeoutMillis = 10000

  /** Shared client event loop: [[PoolSize]] daemon threads serve every
    * connection this JVM opens (executor tasks do blocking unary calls; the
    * loop only shuffles frames).
    */
  lazy val eventLoop: EventLoopGroup = new MultiThreadIoEventLoopGroup(
    PoolSize, new DefaultThreadFactory("graft-grpc-client", /* daemon = */ true),
    NioIoHandler.newFactory())
}

/** One cleartext HTTP/2 connection multiplexing unary gRPC calls. Connects
  * lazily, reconnects after a peer close/GOAWAY, and is safe to share across
  * threads (each call opens its own HTTP/2 stream).
  */
final class GrpcConnection(host: String, port: Int,
                           callTimeoutMillis: Int = 60000) {

  // CAS slot, not a synchronized field: evict() may be called from a netty
  // event-loop thread (stream-open failure callbacks), and a monitor shared
  // with connectedChannel() — which holds it across a blocking dial — would
  // park that loop thread for up to the connect timeout, freezing every
  // other connection pinned to it
  private val parent = new java.util.concurrent.atomic.AtomicReference[Channel]()

  private def connectedChannel(): Channel = {
    val cur = parent.get()
    if (cur != null && cur.isActive) cur
    else synchronized {
      val cur2 = parent.get()
      if (cur2 != null && cur2.isActive) cur2
      else {
        val b = new Bootstrap()
          .group(GrpcWire.eventLoop)
          .channel(classOf[NioSocketChannel])
          .option[java.lang.Integer](ChannelOption.CONNECT_TIMEOUT_MILLIS,
            GrpcWire.ConnectTimeoutMillis)
          // netty leaves Nagle ON by default; a unary gRPC call is exactly
          // the two-small-writes pattern (HEADERS, then DATA) that trips
          // Nagle × delayed-ACK into a flat ~40 ms per RPC on loopback —
          // the same trap the JDK HttpServer stub hit (StubRpcServer's
          // nodelay note; measured 40 ms/block → ~1 ms with this set)
          .option[java.lang.Boolean](ChannelOption.TCP_NODELAY, true)
          .remoteAddress(host, port)
          .handler(new ChannelInitializer[Channel] {
            override def initChannel(ch: Channel): Unit = {
              ch.pipeline().addLast(
                Http2FrameCodecBuilder.forClient()
                  .initialSettings(Http2Settings.defaultSettings()
                    .initialWindowSize(1 << 20) // 1 MiB stream windows: the
                    // largest corpus payload (a 42-tx block's results) is
                    // several hundred KiB; the default 64 KiB window would
                    // stall mid-response until WINDOW_UPDATE round-trips
                    .maxFrameSize(1 << 18))
                  // an executor's 32 task threads share the PoolSize (4)
                  // connections, so ~8 unary calls ride one connection at
                  // once; a peer legally advertising a lower
                  // SETTINGS_MAX_CONCURRENT_STREAMS must make the excess
                  // opens QUEUE (netty buffers them until capacity frees),
                  // not fail their HEADERS write — without this, every T4
                  // retry would re-issue the same over-limit calls and
                  // re-fail against that peer forever
                  .encoderEnforceMaxConcurrentStreams(true)
                  .build(),
                // client side never accepts peer-initiated streams; the
                // multiplex handler still requires a child handler
                new Http2MultiplexHandler(new ChannelInboundHandlerAdapter() {
                  override def channelActive(ctx: ChannelHandlerContext): Unit =
                    ctx.close()
                }))
            }
          })
        val f = b.connect()
        if (!f.awaitUninterruptibly(GrpcWire.ConnectTimeoutMillis.toLong,
            TimeUnit.MILLISECONDS)) {
          // a late-completing connect must not leak its channel onto the
          // daemon loop for the JVM lifetime (one orphan per retry attempt)
          f.cancel(true)
          f.channel().close()
          throw new IOException(s"gRPC connect timeout to $host:$port")
        }
        if (!f.isSuccess) f.cause() match {
          case e: java.net.UnknownHostException => throw e
          case e: IOException => throw e
          case e => throw new IOException(s"gRPC connect to $host:$port failed", e)
        }
        parent.set(f.channel())
        f.channel()
      }
    }
  }

  /** Evict `ch` from the slot if it is still the pooled parent: called when
    * a stream could not be opened on an `isActive` connection — the
    * GOAWAY-drain / half-open shape, where the TCP socket looks healthy but
    * the HTTP/2 layer refuses new streams. Without eviction every T4 retry
    * re-uses the doomed connection and the (host, port) slot is dead until
    * JVM restart. Lock-free (CAS) and non-blocking (`close()` is async), so
    * it is safe from any thread, including the event loop. The doomed
    * channel is closed regardless of who wins the CAS: if another thread
    * already reconnected (slot holds a newer channel), `ch` is the
    * GOAWAY-draining orphan and would otherwise stay registered on the
    * event loop until JVM exit; closing an already-replaced channel is
    * harmless.
    */
  private[graft] def evict(ch: Channel): Unit = {
    parent.compareAndSet(ch, null)
    ch.close()
    ()
  }

  /** Test-only view of the pooled parent slot (GrpcWireSpec's lifecycle
    * regression tests assert on it; nothing in the engine reads it).
    */
  private[graft] def pooledChannel: Channel = parent.get()

  /** Blocking unary call. Returns the peer's grpc-status + raw (unframed)
    * response payload; transport-level failures surface as IOException so
    * [[graft.sources.RetryingBlockClient]]'s T4 backoff applies unchanged.
    * Blocks the calling task thread for at most `callTimeoutMillis` once
    * the stream is open; on timeout the stream channel is closed so it
    * does not linger on the event loop.
    */
  def unary(path: String, request: Array[Byte]): GrpcWire.GrpcResponse = {
    val ch = connectedChannel()
    val done = new CompletableFuture[GrpcWire.GrpcResponse]()

    val bootstrap = new Http2StreamChannelBootstrap(ch)
    bootstrap.handler(new ChannelInboundHandlerAdapter {
      private val body = new java.io.ByteArrayOutputStream(8192)
      private var httpStatus = -1
      private var headerGrpcStatus: Option[Int] = None

      private def grpcStatusOf(h: Http2Headers): Option[Int] =
        Option(h.get("grpc-status")).map(_.toString.toInt)

      override def channelRead(ctx: ChannelHandlerContext, msg: Any): Unit = msg match {
        case hf: Http2HeadersFrame =>
          val h = hf.headers()
          if (h.status() != null) httpStatus = h.status().toString.toInt
          grpcStatusOf(h).foreach(s => headerGrpcStatus = Some(s))
          if (hf.isEndStream) {
            val status = headerGrpcStatus.getOrElse(
              if (httpStatus == 200) GrpcWire.INTERNAL else GrpcWire.UNAVAILABLE)
            val message = Option(h.get("grpc-message")).map(_.toString).getOrElse("")
            finish(ctx, status, message)
          }
        case df: Http2DataFrame =>
          val buf = df.content()
          val n = buf.readableBytes()
          val arr = new Array[Byte](n)
          buf.readBytes(arr)
          body.write(arr, 0, n)
          val consumed = df.initialFlowControlledBytes()
          df.release()
          // replenish inbound flow-control for what we just consumed (the
          // frame-codec pattern from netty's own multiplex example; the
          // connection-level window auto-refills inside the codec)
          if (consumed > 0)
            ctx.writeAndFlush(new DefaultHttp2WindowUpdateFrame(consumed))
          if (df.isEndStream)
            // END_STREAM on DATA without trailers: not the gRPC shape. A
            // non-200 HTTP status here is an intermediary's error page
            // (proxy/LB restart serving a 503 WITH a body) — the same
            // transient the headers-only branch maps to UNAVAILABLE, so it
            // must stay retryable; only a 200 body without trailers is a
            // protocol violation worth failing fast on (INTERNAL)
            finish(ctx, headerGrpcStatus.getOrElse(
              if (httpStatus == 200) GrpcWire.INTERNAL else GrpcWire.UNAVAILABLE),
              "no trailers")
        case rf: Http2ResetFrame =>
          done.completeExceptionally(
            new IOException(s"gRPC stream reset (error ${rf.errorCode()})"))
          ctx.close()
        case other =>
          io.netty.util.ReferenceCountUtil.release(other)
      }

      private def finish(ctx: ChannelHandlerContext, status: Int, message: String): Unit = {
        done.complete(GrpcWire.GrpcResponse(status, message, body.toByteArray))
        ctx.close()
      }

      override def channelInactive(ctx: ChannelHandlerContext): Unit =
        done.completeExceptionally(new IOException("gRPC stream closed before completion"))

      override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit = {
        done.completeExceptionally(cause match {
          case e: IOException => e
          case e => new IOException("gRPC stream error", e)
        })
        ctx.close()
      }
    })

    val streamF = bootstrap.open()
    val opened = streamF.awaitUninterruptibly(
      GrpcWire.ConnectTimeoutMillis.toLong, TimeUnit.MILLISECONDS)
    if (!opened || !streamF.isSuccess) {
      // an isActive connection that refuses new streams is GOAWAY-draining
      // or half-open — evict it so the next attempt dials fresh instead of
      // burning the whole retry ladder against the same doomed parent
      evict(ch)
      throw new IOException("could not open HTTP/2 stream", streamF.cause())
    }
    val stream = streamF.getNow

    val headers = new DefaultHttp2Headers()
    headers.method("POST").scheme("http").authority(s"$host:$port").path(path)
    headers.set("content-type", "application/grpc")
    headers.set("te", "trailers")
    // a failed write (stream error between open and write) must fail the
    // call NOW, not leave the task blocked for the full call timeout — and
    // it must close the stream channel like the reset/exception/timeout
    // paths do (else it stays registered on the event loop until the parent
    // dies). It does NOT evict the parent: a write failure is usually
    // stream-local (RST/REFUSED_STREAM on this one stream), and closing the
    // shared connection here would amplify one per-stream transient into a
    // failure of every concurrent call multiplexed on it — the reset-frame
    // branch makes the same call. A genuinely draining connection surfaces
    // as a stream-OPEN failure on the next attempt, which does evict.
    val failOnWriteError = new ChannelFutureListener {
      override def operationComplete(wf: ChannelFuture): Unit =
        if (!wf.isSuccess) {
          done.completeExceptionally(wf.cause() match {
            case io: IOException => io
            case c => new IOException("gRPC request write failed", c)
          })
          wf.channel().close()
          ()
        }
    }
    stream.write(new DefaultHttp2HeadersFrame(headers)).addListener(failOnWriteError)
    stream.writeAndFlush(new DefaultHttp2DataFrame(
      Unpooled.wrappedBuffer(GrpcWire.frame(request)), true))
      .addListener(failOnWriteError)

    try done.get(callTimeoutMillis.toLong, TimeUnit.MILLISECONDS)
    catch {
      case e: java.util.concurrent.ExecutionException => e.getCause match {
        case io: IOException => throw io
        case c => throw new IOException("gRPC call failed", c)
      }
      case _: java.util.concurrent.TimeoutException =>
        stream.close()
        throw new IOException(s"gRPC call timeout after $callTimeoutMillis ms: $path")
    }
  }

  /** Drops the current channel; NOT terminal — the next `unary` dials fresh
    * (GrpcWireSpec pins reconnect-after-close, the idle-reap/node-bounce
    * shape). Takes the dial monitor (close is lifecycle code, never called
    * from the event loop — unlike [[evict]]) so it cannot interleave with an
    * in-flight dial: a close racing a dial waits for the dial to publish its
    * channel and then closes THAT, instead of getAndSet(null) landing first
    * and the dial's parent.set resurrecting the slot with a channel nobody
    * will ever close.
    */
  def close(): Unit = synchronized {
    val cur = parent.getAndSet(null)
    if (cur != null) { cur.close(); () }
  }
}
