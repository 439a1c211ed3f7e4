package graft.sources

import java.net.URI
import java.net.http.{HttpClient, WebSocket}
import java.util.concurrent.{CompletionStage, LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong, AtomicReference}

/** S7–S9: push-based block subscription — the reference's websocket flows
  * (`stream/flows/WebSocketFlow.kt:65` live event subscription,
  * `WsBlockDataFlow.kt:48` subscribe + per-event block fetch) re-expressed
  * for the micro-batch connector. The subscription is DRIVER-side state: it
  * tracks the chain tip from pushed `NewBlock`/`NewBlockHeader` events so
  * `latestOffset` never polls, while block DATA still travels through the
  * partitioned RPC readers on executors (exactly the reference's
  * WS-for-events + RPC-for-data split).
  *
  * Decode policy per [[DecodeCascade]] (= `decodeMessages`,
  * `WebSocketFlow.kt:36–57`): data frames advance the tip, `Panic` poisons
  * the subscription (next tip read throws → query fails → restart
  * semantics), `Error`/`Empty`/`Unknown` drop with counters, and a
  * malformed frame tears the connection down for a resubscribe — the
  * reference's `DecoderEncodingException` → flow-restart path. Reconnects
  * wait the connector's one backoff ([[Backoff]]: base·2^attempt ± 25%
  * jitter, `utils/Backoff.kt:30`) and re-send the subscribe request each
  * time.
  *
  * Transport is JDK `java.net.http.WebSocket` — no extra dependency.
  */
object WsSubscription {
  /** ONE shared JDK HttpClient per JVM (the [[graft.sources.grpc.GrpcWire]]
    * event-loop / JDK keep-alive-pool pattern): an HttpClient owns a
    * selector thread plus a worker pool that live until the client is
    * unreachable AND collected, so a client per subscription would accrete
    * a selector thread per start/stop cycle on a driver that runs ws-mode
    * queries for weeks, dying only at the GC's convenience. The builder is
    * just a factory — each subscription still gets its own WebSocket
    * connection and listener.
    */
  private[sources] lazy val http: HttpClient = HttpClient.newHttpClient()
}

final class WsSubscription(
    url: String,
    subscribeQuery: String = "tm.event='NewBlock'",
    reconnectBaseMillis: Long = 200L,
    maxReconnectAttempts: Int = 8)
  extends AutoCloseable {

  private val pushed = new AtomicLong(Long.MinValue)
  private val droppedFrames = new AtomicLong(0L)
  private val malformedFrames = new AtomicLong(0L)
  private val reconnectCount = new AtomicLong(0L)
  private val closed = new AtomicBoolean(false)
  private val failure = new AtomicReference[Throwable](null)
  /** connection-drop signals: supervisor blocks on this between sessions */
  private val drops = new LinkedBlockingQueue[String]()
  @volatile private var ws: WebSocket = _

  private final class Listener extends WebSocket.Listener {
    // java.net.http delivers fragmented text as (data, last=false)* — buffer
    // until the final part before classifying
    private val buf = new java.lang.StringBuilder
    override def onOpen(w: WebSocket): Unit = {
      w.sendText(
        s"""{"jsonrpc":"2.0","method":"subscribe","id":"0",""" +
          s""""params":{"query":"$subscribeQuery"}}""", true)
      w.request(1)
    }
    override def onText(w: WebSocket, data: CharSequence, last: Boolean): CompletionStage[_] = {
      buf.append(data)
      if (last) { val msg = buf.toString; buf.setLength(0); handle(w, msg) }
      w.request(1)
      null
    }
    override def onClose(w: WebSocket, code: Int, reason: String): CompletionStage[_] = {
      drops.offer(s"close:$code"); null
    }
    override def onError(w: WebSocket, e: Throwable): Unit =
      drops.offer(s"error:${e.getMessage}")
  }

  private def handle(w: WebSocket, msg: String): Unit =
    try DecodeCascade.classify(msg) match {
      case DecodeCascade.NewBlock(h, _) if h >= 0 =>
        pushed.getAndUpdate(p => math.max(p, h))
      case DecodeCascade.NewBlockHeader(h, _) if h >= 0 =>
        pushed.getAndUpdate(p => math.max(p, h))
      case e: DecodeCascade.RpcError if e.isPanic =>
        failure.compareAndSet(null, new DecodeCascade.PanicException(e))
        drops.offer("panic")
      case _ => droppedFrames.incrementAndGet()
    } catch {
      case _: DecodeCascade.MalformedFrame =>
        // reference: DecoderEncodingException fails the flow → restart; here
        // that is abort + resubscribe
        malformedFrames.incrementAndGet()
        w.abort()
        drops.offer("malformed")
    }

  private val supervisor = new Thread(() => {
    var attempt = 0
    while (!closed.get() && failure.get() == null) {
      try {
        ws = WsSubscription.http.newWebSocketBuilder()
          .buildAsync(URI.create(url), new Listener).join()
        attempt = 0
        // block until this session drops (close/error/malformed/panic/close())
        drops.take()
        try ws.abort() catch { case _: Throwable => }
        if (!closed.get() && failure.get() == null)
          reconnectCount.incrementAndGet()
      } catch {
        case _: InterruptedException => // close() interrupts the take
        case e: Throwable =>
          attempt += 1
          if (attempt >= maxReconnectAttempts) {
            failure.compareAndSet(null, new java.io.IOException(
              s"websocket $url unreachable after $attempt attempts", e))
          } else {
            try Thread.sleep(Backoff.waitMillis(reconnectBaseMillis, attempt - 1))
            catch { case _: InterruptedException => }
          }
      }
    }
    // close() can land while buildAsync(...).join() is in flight during a
    // reconnect: join() is uninterruptible (it re-asserts the interrupt flag
    // on completion), so the NEW WebSocket is assigned after close() already
    // aborted the stale one, and the pending interrupt makes drops.take()
    // throw before the in-loop abort runs. The supervisor therefore owns the
    // FINAL abort: whatever socket is current when the loop exits dies here.
    // (With the JVM-shared HttpClient a leaked WebSocket is pinned forever —
    // the client holds it, GC never reclaims the connection.)
    val last = ws
    if (last != null) try last.abort() catch { case _: Throwable => }
  }, s"ws-subscription-$url")
  supervisor.setDaemon(true)
  supervisor.start()

  /** Highest height pushed so far; None before the first event. Throws the
    * recorded failure (Panic / unreachable) so the streaming query fails the
    * way the reference's flow does.
    */
  def pushedTip: Option[Long] = {
    val f = failure.get()
    if (f != null) throw f
    val p = pushed.get()
    if (p == Long.MinValue) None else Some(p)
  }

  def dropped: Long = droppedFrames.get()
  def malformed: Long = malformedFrames.get()
  def reconnects: Long = reconnectCount.get()

  /** Best-effort wait until a first/updated tip ≥ `h` is visible. */
  def awaitTip(h: Long, timeoutMillis: Long): Boolean = {
    val deadline = System.nanoTime() + timeoutMillis * 1000000L
    while (System.nanoTime() < deadline) {
      if (pushedTip.exists(_ >= h)) return true
      TimeUnit.MILLISECONDS.sleep(10)
    }
    pushedTip.exists(_ >= h)
  }

  override def close(): Unit = {
    closed.set(true)
    drops.offer("closed")
    supervisor.interrupt()
    val w = ws
    if (w != null) try w.abort() catch { case _: Throwable => }
  }
}
