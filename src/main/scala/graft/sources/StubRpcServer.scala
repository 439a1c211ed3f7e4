package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}

/** Local Tendermint-RPC stub replaying the reference's golden templates over
  * real HTTP (zero egress): the transport-level twin of the fixture dir, so
  * the SAME 100/29/6/106 ground truth gates the network client.
  *
  * Chain model (a real node is DENSE, unlike a fixture file listing): the
  * 100 historical heights serve their own template files; the 6 live slots
  * directly above the historical tip serve the `live` fixture payloads
  * (content heights 3126935–3126940 — exactly what a subscriber would see
  * arrive next). `abci_info` reports the tip at "stream start"; `/status`
  * reports the advanced live tip — the same start-tip/live split the file
  * fixture encodes via its abci template vs block listing.
  *
  * `failNext(n)` makes the next n requests return HTTP 503 — the T4
  * transient-failure path, exercised end-to-end through the retry decorator.
  *
  * Ships in the MAIN artifact deliberately: `graft.Bench` (the driver's
  * perf gate) and the st7 chaos gate query both construct it, and both
  * run from the production classpath. A deployment that wants it gone
  * strips `graft.StubRpcServer` at assembly; nothing in the engine's
  * operator/source/sink paths references it.
  */
final class StubRpcServer(dir: String,
                          val histFrom: Long = 2270370L,
                          val histTo: Long = 2270469L,
                          val liveCount: Int = 6,
                          val liveSrcFrom: Long = 3126935L,
                          override protected val wrapAboveWindow: Boolean = false)
  extends StubChainNode {

  // chain model, chaos contract (failNext / failOnceAtHeights), and the
  // proof-hook counters all live in StubChainNode — shared verbatim with
  // the gRPC stub so the gate queries' requires mean the same thing on
  // both wires

  // Touching the companion forces its initializer (the nodelay property,
  // see object scaladoc) to have run before THIS create call.
  require(StubRpcServer.nodelayConfigured, "nodelay init must precede create")

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

  def base: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).map(_.split("&").flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  private def send(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.getResponseBody.close()
  }

  /** `${var:-default}` resolution — templates served over HTTP arrive
    * concrete, as from a real node. Memoized per (path, vars): the bench
    * measures the CLIENT's RPC path, and a per-request regex pass over a
    * multi-KB block body would bill stub CPU to the client's number.
    */
  private val resolvedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Map[String, String]), String]()

  private def resolved(path: String, vars: Map[String, String]): String =
    resolvedCache.computeIfAbsent((path, vars), { case (p, vs) =>
      val raw = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
      graft.blocks.FixtureSource.substitute(raw, vs)
    })

  /** Apply any armed corrupt-meta faults to a resolved `/blockchain` page:
    * the target height's entry keeps its header (so the entry still parses
    * and carries its height) but loses its `num_txs` key — the
    * missing-count shape the codec must SKIP rather than trust as 0. Text
    * surgery on the served body (never the memoized template): find the
    * entry via its unique header `"height": "h"` (any whitespace around the
    * colon, so a compact page is corrupted too), then break the NEXT
    * `num_txs` key after it (template order is block_id/size/header/
    * num_txs, so the next key is this entry's own). Budget is consumed
    * only when the page actually carries the height.
    */
  private def corruptMetaApplied(body: String): String = {
    val armedNow = corruptMetaArmed
    if (armedNow.isEmpty) body
    else armedNow.foldLeft(body) { (b, h) =>
      val at = s""""height"\\s*:\\s*"$h"""".r.findFirstMatchIn(b).fold(-1)(_.start)
      if (at < 0) b
      else {
        val key = b.indexOf("\"num_txs\"", at)
        if (key < 0 || !metaEntryCorruptNow(h)) b
        else b.substring(0, key) + "\"num_txs_unreadable\"" +
          b.substring(key + "\"num_txs\"".length)
      }
    }
  }

  private def handle(ex: HttpExchange): Unit = {
    countRequest()
    if (transientDue()) {
      send(ex, 503, """{"error":"stub transient failure"}""")
      return
    }
    val q = query(ex)
    ex.getRequestURI.getPath match {
      case "/abci_info" =>
        send(ex, 200, resolved(s"$dir/abci_info/success.json",
          Map("last_block_height" -> histTo.toString)))
      case "/status" =>
        send(ex, 200,
          s"""{"jsonrpc":"2.0","id":-1,"result":{"sync_info":{
             |"earliest_block_height":"$histFrom",
             |"latest_block_height":"$latest"}}}""".stripMargin)
      case "/block" | "/block_results" =>
        val sub = ex.getRequestURI.getPath.stripPrefix("/")
        val hOpt = q.get("height").map(_.toLong)
        hOpt match {
          case Some(h) =>
            if (sub == "block_results") countResultsRequest()
            // blockFetchFaulted also counts the serve, so it must run for
            // EVERY /block request (not as a pattern guard, whose
            // short-circuiting would make counting order a pattern detail)
            if (sub == "block" && blockFetchFaulted(h))
              send(ex, 503, """{"error":"stub transient failure"}""")
            else if (sub == "block" && blockHiddenNow(h))
              // lagging-replica model (hideBlocks): advertised upstream,
              // not yet served here — the same not-available shape a real
              // node behind a load balancer returns
              send(ex, 404,
                s"""{"jsonrpc":"2.0","id":-1,"error":{"code":-32603,"message":"height $h is not available"}}""")
            else if (sub == "block" && blockCorruptNow(h))
              // broken-replica model (corruptBlocks): a 200 whose body is
              // valid JSON but carries no block — present-but-unreadable,
              // the presence contract's second arm (half-written payloads
              // and truncated bodies land in the same codec Left)
              send(ex, 200,
                """{"jsonrpc":"2.0","id":-1,"result":{"block_id":{"hash":"00"}}}""")
            else {
              val p = Paths.get(s"$dir/$sub/${srcHeight(h)}.json")
              if (Files.exists(p)) {
                // the SERVE count sits beside the 200, not at receipt: a
                // 404'd results request is not a serve (r13 ADVICE — and
                // the golden window really does 404 two results heights)
                if (sub == "block_results") countResultsServe()
                send(ex, 200, resolved(p.toString, Map.empty))
              } else send(ex, 404,
                s"""{"jsonrpc":"2.0","id":-1,"error":{"code":-32603,"message":"height $h is not available"}}""")
            }
          case None => send(ex, 400, """{"error":"height required"}""")
        }
      case "/blockchain" =>
        (q.get("minHeight").map(_.toLong), q.get("maxHeight").map(_.toLong)) match {
          case (Some(lo), Some(hi)) =>
            val exact = Paths.get(s"$dir/blockchain/$lo-$hi.json")
            // exact page, else the widest template page intersecting [lo,hi]
            // (readers filter to wanted heights, a real node would trim)
            val page =
              if (Files.exists(exact)) Some(exact)
              else {
                val d = Paths.get(s"$dir/blockchain")
                import scala.jdk.CollectionConverters._
                Files.list(d).iterator().asScala
                  .flatMap { p =>
                    p.getFileName.toString.stripSuffix(".json").split("-") match {
                      case Array(a, b) =>
                        (a.toLongOption, b.toLongOption) match {
                          case (Some(l), Some(h)) if h >= lo && l <= hi => Some((h - l, p))
                          case _ => None
                        }
                      case _ => None
                    }
                  }.toSeq.sortBy(-_._1).headOption.map(_._2)
              }
            page match {
              case Some(p) =>
                send(ex, 200, corruptMetaApplied(resolved(p.toString, Map.empty)))
              case None => send(ex, 404,
                """{"jsonrpc":"2.0","id":-1,"error":{"code":-32603,"message":"no such page"}}""")
            }
          case _ => send(ex, 400, """{"error":"minHeight/maxHeight required"}""")
        }
      case _ => send(ex, 404, """{"error":"no such endpoint"}""")
    }
  }

  server.createContext("/", (ex: HttpExchange) => try handle(ex) finally ex.close())
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  server.setExecutor(pool)
  server.start()

  /** Stops the listener AND the worker pool — the pool's non-daemon
    * threads otherwise outlive `server.stop` and keep the hosting JVM
    * alive at exit (a Bench run once hung indefinitely in DestroyJavaVM
    * on exactly this).
    */
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

/** Companion holding JVM-global one-time config for the stub. */
object StubRpcServer {
  /** TCP_NODELAY on the JDK HttpServer: its two-small-writes response path
    * (headers, then body) otherwise trips Nagle × delayed-ACK and bills a
    * flat ~40 ms to EVERY RPC — measured 45 ms/call on loopback with this
    * unset vs ~1 ms with it. `sun.net.httpserver.ServerConfig` reads the
    * property ONCE in its static init (triggered by the JVM's first
    * `HttpServer.create`), so the set must happen before any server exists.
    * Holding it in the companion's initializer — and touching the companion
    * from the class constructor before `create` — guarantees that ordering
    * for every server this class makes. (If some other library created an
    * HttpServer even earlier, ServerConfig is already frozen and nothing
    * can re-open it; no such path exists in this codebase — this class owns
    * the only HttpServer.create.)
    */
  private[graft] val nodelayConfigured: Boolean = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    true
  }
}
