package perfbench

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.sources.HttpBlockClient
import graft.sources.grpc.GrpcBlockClient
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicLong

/** The load generator: one JVM serving a generated chain through the
  * engine's own stub nodes — [[graft.StubRpcServer]] (HTTP JSON-RPC) and
  * [[graft.StubGrpcServer]] (gRPC) — plus a small control endpoint.
  *
  * Both stubs report `tip` as their tip (`abci_info`, `GetLatestBlock`);
  * `/status` reports the HTTP stub's `latest`, which the open-loop
  * [[TipSchedule]] advances on wall-clock time from wherever it stands,
  * never waiting for the engine.
  * Every payload the run will read is fetched once through the real
  * clients (heights `1..httpTo` over HTTP, `1..grpcTo` over gRPC) so the
  * stubs' render caches are full before anything is timed; `/counters`
  * reports `ready` once that is done. The URLs are printed first, so the
  * engine can start its own set-up meanwhile.
  *
  * Control (`ctl` base URL, printed on stdout with the node URLs):
  *   GET /schedule?at=<epoch ms>&phases=<rate>x<count>,...  start the tip schedule
  *   GET /counters                                        request counters
  * The node exits when its stdin closes.
  *
  * Usage: Node <chainDir> <tip> <httpTo> <grpcTo>
  */
object Node {
  def main(args: Array[String]): Unit = {
    // before any HttpServer exists: the JDK reads it once (see StubRpcServer)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val Array(dir, tipArg, httpTo, grpcTo) = args
    val tip = tipArg.toLong
    val http = new graft.StubRpcServer(dir, histFrom = 1L, histTo = tip,
      liveCount = 0, liveSrcFrom = tip + 1)
    val grpc = new graft.StubGrpcServer(dir, histFrom = 1L, histTo = tip,
      liveCount = 0, liveSrcFrom = tip + 1)
    @volatile var ready = false
    val lateMaxMs = new AtomicLong(0L)
    @volatile var schedule: Option[Thread] = None
    val ctl = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    def reply(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    ctl.createContext("/counters", (ex: HttpExchange) => reply(ex,
      s"""{"http_requests":${http.requestCount},""" +
        s""""http_results_requested":${http.resultsRequested},""" +
        s""""grpc_requests":${grpc.requestCount},""" +
        s""""grpc_results_requested":${grpc.resultsRequested},""" +
        s""""latest":${http.latest},"late_ms_max":${lateMaxMs.get},"ready":$ready}"""))
    ctl.createContext("/schedule", (ex: HttpExchange) => {
      val q = ex.getRequestURI.getQuery.split("&").map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      val plan = TipSchedule(q("at").toLong, TipSchedule.parsePhases(q("phases")))
      val from = http.latest // a later tail continues where the last one ended
      val t = new Thread(() => plan.run(from, h => http.latest = h,
        late => lateMaxMs.accumulateAndGet(late, math.max)), "tip-schedule")
      t.setDaemon(true)
      schedule = Some(t)
      t.start()
      reply(ex, "{}")
    })
    ctl.start()
    println(s"""{"http":"${http.base}","grpc":"${grpc.base}",""" +
      s""""ctl":"http://127.0.0.1:${ctl.getAddress.getPort}"}""")
    System.out.flush()
    warm(new HttpBlockClient(http.base), httpTo.toLong)
    warm(new GrpcBlockClient(grpc.base), grpcTo.toLong)
    ready = true
    while (System.in.read() >= 0) {}
    schedule.foreach(_.interrupt())
    ctl.stop(0)
    http.stop()
    grpc.stop()
    // the gRPC client pool's event loops are daemon threads; exit explicitly
    System.exit(0)
  }

  /** Fetch every block and results payload in `1..to` once, on eight
    * threads (the HTTP stub's worker count), so the stub's per-height render
    * cache is full.
    */
  private def warm(client: graft.sources.BlockClient, to: Long): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val jobs = (1L to to).grouped(250).map { hs =>
      pool.submit(new Runnable {
        def run(): Unit = hs.foreach { h => client.block(h); client.blockResults(h) }
      })
    }.toList
    jobs.foreach(_.get())
    pool.shutdown()
  }
}

/** Open-loop tip schedule shared by the node (which drives it) and the
  * engine (which derives each height's due time from it): phase `i` makes
  * `count` heights available at `rate` per second, one every `1000/rate` ms,
  * starting where the previous phase ended. Height `tip + k` is due at
  * `dueMs(k)`.
  */
final case class TipSchedule(atMs: Long, phases: Seq[(Double, Int)]) {
  private val dues: Array[Double] = {
    var t = atMs.toDouble
    phases.flatMap { case (rate, n) =>
      (1 to n).map { _ => t += 1000.0 / rate; t }
    }.toArray
  }
  def total: Int = dues.length
  def dueMs(k: Int): Double = dues(k - 1)
  /** First and last k of phase `i`. */
  def phaseRange(i: Int): (Int, Int) = {
    val lo = phases.take(i).map(_._2).sum + 1
    (lo, lo + phases(i)._2 - 1)
  }

  def run(tip: Long, set: Long => Unit, late: Long => Unit): Unit = {
    var k = 1
    try while (k <= total) {
      val wait = dueMs(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(math.ceil(wait).toLong)
      set(tip + k)
      late(math.max(0L, System.currentTimeMillis() - dueMs(k).toLong))
      k += 1
    } catch { case _: InterruptedException => () }
  }
}

object TipSchedule {
  def parsePhases(s: String): Seq[(Double, Int)] =
    s.split(",").toSeq.map { p =>
      val Array(r, n) = p.split("x")
      (r.toDouble, n.toInt)
    }
  def render(phases: Seq[(Double, Int)]): String =
    phases.map { case (r, n) => s"${r}x$n" }.mkString(",")
}
