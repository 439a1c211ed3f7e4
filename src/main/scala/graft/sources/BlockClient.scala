package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Transport abstraction under the blockfeed connector — the reference's
  * `NetAdapter` (`net/NetAdapter.kt:24`) reduced to the four RPCs the engine
  * needs. Implementations must be Serializable: instances are captured by
  * reader factories and shipped to executors.
  *
  * A production implementation is an HTTP JSON client with the reference's
  * backoff (`utils/Backoff.kt:30`: base·2^attempt ±25% jitter); here the
  * fixture-file transport (same layout as the reference's golden templates)
  * keeps everything offline-testable — SURVEY §7.1's `file://` mode.
  */
object BlockClient {
  /** Transport selection by path scheme: `http://` / `https://` → the live
    * JSON-RPC node transport; `grpc://` → the gRPC transport (S16, the
    * reference's `es-grpc` module re-expressed over netty HTTP/2 —
    * `flows/grpc/GrpcBlockFlow.kt:27`); anything else is a fixture
    * directory (the offline `file://` mode of SURVEY §7.1). One option
    * (`path`) drives all three, mirroring the reference's single `node` URI
    * (`net/OkHttpAdapter.kt:76`, scheme-switched the same way).
    */
  def open(path: String): BlockClient =
    if (path != null &&
        (path.startsWith("http://") || path.startsWith("https://")))
      new HttpBlockClient(path.stripSuffix("/"))
    else if (path != null && path.startsWith("grpc://"))
      new graft.sources.grpc.GrpcBlockClient(path)
    else new FileBlockClient(path)
}

trait BlockClient extends Serializable {

  /** Node's current chain height (`abci_info`). */
  def currentHeight(): Long

  /** Whether every height at or below the tip is served (a real chain node
    * is dense). The ws subscription's zero-RPC arithmetic offset advance is
    * only sound on a dense transport: the FILE transport is a sparse
    * listing whose abci template can report a tip far above its last block
    * file, so ws mode must plan from availability there — arithmetic
    * planning over the fixture once enumerated ~758k phantom heights per
    * drain (the template's 3028985 default vs the listing's 2270469 max).
    */
  def denseBelowTip: Boolean = true

  /** Heights with full block data available in [from, to], ascending.
    * A real node has every height (dense); the fixture dir has whatever
    * template files exist.
    */
  def availableHeights(from: Long, to: Long): Seq[Long]

  /** Raw `/block` response JSON for a height. */
  def block(height: Long): Option[String]

  /** Raw `/block_results` response JSON for a height. */
  def blockResults(height: Long): Option[String]

  /** Raw `/blockchain` page JSONs intersecting [from, to] (≤20 heights per
    * page — `TENDERMINT_MAX_QUERY_RANGE`, `EventStream.kt:73`). The default
    * means this transport has no paged RPC; the reader fetches each height
    * via `block()`.
    */
  def metaPages(from: Long, to: Long): Seq[String] = Seq.empty
}

/** THE backoff schedule — `base · 2^attempt ± 25% jitter` (the reference's
  * `utils/Backoff.kt:30`, base `Backoff.kt:12`). One definition: the T4
  * retry decorator below and the reader's planned-height presence ladder
  * both sleep on this, so dozens of executor tasks that hit the same
  * lagging replica never re-hammer it in lockstep (the jitter's whole
  * point) and a future tuning of the ladder cannot silently miss a copy.
  */
private[sources] object Backoff {
  def waitMillis(baseWaitMillis: Long, attempt: Int): Long = {
    val base = baseWaitMillis * (1L << attempt)
    val jitter = (base * 0.25 * (2 * scala.util.Random.nextDouble() - 1)).toLong
    math.max(0L, base + jitter)
  }
}

/** T4: transport-level retry with the reference's backoff policy —
  * `base · 2^attempt ± 25% jitter` (`utils/Backoff.kt:30`, base 1 s
  * `Backoff.kt:12`), retryable I/O failures only, everything else rethrown
  * (the `shouldRetryFn` partition, `MultiplexFlow.kt:36–55`). Task-level
  * `spark.task.maxFailures` sits above this; the decorator keeps transient
  * network blips from burning whole task attempts.
  */
final class RetryingBlockClient(
    inner: BlockClient,
    maxAttempts: Int = 5,
    baseWaitMillis: Long = 1000L,
    sleeper: Long => Unit = Thread.sleep)
  extends BlockClient {

  /** The `shouldRetryFn` partition: an IOException that cannot heal with
    * time fails FAST — a mistyped fixture path (NoSuchFile/FileNotFound)
    * or an unresolvable host would otherwise sleep through the full
    * backoff ladder (~15 s per RPC, and planning makes several) before
    * surfacing the same error.
    */
  private def retryable(e: java.io.IOException): Boolean = e match {
    case _: java.nio.file.NoSuchFileException => false
    case _: java.io.FileNotFoundException => false
    case _: java.net.UnknownHostException => false
    case _: java.net.MalformedURLException => false
    case _ => true
  }

  private def retry[T](op: => T): T = {
    var attempt = 0
    while (true) {
      try return op
      catch {
        case e: java.io.IOException
            if retryable(e) && attempt < maxAttempts - 1 =>
          sleeper(Backoff.waitMillis(baseWaitMillis, attempt))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  override def denseBelowTip: Boolean = inner.denseBelowTip
  override def currentHeight(): Long = retry(inner.currentHeight())
  override def availableHeights(from: Long, to: Long): Seq[Long] =
    retry(inner.availableHeights(from, to))
  override def block(height: Long): Option[String] = retry(inner.block(height))
  override def blockResults(height: Long): Option[String] =
    retry(inner.blockResults(height))
  override def metaPages(from: Long, to: Long): Seq[String] =
    retry(inner.metaPages(from, to))
}

/** Reads the reference's golden template layout (FIXTURES.md §A). */
final class FileBlockClient(dir: String) extends BlockClient {

  // a directory listing, not a chain node: heights are whatever template
  // files exist (the denseBelowTip scaladoc's ws-planning rationale)
  override def denseBelowTip: Boolean = false

  private def readFile(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  // template resolution + height extraction live in FixtureSource (the one
  // `${var:-default}` implementation — an inline regex variant here once
  // silently diverged from it)
  override def currentHeight(): Long =
    graft.blocks.FixtureSource.currentHeight(dir)

  /** The entries of directory `d` (closed before returning: an open
    * listing holds a file descriptor until the stream is closed, and every
    * block-query plan and file-transport trigger lists). */
  private def list(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Seq.empty
    else Using.resource(Files.list(d))(_.iterator().asScala.toList)

  override def availableHeights(from: Long, to: Long): Seq[Long] =
    list(Paths.get(s"$dir/block"))
      .map(_.getFileName.toString)
      .collect { case n if n.endsWith(".json") => n.stripSuffix(".json") }
      .flatMap(n => scala.util.Try(n.toLong).toOption)
      .filter(h => h >= from && h <= to)
      .sorted

  private def opt(path: String): Option[String] = {
    val p = Paths.get(path)
    if (Files.exists(p)) Some(readFile(p)) else None
  }

  override def block(height: Long): Option[String] =
    opt(s"$dir/block/$height.json")

  override def blockResults(height: Long): Option[String] =
    opt(s"$dir/block_results/$height.json")

  override def metaPages(from: Long, to: Long): Seq[String] =
    list(Paths.get(s"$dir/blockchain"))
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap { p =>
        p.getFileName.toString.stripSuffix(".json").split("-") match {
          case Array(lo, hi) =>
            (scala.util.Try(lo.toLong).toOption, scala.util.Try(hi.toLong).toOption) match {
              case (Some(l), Some(h)) if h >= from && l <= to => Some((l, h, p))
              case _ => None
            }
          case _ => None
        }
      }
      // prefer the widest pages (the fixture dir has 4-height and 20-height
      // views of the same ranges); readers dedup by height anyway
      .sortBy { case (l, h, _) => (l, -(h - l)) }
      .map { case (_, _, p) => readFile(p) }
}

/** Live-node transport: Tendermint HTTP RPC (URI endpoints `abci_info`,
  * `block`, `block_results`, `blockchain`, `status`) over plain
  * `HttpURLConnection` — the reference's `TendermintServiceOpenApiClient`
  * surface (`clients/TendermintBlockFetcher.kt:36–63`) without the OkHttp /
  * generated-client stack. Timeout budgets follow the reference's defaults
  * (`net/OkHttpAdapter.kt:21–28`: connect 90 s, read 60 s); per-call retry
  * with exponential backoff is layered on by [[RetryingBlockClient]]
  * exactly as for the file transport.
  *
  * Error taxonomy (drives T4 retry semantics):
  *   - connect/read failures and HTTP 429/502/503/504 → `IOException`
  *     (transient; retried with backoff, then surfaced as a task failure);
  *   - other non-200 responses (e.g. the node's "height not available"
  *     error) → `None`, parity with [[FileBlockClient]]'s missing file;
  *   - 200 bodies carrying a JSON-RPC `error` member → `None`.
  *
  * Serializable + stateless (one connection per call): instances ship to
  * executors inside reader factories; each Spark task holds at most one
  * in-flight request, so cluster-wide fetch concurrency = task parallelism
  * (the reference's `concurrency` knob in `getBlocks`, scaled out).
  */
final class HttpBlockClient(
    base: String,
    connectTimeoutMillis: Int = 90000,
    readTimeoutMillis: Int = 60000)
  extends BlockClient {

  private def get(pathAndQuery: String): Option[String] = {
    val conn = java.net.URI.create(s"$base$pathAndQuery").toURL
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(connectTimeoutMillis)
    conn.setReadTimeout(readTimeoutMillis)
    conn.setRequestMethod("GET")
    conn.setRequestProperty("Accept", "application/json")
    // NOTE: no conn.disconnect() on SUCCESS paths — fully consuming and
    // closing the stream returns the socket to the JVM's keep-alive pool,
    // so a partition's height loop rides ONE connection instead of a TCP
    // setup per RPC (disconnect() force-closes the socket and was costing
    // ~40 ms/call). On EXCEPTION paths (connect/read timeout, reset) the
    // connection never reaches a consumable state, so disconnect() is the
    // only cleanup — without it a retried flaky endpoint leaks one pending
    // socket per attempt until GC.
    // the transient-HTTP throw happens OUTSIDE the catch below: its error
    // stream was fully drained (socket back in the keep-alive pool), so
    // disconnecting there would force a fresh TCP setup on every retry —
    // the exact ~40 ms/call regression keep-alive exists to avoid
    var transient: Option[Int] = None
    val res =
      try {
        val code = conn.getResponseCode
        if (code == 200) {
          val in = conn.getInputStream
          val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          // JSON-RPC-level error in a 200 envelope = absent, not transient
          if (HttpBlockClient.ErrorField.findFirstIn(body).isDefined) None
          else Some(body)
        } else {
          Option(conn.getErrorStream).foreach(es => try es.readAllBytes() finally es.close())
          if (code == 429 || code == 502 || code == 503 || code == 504)
            transient = Some(code)
          None
        }
      } catch {
        case e: java.io.IOException => conn.disconnect(); throw e
      }
    transient.foreach(code => throw new java.io.IOException(
      s"transient HTTP $code from $base$pathAndQuery"))
    res
  }

  private def field(json: String, name: String): Option[Long] =
    s""""$name"\\s*:\\s*"?(\\d+)"?""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  override def currentHeight(): Long =
    get("/abci_info").flatMap(field(_, "last_block_height"))
      .getOrElse(throw new IllegalStateException(s"no last_block_height from $base/abci_info"))

  /** `/status` carries the node's retained window (`earliest_block_height`,
    * pruning-aware) and live tip; nodes without it fall back to
    * genesis..abci_info. A synced node is DENSE across that window, so
    * availability is arithmetic — zero per-height probes.
    */
  override def availableHeights(from: Long, to: Long): Seq[Long] = {
    val status = get("/status")
    val earliest = status.flatMap(field(_, "earliest_block_height")).getOrElse(1L)
    val latest = status.flatMap(field(_, "latest_block_height"))
      .getOrElse(currentHeight())
    val lo = math.max(from, math.max(1L, earliest))
    val hi = math.min(to, latest)
    if (hi < lo) Seq.empty else (lo to hi)
  }

  override def block(height: Long): Option[String] =
    get(s"/block?height=$height")

  override def blockResults(height: Long): Option[String] =
    get(s"/block_results?height=$height")

  /** 20-height pages — `TENDERMINT_MAX_QUERY_RANGE` (`EventStream.kt:73`),
    * one GET per page, aligned to `from`.
    */
  override def metaPages(from: Long, to: Long): Seq[String] =
    (from to to by 20L).iterator.flatMap { lo =>
      get(s"/blockchain?minHeight=$lo&maxHeight=${math.min(lo + 19, to)}")
    }.toSeq
}

object HttpBlockClient {
  /** Hoisted: a per-call `.r` compile showed up at ~200 RPCs/batch. */
  private val ErrorField = "\"error\"\\s*:".r
}
