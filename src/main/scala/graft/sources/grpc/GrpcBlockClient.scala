package graft.sources.grpc

import graft.sources.BlockClient
import java.io.IOException

/** gRPC service paths (public definitions; see [[TendermintGrpcCodec]] for
  * the message layouts and the block-results provenance note).
  */
object GrpcBlockClient {
  val GetLatestBlockPath =
    "/cosmos.base.tendermint.v1beta1.Service/GetLatestBlock"
  val GetBlockByHeightPath =
    "/cosmos.base.tendermint.v1beta1.Service/GetBlockByHeight"
  val GetBlockResultsPath =
    "/cometbft.services.block_results.v1.BlockResultsService/GetBlockResults"

  /** A small fixed pool of connections per (host, port) per JVM, shared by
    * every task on the executor — the gRPC twin of the JDK keep-alive pool
    * the HTTP transport rides ([[graft.sources.HttpBlockClient]]'s
    * no-disconnect note). HTTP/2 multiplexes concurrent streams over one
    * TCP connection, so per-task connections would only add handshakes —
    * but ONE connection pins all 32 task threads' frames to a single netty
    * event-loop thread on each side (a netty channel has one loop thread),
    * serializing frame encode/decode for the whole executor. A handful of
    * connections spreads streams across loop threads and TCP sockets while
    * keeping handshakes O(pool), not O(tasks); a task thread picks its
    * connection by thread id, so each thread keeps one affinity connection
    * and stream ids stay well-distributed. Never closed explicitly; the
    * event loop is daemon so JVM exit is not held up.
    */
  private val pool =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), Array[GrpcConnection]]()

  private[grpc] def connection(host: String, port: Int): GrpcConnection = {
    val conns = pool.computeIfAbsent((host, port),
      { case (h, p) => Array.fill(GrpcWire.PoolSize)(new GrpcConnection(h, p)) })
    conns((Thread.currentThread().getId % GrpcWire.PoolSize).toInt)
  }
}

/** S16 — the gRPC transport under the blockfeed connector: the reference's
  * `es-grpc` module (`flows/grpc/GrpcBlockFlow.kt:27`) polls the node tip via
  * `getCurrentBlockHeight` (= `GetLatestBlock`) and fetches each height via
  * `getBlockAtHeight` (= `GetBlockByHeight`) — the same poll/fetch split as
  * the HTTP transport, different wire. This client maps those RPCs onto the
  * [[BlockClient]] seam, decoding the proto messages back into the JSON-RPC
  * payload shapes the engine's [[graft.sources.RowCodec]] consumes, so every
  * connector feature (offset planning, pushdown, retry, checkpointing) works
  * over gRPC unchanged.
  *
  * Mapping notes:
  *   - `currentHeight` = `GetLatestBlock().block.header.height` — exactly the
  *     reference's `getCurrentBlockHeight` extension.
  *   - `availableHeights` assumes a synced node is DENSE over
  *     `[max(from,1), min(to, tip)]` (the HTTP transport's same assumption
  *     when `/status` is absent); the tendermint gRPC service exposes no
  *     earliest-height RPC, so a pruning node's floor is not visible here.
  *   - `blockResults` = the CometBFT block-results service, whose 0.38
  *     response (the only one: the service did not exist before 0.38)
  *     folds begin/end events into one `finalize_block_events` list; the
  *     codec reconstructs the engine's begin/end split from the cosmos-sdk's
  *     `mode` attribute markers
  *     ([[TendermintGrpcCodec.decodeBlockResultsResponse]]). The other two
  *     services are the standard cosmos-sdk ones, identical across versions.
  *   - `metaPages`: gRPC has no paged `/blockchain` RPC, so this client
  *     keeps the [[BlockClient]] default (no pages) and a header-only scan
  *     reads every planned height through the reader's per-height `block()`
  *     fallback — one `GetBlockByHeight` per height, no results RPC.
  *
  * grpc-status taxonomy → the T4 retry contract
  * ([[graft.sources.RetryingBlockClient]]):
  *   - OK → payload; NOT_FOUND → None (parity with HTTP 404 / missing file);
  *   - UNAVAILABLE / RESOURCE_EXHAUSTED / DEADLINE_EXCEEDED → IOException
  *     (transient, retried with exponential backoff);
  *   - anything else → IllegalStateException (fails fast, like a non-200
  *     non-transient HTTP response surfaces rather than retries).
  *
  * Serializable + connectionless state: instances ship to executors inside
  * reader factories; the actual TCP connection lives in the per-JVM pool.
  */
final class GrpcBlockClient(base: String) extends BlockClient {

  private val (host, port) = {
    // a grpc:// URI is host:port and nothing else: a query parameter (a
    // typo, or an option an older build accepted) must fail here, not be
    // silently ignored
    val (hpPart, query) = base.stripPrefix("grpc://").span(_ != '?')
    query.stripPrefix("?").split("&").find(_.nonEmpty).foreach { param =>
      throw new IllegalArgumentException(
        s"unknown parameter '${param.split("=", 2)(0)}' in $base " +
          "(a grpc:// URI takes no parameters)")
    }
    hpPart.stripSuffix("/").split(":", 2) match {
      case Array(h, p) => (h, p.toInt)
      case _ => throw new IllegalArgumentException(
        s"grpc:// URI must be grpc://host:port, got $base")
    }
  }

  private def conn: GrpcConnection = GrpcBlockClient.connection(host, port)

  /** The grpc-status → Option/exception taxonomy (class scaladoc). */
  private def taxonomy(path: String, res: GrpcWire.GrpcResponse): Option[Array[Byte]] =
    res.status match {
      case GrpcWire.OK => Some(GrpcWire.unframe(res.payload))
      case GrpcWire.NOT_FOUND => None
      case GrpcWire.UNAVAILABLE | GrpcWire.RESOURCE_EXHAUSTED |
           GrpcWire.DEADLINE_EXCEEDED =>
        throw new IOException(
          s"transient grpc-status ${res.status} from $base$path: ${res.message}")
      case other => throw new IllegalStateException(
        s"grpc-status $other from $base$path: ${res.message}")
    }

  /** status-taxonomy'd unary call: Some(proto payload) | None (NOT_FOUND). */
  private def call(path: String, request: Array[Byte]): Option[Array[Byte]] =
    taxonomy(path, conn.unary(path, request))

  override def currentHeight(): Long =
    call(GrpcBlockClient.GetLatestBlockPath, Array.emptyByteArray)
      .map(TendermintGrpcCodec.latestHeightOf)
      .getOrElse(throw new IllegalStateException(s"no latest block from $base"))

  override def availableHeights(from: Long, to: Long): Seq[Long] = {
    val lo = math.max(from, 1L)
    val hi = math.min(to, currentHeight())
    if (hi < lo) Seq.empty else lo to hi
  }

  override def block(height: Long): Option[String] =
    call(GrpcBlockClient.GetBlockByHeightPath,
      TendermintGrpcCodec.encodeHeightRequest(height))
      .map(TendermintGrpcCodec.decodeBlockResponse)

  override def blockResults(height: Long): Option[String] =
    call(GrpcBlockClient.GetBlockResultsPath,
      TendermintGrpcCodec.encodeHeightRequest(height))
      .map(TendermintGrpcCodec.decodeBlockResultsResponse)
}
