package graft.sources.grpc

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.blocks.ProtoWire.{Reader, Writer}

/** Hand-rolled codec between the Tendermint JSON-RPC payload shapes the
  * engine consumes ([[graft.blocks.BlockSchemas]]) and the protobuf messages
  * a gRPC node exchanges — field numbers from the PUBLIC proto definitions
  * (tendermint/types/{block,types}.proto, tendermint/version/types.proto,
  * google/protobuf/timestamp.proto, cosmos/base/tendermint/v1beta1/query.proto):
  *
  *   GetBlockByHeightRequest  { height = 1 }
  *   GetBlockByHeightResponse { block_id = 1, block = 2 }   (= GetLatestBlock)
  *   BlockID   { hash = 1, part_set_header = 2 { total = 1, hash = 2 } }
  *   Block     { header = 1, data = 2, evidence = 3, last_commit = 4 }
  *   Header    { version = 1 { block = 1, app = 2 }, chain_id = 2, height = 3,
  *               time = 4 (Timestamp { seconds = 1, nanos = 2 }),
  *               last_block_id = 5, last_commit_hash = 6, data_hash = 7,
  *               validators_hash = 8, next_validators_hash = 9,
  *               consensus_hash = 10, app_hash = 11, last_results_hash = 12,
  *               evidence_hash = 13, proposer_address = 14 }
  *   Data      { txs = 1 (repeated bytes) }
  *   Commit    { height = 1, round = 2, block_id = 3, signatures = 4 }
  *   CommitSig { block_id_flag = 1, validator_address = 2, timestamp = 3,
  *               signature = 4 }
  *
  * Block RESULTS have no public gRPC analog at Tendermint 0.34 (the era of
  * the reference's fixtures — `/block_results` is JSON-RPC only there);
  * CometBFT 0.38 added `cometbft.services.block_results.v1
  * .BlockResultsService/GetBlockResults`, so every node that serves the RPC
  * speaks the 0.38 (ABCI 2.0) response, which folds the begin/end block
  * events into one `finalize_block_events` list. The engine's schema and
  * the reference's model (`es-api-model/.../BlockResultsResponseResult`)
  * keep the 0.34 split; the decoder reconstructs it from the cosmos-sdk's
  * `mode` markers (see "block results" below):
  *
  *   GetBlockResultsRequest  { height = 1 }
  *   GetBlockResultsResponse { height = 1, tx_results = 2 (repeated),
  *                             finalize_block_events = 3,
  *                             validator_updates = 4,
  *                             consensus_param_updates = 5, app_hash = 6 }
  *   ExecTxResult   { code = 1, data = 2, log = 3, info = 4, gas_wanted = 5,
  *                    gas_used = 6, events = 7, codespace = 8 }
  *   Event          { type = 1, attributes = 2 }
  *   EventAttribute { key = 1, value = 2, index = 3 } (`string` since 0.37,
  *                    `bytes` before — the same length-delimited encoding;
  *                    the engine keeps the corpus-era base64 rendering)
  *
  * JSON conventions mirror the golden corpus exactly (pinned by
  * `GrpcCodecSpec`'s full-corpus round-trip): heights/gas as JSON strings,
  * `code`/`round`/`total`/`block_id_flag` as numbers, hashes as UPPERCASE
  * hex, txs/attribute key/value as base64, Go-style RFC3339Nano times
  * (trailing fractional zeros stripped; the Go zero time renders
  * `0001-01-01T00:00:00Z`), absent commit signatures as `null` with an empty
  * `validator_address`, empty repeated `txs_results`/`end_block_events` as
  * JSON `null` (never `[]` in the corpus). proto3 presence folds absent and
  * empty scalars, which is lossless here: the corpus has no empty-string
  * attribute values, keys, logs, or tx data (verified), and the engine's
  * [[graft.blocks.EventTables]] applies the reference's `?: ""` defaults
  * downstream regardless (`models/Extensions.kt:137-162`).
  */
object TendermintGrpcCodec {

  private val mapper = new ObjectMapper()

  // ---------- primitive bridges ----------

  private val HexChars = "0123456789ABCDEF".toCharArray

  def hexToBytes(s: String): Array[Byte] = {
    if (s == null || s.isEmpty) Array.emptyByteArray
    else {
      val out = new Array[Byte](s.length / 2)
      var i = 0
      while (i < out.length) {
        out(i) = Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte
        i += 1
      }
      out
    }
  }

  def bytesToHexUpper(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) {
      sb.append(HexChars((b(i) >> 4) & 0xf)).append(HexChars(b(i) & 0xf))
      i += 1
    }
    sb.toString
  }

  private def b64ToBytes(s: String): Array[Byte] =
    if (s == null || s.isEmpty) Array.emptyByteArray
    else java.util.Base64.getDecoder.decode(s)

  private def bytesToB64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)

  /** RFC3339 string → (epochSeconds, nanos). `Instant.parse` handles both
    * the nano-fraction corpus times and the Go zero time (year 1).
    */
  def parseTime(s: String): (Long, Int) = {
    val i = java.time.Instant.parse(s)
    (i.getEpochSecond, i.getNano)
  }

  /** (epochSeconds, nanos) → the corpus' Go RFC3339Nano rendering: fraction
    * printed to 9 digits with TRAILING ZEROS STRIPPED, omitted when zero
    * (`2021-07-15T19:27:44.63516394Z`, `0001-01-01T00:00:00Z`). Java's
    * `Instant.toString` renders 3-digit groups instead and would not
    * hash-match the corpus strings.
    */
  def formatTime(seconds: Long, nanos: Int): String = {
    val ldt = java.time.LocalDateTime.ofEpochSecond(seconds, 0, java.time.ZoneOffset.UTC)
    val base = f"${ldt.getYear}%04d-${ldt.getMonthValue}%02d-${ldt.getDayOfMonth}%02d" +
      f"T${ldt.getHour}%02d:${ldt.getMinute}%02d:${ldt.getSecond}%02d"
    if (nanos == 0) base + "Z"
    else {
      var frac = f"$nanos%09d"
      var e = frac.length
      while (e > 1 && frac.charAt(e - 1) == '0') e -= 1
      base + "." + frac.substring(0, e) + "Z"
    }
  }

  // ---------- request messages ----------

  def encodeHeightRequest(height: Long): Array[Byte] =
    new Writer().int64(1, height).bytes

  def decodeHeightRequest(bytes: Array[Byte]): Long = {
    val r = new Reader(bytes)
    var h = 0L
    while (r.hasNext) {
      val (f, w) = r.tag()
      if (f == 1 && w == 0) h = r.varint() else r.skip(w)
    }
    h
  }

  // ======================================================================
  // encode: template JSON → proto (the stub node's serving side)
  // ======================================================================

  private def encTimestamp(s: String): Writer = {
    val (sec, nanos) = parseTime(s)
    new Writer(16).int64(1, sec).int64(2, nanos.toLong)
  }

  private def encBlockId(n: JsonNode): Writer = {
    val w = new Writer(80)
    w.bytesField(1, hexToBytes(n.path("hash").asText("")))
    val parts = n.path("parts")
    if (parts.isObject) {
      val pw = new Writer(48)
        .int64(1, parts.path("total").asLong(0L))
        .bytesField(2, hexToBytes(parts.path("hash").asText("")))
      w.message(2, pw)
    }
    w
  }

  private def encHeader(h: JsonNode): Writer = {
    val w = new Writer(512)
    val v = h.path("version")
    if (v.isObject)
      w.message(1, new Writer(16)
        .int64(1, v.path("block").asText("0").toLong)
        .int64(2, v.path("app").asText("0").toLong))
    w.stringField(2, h.path("chain_id").asText(""))
    w.int64(3, h.path("height").asText("0").toLong)
    if (h.hasNonNull("time")) w.message(4, encTimestamp(h.path("time").asText()))
    if (h.path("last_block_id").isObject) w.message(5, encBlockId(h.path("last_block_id")))
    w.bytesField(6, hexToBytes(h.path("last_commit_hash").asText("")))
    w.bytesField(7, hexToBytes(h.path("data_hash").asText("")))
    w.bytesField(8, hexToBytes(h.path("validators_hash").asText("")))
    w.bytesField(9, hexToBytes(h.path("next_validators_hash").asText("")))
    w.bytesField(10, hexToBytes(h.path("consensus_hash").asText("")))
    w.bytesField(11, hexToBytes(h.path("app_hash").asText("")))
    w.bytesField(12, hexToBytes(h.path("last_results_hash").asText("")))
    w.bytesField(13, hexToBytes(h.path("evidence_hash").asText("")))
    w.bytesField(14, hexToBytes(h.path("proposer_address").asText("")))
    w
  }

  private def encCommit(c: JsonNode): Writer = {
    val w = new Writer(2048)
    w.int64(1, c.path("height").asText("0").toLong)
    w.int64(2, c.path("round").asLong(0L))
    if (c.path("block_id").isObject) w.message(3, encBlockId(c.path("block_id")))
    val sigs = c.path("signatures")
    if (sigs.isArray) {
      val it = sigs.elements()
      while (it.hasNext) {
        val s = it.next()
        val sw = new Writer(128)
          .int64(1, s.path("block_id_flag").asLong(0L))
          .bytesField(2, hexToBytes(s.path("validator_address").asText("")))
        if (s.hasNonNull("timestamp")) sw.message(3, encTimestamp(s.path("timestamp").asText()))
        if (s.hasNonNull("signature")) sw.bytesField(4, b64ToBytes(s.path("signature").asText()))
        // a CommitSig is never empty in practice (flag ≥ 1) but write
        // unconditionally so absent-vote entries keep their list slot
        w.messageAlways(4, sw)
      }
    }
    w
  }

  private def encBlock(b: JsonNode): Writer = {
    val w = new Writer(4096)
    w.message(1, encHeader(b.path("header")))
    val txs = b.path("data").path("txs")
    if (txs.isArray && txs.size() > 0) {
      val dw = new Writer(1024)
      val it = txs.elements()
      while (it.hasNext) dw.bytesField(1, b64ToBytes(it.next().asText("")))
      w.message(2, dw)
    }
    // evidence (field 3): not encoded — the corpus has none ({"evidence":
    // []} throughout), so the stub's serving side never needs to synthesize
    // Evidence protos; the decode side handles the field generically for
    // real nodes that do carry it (see decBlock)
    if (b.path("last_commit").isObject) w.message(4, encCommit(b.path("last_commit")))
    w
  }

  /** Template `/block` response JSON → `GetBlockByHeightResponse` bytes
    * (also serves `GetLatestBlock` — same {block_id, block} layout).
    */
  def encodeBlockResponse(json: String): Array[Byte] = {
    val result = mapper.readTree(json).path("result")
    new Writer(4096)
      .message(1, encBlockId(result.path("block_id")))
      .message(2, encBlock(result.path("block")))
      .bytes
  }

  private def encEvent(e: JsonNode): Writer = {
    val w = new Writer(256)
    w.stringField(1, e.path("type").asText(""))
    val attrs = e.path("attributes")
    if (attrs.isArray) {
      val it = attrs.elements()
      while (it.hasNext) {
        val a = it.next()
        val aw = new Writer(96)
          .bytesField(1, b64ToBytes(a.path("key").asText("")))
        if (a.hasNonNull("value")) aw.bytesField(2, b64ToBytes(a.path("value").asText()))
        aw.bool(3, a.path("index").asBoolean(false))
        w.messageAlways(2, aw)
      }
    }
    w
  }

  private def encTxResult(t: JsonNode): Writer = {
    val w = new Writer(1024)
    w.int64(1, t.path("code").asLong(0L))
    if (t.hasNonNull("data")) w.bytesField(2, b64ToBytes(t.path("data").asText()))
    w.stringField(3, t.path("log").asText(""))
    w.stringField(4, t.path("info").asText(""))
    w.int64(5, t.path("gas_wanted").asText("0").toLong)
    w.int64(6, t.path("gas_used").asText("0").toLong)
    val evs = t.path("events")
    if (evs.isArray) {
      val it = evs.elements()
      while (it.hasNext) w.messageAlways(7, encEvent(it.next()))
    }
    w.stringField(8, t.path("codespace").asText(""))
    w
  }

  // ======================================================================
  // decode: proto → the engine's JSON-RPC shapes (the client side)
  // ======================================================================

  private def decTimestamp(r: Reader): String = {
    var sec = 0L; var nanos = 0L
    while (r.hasNext) {
      val (f, w) = r.tag()
      if (f == 1 && w == 0) sec = r.varint()
      else if (f == 2 && w == 0) nanos = r.varint()
      else r.skip(w)
    }
    formatTime(sec, nanos.toInt)
  }

  private def decBlockId(r: Reader): ObjectNode = {
    val n = mapper.createObjectNode()
    var hash = ""; var total = 0L; var phash = ""
    while (r.hasNext) {
      val (f, w) = r.tag()
      if (f == 1 && w == 2) { val (s, e) = r.lenDelimited(); hash = bytesToHexUpper(r.slice(s, e)) }
      else if (f == 2 && w == 2) {
        val (s, e) = r.lenDelimited()
        val pr = r.subReader(s, e)
        while (pr.hasNext) {
          val (pf, pw) = pr.tag()
          if (pf == 1 && pw == 0) total = pr.varint()
          else if (pf == 2 && pw == 2) { val (ps, pe) = pr.lenDelimited(); phash = bytesToHexUpper(pr.slice(ps, pe)) }
          else pr.skip(pw)
        }
      } else r.skip(w)
    }
    n.put("hash", hash)
    val parts = n.putObject("parts")
    parts.put("total", total)
    parts.put("hash", phash)
    n
  }

  /** Header hex-bytes field number → JSON key (fields 6..14), hoisted off
    * the per-block decode path (this runs once per gRPC block fetch).
    */
  private val HeaderHexNames: Array[String] = Array(
    "last_commit_hash", "data_hash", "validators_hash",
    "next_validators_hash", "consensus_hash", "app_hash",
    "last_results_hash", "evidence_hash", "proposer_address")

  private def decHeader(r: Reader): ObjectNode = {
    val n = mapper.createObjectNode()
    val version = n.putObject("version")
    var verBlock = 0L; var verApp = 0L
    val hexFields = new Array[String](9) // fields 6..14, indexed f-6
    var chainId = ""; var height = 0L; var time: String = null
    var lastBlockId: ObjectNode = null
    while (r.hasNext) {
      val (f, w) = r.tag()
      (f, w) match {
        case (1, 2) =>
          val (s, e) = r.lenDelimited(); val vr = r.subReader(s, e)
          while (vr.hasNext) {
            val (vf, vw) = vr.tag()
            if (vf == 1 && vw == 0) verBlock = vr.varint()
            else if (vf == 2 && vw == 0) verApp = vr.varint()
            else vr.skip(vw)
          }
        case (2, 2) => val (s, e) = r.lenDelimited(); chainId = r.utf8(s, e)
        case (3, 0) => height = r.varint()
        case (4, 2) => val (s, e) = r.lenDelimited(); time = decTimestamp(r.subReader(s, e))
        case (5, 2) => val (s, e) = r.lenDelimited(); lastBlockId = decBlockId(r.subReader(s, e))
        case (hf, 2) if hf >= 6 && hf <= 14 =>
          val (s, e) = r.lenDelimited(); hexFields(hf - 6) = bytesToHexUpper(r.slice(s, e))
        case _ => r.skip(w)
      }
    }
    version.put("block", verBlock.toString)
    if (verApp != 0L) version.put("app", verApp.toString) // corpus: omitted when 0
    n.put("chain_id", chainId)
    n.put("height", height.toString)
    if (time != null) n.put("time", time)
    if (lastBlockId != null) n.set[JsonNode]("last_block_id", lastBlockId)
    var i = 0
    while (i < 9) {
      n.put(HeaderHexNames(i), if (hexFields(i) != null) hexFields(i) else "")
      i += 1
    }
    n
  }

  private def decCommit(r: Reader): ObjectNode = {
    val n = mapper.createObjectNode()
    var height = 0L; var round = 0L; var blockId: ObjectNode = null
    val sigs = mapper.createArrayNode()
    while (r.hasNext) {
      val (f, w) = r.tag()
      (f, w) match {
        case (1, 0) => height = r.varint()
        case (2, 0) => round = r.varint()
        case (3, 2) => val (s, e) = r.lenDelimited(); blockId = decBlockId(r.subReader(s, e))
        case (4, 2) =>
          val (s, e) = r.lenDelimited(); val sr = r.subReader(s, e)
          val sig = mapper.createObjectNode()
          var flag = 0L; var addr = ""; var ts: String = null; var sigB64: String = null
          while (sr.hasNext) {
            val (sf, sw) = sr.tag()
            (sf, sw) match {
              case (1, 0) => flag = sr.varint()
              case (2, 2) => val (ss, se) = sr.lenDelimited(); addr = bytesToHexUpper(sr.slice(ss, se))
              case (3, 2) => val (ss, se) = sr.lenDelimited(); ts = decTimestamp(sr.subReader(ss, se))
              case (4, 2) => val (ss, se) = sr.lenDelimited(); sigB64 = bytesToB64(sr.slice(ss, se))
              case _ => sr.skip(sw)
            }
          }
          sig.put("block_id_flag", flag)
          sig.put("validator_address", addr)
          // an absent timestamp decodes as the proto zero (epoch 1970); the
          // corpus always carries one (absent votes use the Go zero time)
          sig.put("timestamp", if (ts != null) ts else formatTime(0L, 0))
          if (sigB64 != null) sig.put("signature", sigB64)
          else sig.putNull("signature")
          sigs.add(sig)
        case _ => r.skip(w)
      }
    }
    n.put("height", height.toString)
    n.put("round", round)
    if (blockId != null) n.set[JsonNode]("block_id", blockId)
    n.set[JsonNode]("signatures", sigs)
    n
  }

  private def decBlock(r: Reader): ObjectNode = {
    val n = mapper.createObjectNode()
    var header: ObjectNode = null; var commit: ObjectNode = null
    val txs = mapper.createArrayNode()
    val evidence = mapper.createArrayNode()
    while (r.hasNext) {
      val (f, w) = r.tag()
      (f, w) match {
        case (1, 2) => val (s, e) = r.lenDelimited(); header = decHeader(r.subReader(s, e))
        case (2, 2) =>
          val (s, e) = r.lenDelimited(); val dr = r.subReader(s, e)
          while (dr.hasNext) {
            val (df, dw) = dr.tag()
            if (df == 1 && dw == 2) { val (ds, de) = dr.lenDelimited(); txs.add(bytesToB64(dr.slice(ds, de))) }
            else dr.skip(dw)
          }
        case (3, 2) =>
          // EvidenceList { repeated Evidence evidence = 1 }; Evidence is a
          // oneof { duplicate_vote_evidence = 1, light_client_attack_
          // evidence = 2 } (public tendermint/types/evidence.proto). Decoded
          // GENERICALLY: presence + per-entry kind discriminator, value not
          // reconstructed — the engine never reads evidence and the corpus
          // carries none, so there is no ground truth to pin the deep JSON
          // rendering against; what matters is that a block WITH evidence no
          // longer silently renders as evidence-free on this transport
          // (count and kind survive; `evidence_hash` in the header always
          // crossed both wires anyway)
          val (s, e) = r.lenDelimited(); val er = r.subReader(s, e)
          while (er.hasNext) {
            val (ef, ew) = er.tag()
            if (ef == 1 && ew == 2) {
              val (es, ee) = er.lenDelimited(); val ir = er.subReader(es, ee)
              var kind = "unknown"
              while (ir.hasNext) {
                val (kf, kw) = ir.tag()
                if (kf == 1 && kw == 2) kind = "tendermint/DuplicateVoteEvidence"
                else if (kf == 2 && kw == 2) kind = "tendermint/LightClientAttackEvidence"
                ir.skip(kw)
              }
              val ev = evidence.addObject()
              ev.put("type", kind)
              ev.putNull("value")
            } else er.skip(ew)
          }
        case (4, 2) => val (s, e) = r.lenDelimited(); commit = decCommit(r.subReader(s, e))
        case _ => r.skip(w)
      }
    }
    if (header != null) n.set[JsonNode]("header", header)
    n.putObject("data").set[JsonNode]("txs", txs) // corpus: always a list
    n.putObject("evidence").set[JsonNode]("evidence", evidence)
    if (commit != null) n.set[JsonNode]("last_commit", commit)
    n
  }

  /** `GetBlockByHeightResponse`/`GetLatestBlockResponse` bytes → the
    * engine's `/block` JSON-RPC envelope.
    */
  def decodeBlockResponse(bytes: Array[Byte]): String = {
    val r = new Reader(bytes)
    var blockId: ObjectNode = null; var block: ObjectNode = null
    while (r.hasNext) {
      val (f, w) = r.tag()
      if (f == 1 && w == 2) { val (s, e) = r.lenDelimited(); blockId = decBlockId(r.subReader(s, e)) }
      else if (f == 2 && w == 2) { val (s, e) = r.lenDelimited(); block = decBlock(r.subReader(s, e)) }
      else r.skip(w)
    }
    val root = mapper.createObjectNode()
    root.put("jsonrpc", "2.0")
    root.put("id", -1)
    val result = root.putObject("result")
    if (blockId != null) result.set[JsonNode]("block_id", blockId)
    if (block != null) result.set[JsonNode]("block", block)
    mapper.writeValueAsString(root)
  }

  /** header.height of a block response, without building the JSON. */
  def latestHeightOf(bytes: Array[Byte]): Long = {
    def field(r: Reader, want: Int): Option[Reader] = {
      while (r.hasNext) {
        val (f, w) = r.tag()
        if (f == want && w == 2) { val (s, e) = r.lenDelimited(); return Some(r.subReader(s, e)) }
        r.skip(w)
      }
      None
    }
    val block = field(new Reader(bytes), 2)
    val header = block.flatMap(field(_, 1))
    header.map { hr =>
      var h = 0L
      while (hr.hasNext) {
        val (f, w) = hr.tag()
        if (f == 3 && w == 0) h = hr.varint() else hr.skip(w)
      }
      h
    }.getOrElse(throw new IllegalStateException("no block.header.height in response"))
  }

  private def decEvent(r: Reader): ObjectNode = {
    val n = mapper.createObjectNode()
    var typ = ""
    val attrs = mapper.createArrayNode()
    while (r.hasNext) {
      val (f, w) = r.tag()
      if (f == 1 && w == 2) { val (s, e) = r.lenDelimited(); typ = r.utf8(s, e) }
      else if (f == 2 && w == 2) {
        val (s, e) = r.lenDelimited(); val ar = r.subReader(s, e)
        val a = mapper.createObjectNode()
        var key = ""; var value: String = null; var index = false
        while (ar.hasNext) {
          val (af, aw) = ar.tag()
          (af, aw) match {
            case (1, 2) => val (as, ae) = ar.lenDelimited(); key = bytesToB64(ar.slice(as, ae))
            case (2, 2) => val (as, ae) = ar.lenDelimited(); value = bytesToB64(ar.slice(as, ae))
            case (3, 0) => index = ar.varint() != 0L
            case _ => ar.skip(aw)
          }
        }
        a.put("key", key)
        if (value != null) a.put("value", value) else a.putNull("value")
        a.put("index", index)
        attrs.add(a)
      } else r.skip(w)
    }
    n.put("type", typ)
    n.set[JsonNode]("attributes", attrs)
    n
  }

  private def decTxResult(r: Reader): ObjectNode = {
    val n = mapper.createObjectNode()
    // data: absent on the wire → JSON null (what a real node's JSON-RPC
    // carries for an empty tx result), so the gRPC and HTTP transports
    // yield identical raw rows; the corpus itself has no absent case
    var code = 0L; var data: String = null; var log = ""; var info = ""
    var gasWanted = 0L; var gasUsed = 0L; var codespace = ""
    val events = mapper.createArrayNode()
    while (r.hasNext) {
      val (f, w) = r.tag()
      (f, w) match {
        case (1, 0) => code = r.varint()
        case (2, 2) => val (s, e) = r.lenDelimited(); data = bytesToB64(r.slice(s, e))
        case (3, 2) => val (s, e) = r.lenDelimited(); log = r.utf8(s, e)
        case (4, 2) => val (s, e) = r.lenDelimited(); info = r.utf8(s, e)
        case (5, 0) => gasWanted = r.varint()
        case (6, 0) => gasUsed = r.varint()
        case (7, 2) => val (s, e) = r.lenDelimited(); events.add(decEvent(r.subReader(s, e)))
        case (8, 2) => val (s, e) = r.lenDelimited(); codespace = r.utf8(s, e)
        case _ => r.skip(w)
      }
    }
    n.put("code", code)
    if (data != null) n.put("data", data) else n.putNull("data")
    n.put("log", log)
    n.put("info", info)
    n.put("gas_wanted", gasWanted.toString)
    n.put("gas_used", gasUsed.toString)
    n.put("codespace", codespace)
    n.set[JsonNode]("events", events)
    n
  }

  // ======================================================================
  // block results: the ≥0.38 layout (header scaladoc) and the begin/end
  // split the engine reconstructs from it
  // ======================================================================

  /** The 0.34 split is still wire-visible in the 0.38 layout: the
    * cosmos-sdk's baseapp tags every finalize event it migrates with an
    * appended attribute `mode = BeginBlock | EndBlock` (public cosmos-sdk
    * behavior since the ABCI 2.0 migration). This codec uses that marker to
    * reconstruct the engine's (and the reference's,
    * `BlockResultsResponseResult`) split model: `mode=BeginBlock` →
    * `begin_block_events`, `mode=EndBlock` → `end_block_events`, and an
    * event with NO marker (a chain emitting raw finalize events outside the
    * sdk's begin/end blockers) → `end_block_events`, since untagged
    * finalize events fire after tx delivery — the end-block position in the
    * 0.34 model. The marker attribute itself is STRIPPED from the
    * reconstructed event (it is transport framing, not app data; keeping it
    * would make the same chain's events differ by transport). An attribute
    * that merely LOOKS like the marker (`mode` key with any other value) is
    * app data and is kept, routed to end.
    */
  private val ModeKeyB64 = bytesToB64("mode".getBytes("UTF-8"))
  private val BeginModeB64 = bytesToB64("BeginBlock".getBytes("UTF-8"))
  private val EndModeB64 = bytesToB64("EndBlock".getBytes("UTF-8"))

  /** Template `/block_results` JSON → `GetBlockResultsResponse` bytes (the
    * stub node's serving side): begin/end lists folded into
    * `finalize_block_events` with the sdk's `mode` marker appended to each,
    * plus response fields the engine never reads — a
    * `ValidatorUpdate{power}` at 4 and an `app_hash` at 6 — so a client
    * must genuinely SKIP unknown fields to decode this (they are always
    * present on a real node's wire).
    */
  def encodeBlockResultsResponse(json: String): Array[Byte] = {
    val result = mapper.readTree(json).path("result")
    val w = new Writer(8192)
    w.int64(1, result.path("height").asText("0").toLong)
    val txs = result.path("txs_results")
    if (txs.isArray) {
      val it = txs.elements()
      while (it.hasNext) w.messageAlways(2, encTxResult(it.next()))
    }
    def fold(listName: String, mode: String): Unit = {
      val evs = result.path(listName)
      if (evs.isArray) {
        val it = evs.elements()
        while (it.hasNext) {
          val ew = encEvent(it.next())
          ew.messageAlways(2, new Writer(32)
            .bytesField(1, "mode".getBytes("UTF-8"))
            .bytesField(2, mode.getBytes("UTF-8")))
          w.messageAlways(3, ew)
        }
      }
    }
    fold("begin_block_events", "BeginBlock")
    fold("end_block_events", "EndBlock")
    w.messageAlways(4, new Writer(8).int64(2, 1L)) // ValidatorUpdate{power=1}
    w.bytesField(6, Array[Byte](0x0a, 0x0b))       // app_hash
    w.bytes
  }

  /** `GetBlockResultsResponse` bytes → the engine's `/block_results`
    * JSON-RPC envelope, the begin/end split reconstructed from the mode
    * markers (scaladoc above). `validator_updates`/`consensus_param_updates`
    * /`app_hash` are skipped: they are not part of the engine's schema.
    * Empty lists render as JSON `null` (matching the corpus — empty blocks
    * carry `"txs_results": null`).
    */
  def decodeBlockResultsResponse(bytes: Array[Byte]): String = {
    val r = new Reader(bytes)
    var height = 0L
    val txs = mapper.createArrayNode()
    val begin = mapper.createArrayNode()
    val end = mapper.createArrayNode()
    while (r.hasNext) {
      val (f, w) = r.tag()
      (f, w) match {
        case (1, 0) => height = r.varint()
        case (2, 2) => val (s, e) = r.lenDelimited(); txs.add(decTxResult(r.subReader(s, e)))
        case (3, 2) =>
          val (s, e) = r.lenDelimited()
          val ev = decEvent(r.subReader(s, e))
          routeFinalizeEvent(ev) match {
            case 'b' => begin.add(ev)
            case _ => end.add(ev)
          }
        case _ => r.skip(w)
      }
    }
    val root = mapper.createObjectNode()
    root.put("jsonrpc", "2.0")
    root.put("id", -1)
    val result = root.putObject("result")
    result.put("height", height.toString)
    def setOrNull(name: String, arr: ArrayNode): Unit =
      if (arr.size() > 0) result.set[JsonNode](name, arr) else result.putNull(name)
    setOrNull("txs_results", txs)
    setOrNull("begin_block_events", begin)
    setOrNull("end_block_events", end)
    mapper.writeValueAsString(root)
  }

  /** Finds the sdk's `mode` marker on a decoded finalize event, strips it,
    * and returns the routing ('b' = begin, 'e' = end). Only the LAST
    * `mode`-keyed attribute is a marker candidate: the sdk appends its
    * marker strictly last, so a `mode` attribute anywhere earlier — even
    * one whose value happens to read `BeginBlock` — is app data and must
    * survive untouched. (Scanning past a trailing foreign-valued `mode`
    * to an earlier valid-looking one would silently strip app data.) A
    * last `mode` attribute with a foreign value is likewise app data:
    * kept, event routed to end like any unmarked finalize event.
    */
  private def routeFinalizeEvent(ev: ObjectNode): Char = {
    val attrs = ev.path("attributes") match {
      case a: ArrayNode => a
      case _ => return 'e'
    }
    var i = attrs.size() - 1
    while (i >= 0) {
      val a = attrs.get(i)
      if (a.path("key").asText("") == ModeKeyB64) {
        val v = a.path("value").asText("")
        if (v == BeginModeB64 || v == EndModeB64) {
          attrs.remove(i)
          return if (v == BeginModeB64) 'b' else 'e'
        }
        return 'e' // last mode-keyed attribute is app data: keep, route end
      }
      i -= 1
    }
    'e'
  }
}
