package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.blocks.ProtoWire
import graft.sources.grpc.{GrpcWire, TendermintGrpcCodec => C}
import org.scalatest.funsuite.AnyFunSuite

/** The gRPC codec's correctness story has two independent legs:
  *
  *   1. KNOWN-ANSWER byte tests — exact wire bytes hand-derived from the
  *      public protobuf encoding spec and the public field numbers, so the
  *      encoder cannot drift from the spec even though encode and decode
  *      share a field-number table (a shared wrong number would round-trip
  *      "cleanly"; it cannot survive a pinned byte string).
  *   2. FULL-CORPUS round-trip — every golden template (106 blocks, 104
  *      block_results) through JSON → proto → JSON must reproduce the
  *      original value-for-value. The original templates are ground truth
  *      produced by a real node, so any lossy or value-corrupting codec
  *      path fails here (time formats, hex case, base64, null-vs-absent,
  *      string-vs-number JSON styles, omit-zero rules).
  */
class GrpcCodecSpec extends AnyFunSuite {

  private val T = graft.blocks.FixtureSource.DefaultTemplates
  private val mapper = new ObjectMapper()

  private def resolved(path: String): String =
    graft.blocks.FixtureSource.substitute(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"), Map.empty)

  /** Structural JSON equality with numeric-node tolerance (Jackson's
    * IntNode(0) != LongNode(0) even though the serialized JSON is identical;
    * every number in these payloads is integral).
    */
  private def same(a: JsonNode, b: JsonNode, path: String = "$"): Option[String] = {
    if (a.isNumber && b.isNumber) {
      if (a.asLong() == b.asLong()) None else Some(s"$path: ${a.asLong()} != ${b.asLong()}")
    } else if (a.isNull || b.isNull) {
      if (a.isNull && b.isNull) None else Some(s"$path: null mismatch ($a vs $b)")
    } else if (a.isTextual && b.isTextual) {
      if (a.asText() == b.asText()) None else Some(s"$path: '${a.asText()}' != '${b.asText()}'")
    } else if (a.isBoolean && b.isBoolean) {
      if (a.asBoolean() == b.asBoolean()) None else Some(s"$path: bool mismatch")
    } else if (a.isArray && b.isArray) {
      if (a.size() != b.size()) Some(s"$path: array size ${a.size()} != ${b.size()}")
      else (0 until a.size()).view.flatMap(i => same(a.get(i), b.get(i), s"$path[$i]")).headOption
    } else if (a.isObject && b.isObject) {
      val ka = scala.jdk.CollectionConverters.IteratorHasAsScala(a.fieldNames()).asScala.toSet
      val kb = scala.jdk.CollectionConverters.IteratorHasAsScala(b.fieldNames()).asScala.toSet
      if (ka != kb) Some(s"$path: keys ${ka.diff(kb)} only-left, ${kb.diff(ka)} only-right")
      else ka.view.flatMap(k => same(a.get(k), b.get(k), s"$path.$k")).headOption
    } else Some(s"$path: node kinds differ (${a.getNodeType} vs ${b.getNodeType})")
  }

  private def hex(b: Array[Byte]): String = C.bytesToHexUpper(b)

  // ------------------------------------------------------------------
  // 1. known-answer wire bytes
  // ------------------------------------------------------------------

  test("KAT: GetBlockByHeightRequest{height=2270370} wire bytes") {
    // field 1, varint wire type → tag byte 0x08
    // 2270370 = 17737·128 + 34  → low group 34  → 0xA2 (continuation set)
    //   17737 =   138·128 + 73  → group 73      → 0xC9
    //     138 =     1·128 + 10  → group 10      → 0x8A
    //       1                   → final byte    → 0x01
    assert(hex(C.encodeHeightRequest(2270370L)) === "08A2C98A01")
    // and the reader walks it back
    assert(C.decodeHeightRequest(C.encodeHeightRequest(2270370L)) === 2270370L)
  }

  test("KAT: negative int64 varint (the Go zero-time epoch seconds)") {
    // -62135596800 two's-complement (2^64 - 62135596800 =
    // 18446744011573954816), 7-bit groups LSB-first, 10 bytes total — the
    // protobuf spec's negative-int64 encoding, independently derived:
    // 80 92 B8 C3 98 FE FF FF FF 01
    val w = new ProtoWire.Writer().int64(1, -62135596800L)
    assert(hex(w.bytes) === "088092B8C398FEFFFFFF01")
    val r = new ProtoWire.Reader(w.bytes)
    val (f, wt) = r.tag()
    assert(f === 1 && wt === 0)
    assert(r.varint() === -62135596800L)
  }

  test("KAT: Event{type,attributes} nested message bytes") {
    // Event { type = 1 (string), attributes = 2 (repeated EventAttribute) }
    // EventAttribute { key = 1 (bytes), value = 2 (bytes), index = 3 (bool) }
    // type "tx" → 0A 02 74 78
    // attr key "k" (b64 "aw=="), value absent, index=true
    //   → nested: 0A 01 6B 18 01 (5 bytes) → field 2: 12 05 0A 01 6B 18 01
    val json = """{"type":"tx","attributes":[{"key":"aw==","value":null,"index":true}]}"""
    val resultsJson =
      s"""{"result":{"height":"7","txs_results":null,
         |"begin_block_events":[$json],"end_block_events":null}}""".stripMargin
    val enc = C.encodeBlockResultsResponse(resultsJson)
    // GetBlockResultsResponse (0.38) { height=1 → 08 07,
    //   finalize_block_events=3 → 1A 1F: the Event above plus the sdk's
    //   marker attribute appended last, key "mode" (0A 04 6D6F6465) value
    //   "BeginBlock" (12 0A 426567696E426C6F636B) → 12 12 ... (20 bytes),
    //   so 4 + 7 + 20 = 31 = 0x1F bytes of Event,
    //   validator_updates=4 { power (field 2) = 1 → 10 01 } → 22 02 10 01,
    //   app_hash=6 (2 bytes) → 32 02 0A 0B }
    assert(hex(enc) === "0807" + "1A1F" + "0A027478" + "12050A016B1801" +
      "12120A046D6F6465120A426567696E426C6F636B" + "22021001" + "32020A0B")
    // and the decoder routes it back to begin with the marker stripped
    val begin = mapper.readTree(C.decodeBlockResultsResponse(enc))
      .path("result").path("begin_block_events")
    assert(same(mapper.readTree(s"[$json]"), begin).isEmpty, begin.toString)
  }

  test("KAT: gRPC 5-byte frame prefix") {
    val msg = Array[Byte](1, 2, 3)
    assert(hex(GrpcWire.frame(msg)) === "0000000003" + "010203")
    assert(GrpcWire.unframe(GrpcWire.frame(msg)).toSeq === msg.toSeq)
    // compressed flag rejected (no codec is ever negotiated)
    val bad = GrpcWire.frame(msg); bad(0) = 1
    intercept[java.io.IOException](GrpcWire.unframe(bad))
    // length mismatch rejected
    intercept[java.io.IOException](GrpcWire.unframe(GrpcWire.frame(msg).dropRight(1)))
  }

  test("time formatting matches the corpus' Go RFC3339Nano rendering") {
    assert(C.formatTime(0L, 0) === "1970-01-01T00:00:00Z")
    // Go zero time (the corpus' absent-vote commit signatures)
    assert(C.formatTime(-62135596800L, 0) === "0001-01-01T00:00:00Z")
    // trailing fractional zeros stripped, not grouped in threes
    val (s1, n1) = C.parseTime("2021-07-15T19:27:44.63516394Z")
    assert(n1 === 635163940)
    assert(C.formatTime(s1, n1) === "2021-07-15T19:27:44.63516394Z")
    assert(C.formatTime(s1, 500000000) === "2021-07-15T19:27:44.5Z")
    assert(C.formatTime(s1, 1) === "2021-07-15T19:27:44.000000001Z")
  }

  // ------------------------------------------------------------------
  // 2. full-corpus round-trip (the golden templates are ground truth)
  // ------------------------------------------------------------------

  private def templateFiles(sub: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$T/$sub")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json")).toSeq.sortBy(_.toString)
  }

  test("round-trip: all 106 /block templates survive JSON→proto→JSON exactly") {
    val files = templateFiles("block")
    assert(files.size === 106)
    files.foreach { p =>
      val orig = resolved(p.toString)
      val rt = C.decodeBlockResponse(C.encodeBlockResponse(orig))
      val diff = same(mapper.readTree(orig), mapper.readTree(rt))
      assert(diff.isEmpty, s"${p.getFileName}: ${diff.getOrElse("")}")
    }
  }

  test("evidence on the wire surfaces as typed non-empty entries, not silence") {
    // a real node's block can carry Evidence (a deep oneof the engine never
    // reads); the decode must preserve PRESENCE and KIND so the two
    // transports do not disagree on whether a block has evidence. Craft a
    // block whose EvidenceList carries a DuplicateVoteEvidence, a
    // LightClientAttackEvidence, and an unknown-kind entry.
    import graft.blocks.ProtoWire.Writer
    def evEntry(kindField: Int): Writer =
      new Writer(16).messageAlways(kindField, new Writer(8).int64(3, 1L))
    val evList = new Writer(64)
      .messageAlways(1, evEntry(1))  // DuplicateVoteEvidence
      .messageAlways(1, evEntry(2))  // LightClientAttackEvidence
      .messageAlways(1, evEntry(9))  // future/unknown oneof arm
    val block = new Writer(128)
      .message(1, new Writer(32).stringField(2, "chain-x").int64(3, 5L))
      .messageAlways(3, evList)
    val resp = new Writer(256).messageAlways(2, block).bytes
    val tree = mapper.readTree(C.decodeBlockResponse(resp))
    val ev = tree.path("result").path("block").path("evidence").path("evidence")
    assert(ev.size() === 3)
    assert(ev.get(0).path("type").asText() === "tendermint/DuplicateVoteEvidence")
    assert(ev.get(1).path("type").asText() === "tendermint/LightClientAttackEvidence")
    assert(ev.get(2).path("type").asText() === "unknown")
    assert(ev.get(0).path("value").isNull) // content not reconstructed, by design
  }

  // ------------------------------------------------------------------
  // 3. the ≥0.38 block-results layout (finalize_block_events + mode markers)
  // ------------------------------------------------------------------

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  test("v038 decode: mode markers route and strip; unmarked events land in end") {
    import graft.blocks.ProtoWire.Writer
    def attr(key: String, value: String): Writer =
      new Writer(32).bytesField(1, key.getBytes("UTF-8"))
        .bytesField(2, value.getBytes("UTF-8"))
    def event(typ: String, attrs: Writer*): Writer = {
      val w = new Writer(64).stringField(1, typ)
      attrs.foreach(a => w.messageAlways(2, a))
      w
    }
    val wire = new Writer(512)
      .int64(1, 7L)
      // begin-marked event with one app attribute — marker must strip
      .messageAlways(3, event("mint", attr("amount", "5"), attr("mode", "BeginBlock")))
      // end-marked event
      .messageAlways(3, event("commission", attr("mode", "EndBlock")))
      // UNMARKED finalize event → end (the non-sdk chain case)
      .messageAlways(3, event("raw_finalize"))
      // an app attribute that merely LOOKS like the marker (mode with a
      // foreign value) is data: kept, event routed to end
      .messageAlways(3, event("app_event", attr("mode", "turbo")))
      // fields the engine never reads: ValidatorUpdate(4) + app_hash(6)
      .messageAlways(4, new Writer(8).int64(2, 9L))
      .bytesField(6, Array[Byte](1, 2, 3))
      .bytes
    val rt = mapper.readTree(C.decodeBlockResultsResponse(wire)).path("result")
    assert(rt.path("height").asText() === "7")
    assert(rt.path("txs_results").isNull)
    val begin = rt.path("begin_block_events")
    assert(begin.size() === 1)
    assert(begin.get(0).path("type").asText() === "mint")
    // marker stripped, app attribute intact
    assert(begin.get(0).path("attributes").size() === 1)
    assert(begin.get(0).path("attributes").get(0).path("key").asText() === b64("amount"))
    val end = rt.path("end_block_events")
    assert(end.size() === 3)
    assert((0 until 3).map(end.get(_).path("type").asText()) ===
      Seq("commission", "raw_finalize", "app_event"))
    assert(end.get(0).path("attributes").size() === 0) // marker stripped
    assert(end.get(2).path("attributes").size() === 1) // foreign 'mode' kept
    assert(end.get(2).path("attributes").get(0).path("value").asText() === b64("turbo"))
  }

  test("v038 decode: a trailing foreign-valued mode shields earlier mode app data") {
    // The sdk appends its marker strictly LAST, so only the last mode-keyed
    // attribute is a marker candidate: when that one carries a foreign value
    // it is app data, and an EARLIER attribute that happens to read
    // mode=BeginBlock is app data too — the decoder must keep BOTH and route
    // the event to end, not scan past the trailing one and strip the earlier
    // one (which would silently mutate app data).
    import graft.blocks.ProtoWire.Writer
    def attr(key: String, value: String): Writer =
      new Writer(32).bytesField(1, key.getBytes("UTF-8"))
        .bytesField(2, value.getBytes("UTF-8"))
    val ev = new Writer(64).stringField(1, "tricky")
    ev.messageAlways(2, attr("mode", "BeginBlock")) // app data, NOT the marker
    ev.messageAlways(2, attr("mode", "turbo"))      // last mode-keyed: app data
    val wire = new Writer(128).int64(1, 8L).messageAlways(3, ev).bytes
    val rt = mapper.readTree(C.decodeBlockResultsResponse(wire)).path("result")
    assert(rt.path("begin_block_events").isNull) // NOT routed to begin
    val end = rt.path("end_block_events")
    assert(end.size() === 1)
    val attrs = end.get(0).path("attributes")
    assert(attrs.size() === 2) // both kept, nothing stripped
    assert(attrs.get(0).path("value").asText() === b64("BeginBlock"))
    assert(attrs.get(1).path("value").asText() === b64("turbo"))
  }

  test("round-trip: all /block_results templates survive the v038 wire too") {
    // encode folds begin/end into finalize_block_events with mode markers
    // (plus validator_updates/app_hash noise); decode must reconstruct the
    // original split EXACTLY — a misroute, a leaked marker, or an unskipped
    // unknown field all surface as a diff against the template
    val files = templateFiles("block_results")
    assert(files.size >= 100)
    files.foreach { p =>
      val orig = mapper.readTree(resolved(p.toString)).path("result")
      val rt = mapper.readTree(C.decodeBlockResultsResponse(
        C.encodeBlockResultsResponse(resolved(p.toString)))).path("result")
      // project the original to the engine-visible keys (BlockSchemas
      // .blockResultsResponse); validator_updates / consensus_param_updates
      // are not part of the engine's schema and deliberately not carried
      val expected = mapper.createObjectNode()
      Seq("height", "txs_results", "begin_block_events", "end_block_events")
        .foreach(k => expected.set[JsonNode](k,
          orig.path(k) match { case m if m.isMissingNode => mapper.nullNode(); case m => m }))
      val diff = same(expected, rt)
      assert(diff.isEmpty, s"${p.getFileName}: ${diff.getOrElse("")}")
    }
  }
}
