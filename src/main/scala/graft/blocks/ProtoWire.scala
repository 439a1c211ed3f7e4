package graft.blocks

/** Minimal protobuf wire-format writer + reader, built only from the public
  * protobuf encoding spec (varint / 64-bit / length-delimited / 32-bit wire
  * types). THE one wire walker in the artifact: [[ProtoMini]]'s tx decode
  * and the gRPC transport's message codec
  * ([[graft.sources.grpc.TendermintGrpcCodec]]) both read through
  * [[ProtoWire.Reader]], so a wire-level fix (e.g. the varint overflow
  * guard) cannot drift between the two decode paths.
  *
  * No generated classes, no proto toolchain — just field numbers from the
  * public .proto definitions, the way ProtoMini hand-decodes
  * `cosmos.tx.v1beta1.Tx`.
  *
  * Encoding conventions follow proto3 scalar semantics: zero-valued scalars
  * and empty byte strings are omitted; embedded messages are omitted when
  * their encoding is empty. Negative int64s (e.g. the Go zero-time's
  * -62135596800 epoch seconds inside `google.protobuf.Timestamp`) take the
  * standard 10-byte two's-complement varint.
  */
object ProtoWire {

  final class Writer(initial: Int = 256) {
    private val buf = new java.io.ByteArrayOutputStream(initial)
    def size: Int = buf.size()
    def bytes: Array[Byte] = buf.toByteArray

    def varint(v: Long): Writer = {
      var x = v
      while ((x & ~0x7fL) != 0L) { buf.write(((x & 0x7fL) | 0x80L).toInt); x >>>= 7 }
      buf.write(x.toInt)
      this
    }

    private def tag(field: Int, wire: Int): Writer =
      varint((field.toLong << 3) | wire.toLong)

    /** int64/int32/uint64/uint32/enum — omitted when zero (proto3). */
    def int64(field: Int, v: Long): Writer =
      if (v == 0L) this else { tag(field, 0); varint(v) }

    def bool(field: Int, v: Boolean): Writer =
      if (!v) this else { tag(field, 0); varint(1L) }

    /** bytes/string — omitted when empty (proto3). */
    def bytesField(field: Int, b: Array[Byte]): Writer =
      if (b == null || b.isEmpty) this
      else { tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length); this }

    def stringField(field: Int, s: String): Writer =
      if (s == null || s.isEmpty) this else bytesField(field, s.getBytes("UTF-8"))

    /** Embedded message — omitted when the nested encoding is empty. */
    def message(field: Int, nested: Writer): Writer = {
      if (nested.size == 0) this
      else {
        val b = nested.bytes
        tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length); this
      }
    }

    /** Embedded message written even when empty, where the engine's JSON
      * distinguishes `{}`-present from absent — the gRPC codec writes every
      * repeated message element (commit signatures, events, attributes, tx
      * results, validator updates) this way.
      */
    def messageAlways(field: Int, nested: Writer): Writer = {
      val b = nested.bytes
      tag(field, 2); varint(b.length.toLong); buf.write(b, 0, b.length); this
    }
  }

  /** Wire walker (with the length/overflow guards ProtoMini's original
    * private reader carried), shared by the tx decoder, the gRPC client
    * (response decode), and the stub server (request decode).
    */
  final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    def hasNext: Boolean = pos < end

    def varint(): Long = {
      var v = 0L; var s = 0
      while (true) {
        if (pos >= end) throw new IllegalArgumentException("varint past end")
        val b = buf(pos); pos += 1
        v |= (b & 0x7fL) << s
        if ((b & 0x80) == 0) return v
        s += 7
        if (s > 63) throw new IllegalArgumentException("varint overflow")
      }
      v
    }

    /** (fieldNumber, wireType); positions at the value. */
    def tag(): (Int, Int) = { val t = varint(); ((t >>> 3).toInt, (t & 7L).toInt) }

    /** (start, end) of the nested length-delimited bytes. */
    def lenDelimited(): (Int, Int) = {
      val l = varint()
      if (l < 0 || l > end - pos)
        throw new IllegalArgumentException("bad length-delimited size")
      val s = pos; pos += l.toInt
      (s, pos)
    }

    def slice(s: Int, e: Int): Array[Byte] = java.util.Arrays.copyOfRange(buf, s, e)
    def utf8(s: Int, e: Int): String = new String(buf, s, e - s, "UTF-8")
    def subReader(s: Int, e: Int): Reader = new Reader(buf, s, e)

    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => fixedSkip(8)
      case 2 => lenDelimited()
      case 5 => fixedSkip(4)
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }

    /** A message truncated inside an unknown fixed-width field must throw
      * like the varint/length-delimited paths do — a bare `pos += n` past
      * `end` would flip `hasNext` and decode the truncation as a silent
      * success, dropping whatever fields should have followed.
      */
    private def fixedSkip(n: Int): Unit = {
      if (n > end - pos)
        throw new IllegalArgumentException(
          s"truncated fixed$n field: $n bytes needed, ${end - pos} remain")
      pos += n
    }
  }
}
