package graft.blocks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-function library covering the reference's entire scalar-function
  * surface (SURVEY §2.8 F1–F15). Everything here is built-in Catalyst
  * expressions — codegen'd, null-lenient like the reference — except the two
  * genuinely-custom functions (F8 repeat-decode, F13 protobuf tx decode),
  * which are Scala UDFs over the tight [[ProtoMini]] parser.
  */
object BlockOps {

  // === hashing (F1–F4) ===============================================

  /** F1+F2: uppercase hex SHA-256 — the reference hex-encodes with guava
    * `BaseEncoding.base16()` which is uppercase (`models/Extensions.kt:16`).
    */
  def sha256Hex(bytes: Column): Column = upper(sha2(bytes, 256))

  /** F3: `String.hash()` — sha256 of the base64-decoded payload
    * (`models/Extensions.kt:35`). Null-safe: invalid base64 → null.
    */
  def txHash(b64: Column): Column = sha256Hex(try_to_binary(b64, lit("base64")))

  /** F4: `Block.txHashes()` over the txs array. */
  def txHashes(txs: Column): Column = transform(txs, t => txHash(t))

  // === base64 / strings (F7–F10) =====================================

  /** F7: base64 → utf8 with the reference's fallback-to-original semantics
    * (`Extensions.kt:25`: failure returns the input).
    */
  def b64ToUtf8(b64: Column): Column =
    coalesce(decode(try_to_binary(b64, lit("base64")), "UTF-8"), b64)

  /** F9: `String.stripQuotes` — Kotlin `removeSurrounding("\"")`: strips only
    * when the string both starts AND ends with a quote (and length ≥ 2).
    */
  def stripQuotes(c: Column): Column =
    when(length(c) >= 2 && c.startsWith("\"") && c.endsWith("\""),
      c.substr(lit(2), length(c) - 2))
      .otherwise(c)

  private def stripQuotesScala(s: String): String =
    if (s.length >= 2 && s.startsWith("\"") && s.endsWith("\"")) s.substring(1, s.length - 1) else s

  private def decodeBase64Scala(s: String): String =
    try new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
    catch { case _: Exception => s }

  private def isAsciiPrintable(s: String): Boolean =
    s.forall(ch => ch >= 32 && ch < 127)

  /** F8: `repeatDecodeBase64` — decode up to 10×, stop when stable or no
    * longer ASCII-printable; returns the last printable decode
    * (`es-core/.../Extensions.kt:42`). Display-only helper → plain UDF is
    * acceptable off the hot path.
    */
  val repeatDecodeBase64: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (in: String) =>
      if (in == null) null
      else {
        var s = in
        var t = stripQuotesScala(decodeBase64Scala(s))
        var i = 0
        var done = false
        while (i < 10 && !done) {
          if (s == t || !isAsciiPrintable(t)) done = true
          else { s = t; t = stripQuotesScala(decodeBase64Scala(s)) }
          i += 1
        }
        s
      }
    }

  /** F10a: `List<Event>.toDecodedMap` — keys base64-decoded, values kept
    * base64 (`models/Extensions.kt:188`); duplicate keys keep the LAST value
    * (Kotlin `associate`), hence `mapKeyDedupPolicy=LAST_WIN` in Session.
    */
  def attrsToMap(attrs: Column): Column =
    map_from_entries(transform(attrs, a => struct(b64ToUtf8(a("key")), a("value"))))

  /** F10b: `Event.toAttribute` applied across the list — both key and value
    * decoded (`models/Extensions.kt:178`).
    */
  def attrsToDecodedMap(attrs: Column): Column =
    map_from_entries(transform(attrs, a =>
      struct(b64ToUtf8(a("key")), b64ToUtf8(a("value")))))

  /** F11: `TxEvent.hasAttribute(key)` — compares the *encoded* key exactly as
    * stored (`models/Extensions.kt:171`).
    */
  def hasAttribute(attrs: Column, encodedKey: Column): Column =
    exists(attrs, a => a("key") === encodedKey)

  /** F11 variant: match against the decoded key (what callers usually mean). */
  def hasDecodedAttribute(attrs: Column, key: Column): Column =
    exists(attrs, a => b64ToUtf8(a("key")) === key)

  // === time (F5–F6) ==================================================

  /** F5: ISO-8601 header time → timestamp, null on failure (PERMISSIVE). */
  def blockTime(time: Column): Column = try_to_timestamp(time)

  /** F6: timestamp → ISO-8601 string. */
  def toIsoString(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  // === fees (F12–F13) ================================================

  /** F12: fee-amount math — decimal(38,0) with `?: ZERO` default
    * (`InnerCoin.kt:7`). Relies on non-ANSI cast leniency (invalid → null,
    * set in Session) exactly like the reference's `toBigIntegerOrNull`.
    */
  def feeOrZero(amount: Column): Column =
    coalesce(amount.cast("decimal(38,0)"), lit(0).cast("decimal(38,0)"))

  /** F13: protobuf `cosmos.tx.v1beta1.Tx` decode — fee amount/denom + memo
    * from the raw base64 tx ([[ProtoMini]]; reference
    * `models/Extensions.kt:37–50`). `None` for null/undecodable input
    * (reference nulls the TxData). The one decode policy behind both the
    * per-tx [[txMetaUdf]] and the sinks' per-block array UDF.
    */
  def decodeTxMeta(b64: String): Option[ProtoMini.TxMeta] =
    if (b64 == null) None
    else
      try ProtoMini.txMeta(java.util.Base64.getDecoder.decode(b64))
      catch { case _: Exception => None }

  /** F13 per tx: [[decodeTxMeta]] as a UDF (null struct on `None`). */
  val txMetaUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((b64: String) => decodeTxMeta(b64))

  // === misc (F14–F15) ================================================

  /** F14: Kafka key `"<chainId>.<height>"` (`KafkaBlockSink.kt:30`). */
  def kafkaKey(chainId: Column, height: Column): Column =
    concat_ws(".", chainId, height)
}
