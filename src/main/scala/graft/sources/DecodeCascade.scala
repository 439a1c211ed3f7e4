package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Poison-message classification for websocket/RPC frames (SURVEY §2.9 T5) —
  * the priority decode cascade of `MessageType.kt:18–38` re-expressed as one
  * structural classifier:
  *
  *   NewBlock(100) > NewBlockHeader(100) > Error/Panic(99) > Empty(1) > Unknown
  *
  * Connector policy matches the reference (`decodeMessages`,
  * `WebSocketFlow.kt:36–57`): data frames flow, `Panic` throws (fails the
  * query → restart semantics), `Error`/`Empty`/`Unknown` are dropped with
  * counters, unparseable input raises `MalformedFrame` (the reference's
  * `DecoderEncodingException`).
  */
object DecodeCascade {

  sealed trait MessageType
  final case class NewBlock(height: Long, json: String) extends MessageType
  final case class NewBlockHeader(height: Long, json: String) extends MessageType
  final case class RpcError(code: Int, log: Option[String], message: Option[String]) extends MessageType {
    /** `RpcError.isPanic` (`rpc/response/RpcError.kt:10`). */
    def isPanic: Boolean =
      log.exists(_.toLowerCase.contains("panic")) ||
        message.exists(_.toLowerCase.contains("panic"))
  }
  case object Empty extends MessageType
  final case class Unknown(json: String) extends MessageType

  final class MalformedFrame(msg: String) extends RuntimeException(msg)
  final class PanicException(val error: RpcError)
    extends RuntimeException(s"RPC panic: code=${error.code} ${error.log.orElse(error.message).getOrElse("")}")

  private val mapper = new ObjectMapper()

  def classify(input: String): MessageType = {
    val root =
      try {
        val parser = mapper.getFactory.createParser(input)
        val node: JsonNode = mapper.readTree(parser)
        // reject trailing garbage ("{...}abc") like the reference's Moshi
        // decode (`DecoderEncodingException` on malformed.json)
        if (parser.nextToken() != null) throw new MalformedFrame("trailing content after JSON value")
        node
      } catch {
        case m: MalformedFrame => throw m
        case e: Exception => throw new MalformedFrame(e.getMessage)
      }
    if (root == null || !root.isObject)
      throw new MalformedFrame("not a JSON object")
    val result = root.get("result")
    if (result == null || result.isNull) return Unknown(input)
    if (!result.isObject) return Unknown(input)

    // NewBlock / NewBlockHeader (priority 100): result.data.type discriminates
    val data = result.get("data")
    if (data != null && data.isObject) {
      val tpe = Option(data.get("type")).map(_.asText()).getOrElse("")
      val height = Option(data.get("value"))
        .flatMap(v => Option(v.get("block")).orElse(Option(v.get("header"))))
        .flatMap {
          case b if b.has("header") => Option(b.get("header")).flatMap(h => Option(h.get("height")))
          case h => Option(h.get("height"))
        }
        .map(_.asText("-1").toLong)
      tpe match {
        case "tendermint/event/NewBlock" => return NewBlock(height.getOrElse(-1L), input)
        case "tendermint/event/NewBlockHeader" => return NewBlockHeader(height.getOrElse(-1L), input)
        case _ => // fall through
      }
    }

    // Error / Panic (priority 99): code under result or result.response
    def toError(n: JsonNode): Option[RpcError] =
      if (n != null && n.isObject && n.has("code"))
        Some(RpcError(
          n.get("code").asInt(),
          Option(n.get("log")).filter(!_.isNull).map(_.asText()),
          Option(n.get("message")).filter(!_.isNull).map(_.asText())))
      else None
    val err = toError(result.get("response")).orElse(toError(result))
    err.foreach { e => return e }

    // Empty (priority 1)
    if (result.isObject && result.isEmpty) return Empty

    Unknown(input)
  }
}
