package graft.sources

import graft.blocks.BlockSchemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{ArrayData, DateTimeUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side JSON → InternalRow codec for the blockfeed connector.
  * Reuses Spark's own JacksonParser (the engine under `from_json`) against
  * the fixed [[BlockSchemas]] — schema-driven decode exactly like the
  * reference's Moshi layer (`MoshiDecoderEngine.kt:13`), PERMISSIVE nulls for
  * malformed fields.
  *
  * NOT thread-safe (parsers are reused) — one instance per PartitionReader.
  */
final class RowCodec {

  // `useUnsafeRow` pinned off, whatever the session sets: the parser then
  // returns the GenericInternalRow it built for the record (fresh
  // UTF8Strings, fresh arrays), so a parsed row is never overwritten by the
  // next parse and needs no copy (BlockFeedSpec "codec: a decoded row
  // survives the next decode"). On, Spark 4.1 projects each record to an
  // UnsafeRow and copies that: one more copy of every payload.
  private def mkParser(schema: StructType): JacksonParser =
    new JacksonParser(
      schema,
      new JSONOptions(Map("mode" -> "PERMISSIVE", "useUnsafeRow" -> "false"),
        "UTC", "_corrupt_record"),
      allowArrayAsStructs = false,
      Seq.empty)

  private val blockParser = mkParser(BlockSchemas.blockResponse)
  private val resultsParser = mkParser(BlockSchemas.blockResultsResponse)
  private val chainParser = mkParser(BlockSchemas.blockchainResponse)

  private def parseOne(p: JacksonParser, json: String): Option[InternalRow] =
    // a bare JacksonParser (no FailureSafeParser above it) THROWS
    // BadRecordException on malformed input even in PERMISSIVE mode — a
    // truncated/garbage body from a broken replica must surface as
    // None/Left (the reader's retry-then-fail ladder), not as an untyped
    // task crash that skips the ladder
    try p.parse[String](json, CreateJacksonParser.string _,
      (s: String) => UTF8String.fromString(s)).headOption
    catch {
      // ONLY the parser's malformed-record signal: a broader catch would
      // relabel genuine codec bugs (or a task-cancellation interrupt) as
      // "unreadable payload" and burn the production ladder on them
      case _: org.apache.spark.sql.catalyst.util.BadRecordException => None
    }

  private def ts(timeStr: UTF8String): Any =
    if (timeStr == null) null
    else DateTimeUtils.stringToTimestamp(timeStr, java.time.ZoneOffset.UTC)
      .map(_.asInstanceOf[AnyRef]).orNull

  /** One [[BlockSchemas.raw]] row projected to `prunedOrdinals`, shared by
    * the full and the meta path. `payloads` = the full-mode columns (the
    * block struct, and the results struct — absent degrades the event
    * columns to null); a meta-mode row has none, so asking it for one of
    * those ordinals is a planning bug and throws.
    */
  private def project(prunedOrdinals: Array[Int], height: Long,
                      header: InternalRow, numTxs: Int, historical: Boolean,
                      blockId: InternalRow,
                      payloads: Option[(InternalRow, Option[InternalRow])]): InternalRow = {
    def fieldValue(ord: Int): Any = ord match {
      case 0 => height
      case 1 => ts(header.getUTF8String(3))
      case 2 => header.getUTF8String(1)
      case 3 => numTxs
      case 4 => historical
      case 6 => blockId
      case other if payloads.isEmpty =>
        throw new IllegalStateException(
          s"raw ordinal $other not available in meta-only scan")
      case 5 => payloads.get._1
      case 7 | 8 | 9 => payloads.get._2.map(_.getArray(ord - 6)).orNull
    }
    val out = new GenericInternalRow(prunedOrdinals.length)
    var i = 0
    while (i < prunedOrdinals.length) {
      out.update(i, fieldValue(prunedOrdinals(i)))
      i += 1
    }
    out
  }

  /** Assemble one [[BlockSchemas.raw]]-shaped row (projected to
    * `prunedOrdinals` of the raw schema) from the two RPC payloads.
    * The two None-shaped outcomes a PLANNED-height reader must treat
    * differently are kept apart: `Left(reason)` = the block payload is
    * unreadable (parse failure, error envelope, truncated body — on a
    * planned height this is the same permanent-gap hazard as absence),
    * `Right(None)` = the row was legitimately dropped by the pushed-down
    * minNumTxs skip-empty predicate. VALIDATION RUNS BEFORE THE FILTER:
    * a half-written payload (no header, non-numeric height) must be
    * Left even under a num_txs pushdown — classifying it
    * as "filtered" would silently drop a planned height, the exact gap
    * the reader's presence contract exists to close. The legitimate
    * empty-block shapes are `txs` null/empty AND `data` itself
    * null/absent: the reference models `data` as nullable and counts
    * `data == null` as zero txs (`StreamBlockImplT.kt:33`
    * `block.data?.txs?.size ?: 0`, `StreamBlock.kt:14` `?: true`), so a
    * node generation that omits `data` for empty blocks must yield a
    * numTxs=0 row, not burn the ladder and fail the task on every empty
    * height. This cannot mask truncation: a truncated body is invalid
    * JSON and fails the parse outright (Left above); a payload that
    * parses clean with an intact, numeric-height header but no `data` is
    * a serializer shape, not a half-written block — the corruption arms
    * (no result, no block, no header, bad height) all sit on fields a
    * block cannot legitimately lack. A missing/unreadable RESULTS payload stays
    * best-effort either way (null event columns, the documented
    * left-join parity) — only the block itself is load-bearing;
    * `resultsJson` is by-name so the caller's (single, lazy) results
    * fetch is forced only once a block payload has actually validated,
    * never during a replica's broken phase.
    */
  def rawRowChecked(blockJson: String, resultsJson: => Option[String],
                    historical: Boolean, prunedOrdinals: Array[Int],
                    minNumTxs: Int): Either[String, Option[InternalRow]] = {
    parseOne(blockParser, blockJson) match {
      case None => Left("the payload did not parse as a block response")
      case Some(env) =>
      val result = env.getStruct(1, 2)
      if (result == null) Left("the payload carries no result (error envelope?)")
      else {
        val blockId = result.getStruct(0, 2)
        val block = result.getStruct(1, 4)
        if (block == null) Left("the result carries no block")
        else {
          val header = block.getStruct(0, 14)
          val data = block.getStruct(1, 1)
          if (header == null) Left("the block carries no header")
          else {
          val heightStr = header.getUTF8String(2)
          val heightOpt: Option[Long] =
            if (heightStr == null) None else heightStr.toString.toLongOption
          if (heightStr == null) Left("the block header carries no height")
          else if (heightOpt.isEmpty)
            // present-but-non-numeric height is corrupt, not a row: Left
            // keeps it on the reader's ladder instead of escaping as an
            // untyped NumberFormatException or a bogus height key
            Left(s"the block header height '$heightStr' is not numeric")
          else {
            val height = heightOpt.get
            val txs = if (data == null) null else data.getArray(0)
            val numTxs = if (txs == null) 0 else txs.numElements()
            if (numTxs < minNumTxs) Right(None)
            else {
              // results stay BEST-EFFORT: a results payload whose result
              // struct is null/missing degrades to null event columns (the
              // documented left-join parity), never an NPE in fieldValue
              val res = resultsJson.flatMap(j => parseOne(resultsParser, j))
                .map(_.getStruct(1, 4)).filter(_ != null)
              Right(Some(project(prunedOrdinals, height, header, numTxs,
                historical, blockId, Some((block, res)))))
            }
          }
          }
        }
      }
    }
  }

  /** Parse one `/blockchain` page into (height → meta-mode row) pairs,
    * projected to `prunedOrdinals` (which must only reference meta-safe
    * columns: height/time/chain_id/num_txs/historical/block_id). A height
    * COVERED by the page but filtered out (minNumTxs) still appears, as
    * (height, None): the reader's coverage bookkeeping must see every
    * height the pages actually carried, or a filtered row would be
    * mistaken for a page gap and re-fetched via the per-height fallback —
    * one wasted /block RPC per legitimately skipped row, defeating the P4
    * skip-empty pushdown.
    */
  def metaRows(pageJson: String, isHistorical: Long => Boolean,
               prunedOrdinals: Array[Int],
               minNumTxs: Int): Seq[(Long, Option[InternalRow])] = {
    parseOne(chainParser, pageJson) match {
      case None => Seq.empty
      case Some(env) =>
        val result = env.getStruct(1, 2)
        if (result == null) Seq.empty
        else {
          val metas = result.getArray(1)
          if (metas == null) Seq.empty
          else (0 until metas.numElements()).flatMap { i =>
            val m = metas.getStruct(i, 4)
            if (m == null) None
            else {
              val blockId = m.getStruct(0, 2)
              val numTxsStr = m.getUTF8String(2)
              // a corrupt meta entry (missing/non-numeric count or height)
              // is SKIPPED, not thrown and not trusted: pages are a fetch
              // optimization, so the reader's /block backstop re-fetches
              // any planned height a bad entry failed to cover — same
              // taxonomy as rawRowChecked's Left. (Trusting a MISSING
              // num_txs as 0 would record the height as covered-and-
              // filtered under a num_txs pushdown — a silent drop.)
              val numTxsOpt =
                if (numTxsStr == null) None
                else numTxsStr.toString.toIntOption
              val header = m.getStruct(3, 14)
              val heightStr = if (header == null) null else header.getUTF8String(2)
              val heightOpt =
                if (heightStr == null) None
                else heightStr.toString.toLongOption
              if (heightOpt.isEmpty || numTxsOpt.isEmpty) None
              else if (numTxsOpt.get < minNumTxs)
                Some((heightOpt.get, None))
              else {
                val height = heightOpt.get
                Some((height, Some(project(prunedOrdinals, height, header,
                  numTxsOpt.get, isHistorical(height), blockId, None))))
              }
            }
          }.toSeq
        }
    }
  }
}
