package graft.queries

import graft.{GQuery, QueryPack}
import graft.blocks.FixtureSource
import graft.sinks.BlockSinks
import org.apache.spark.sql.functions._

/** Driver-facing sink-layer operators (SURVEY §2.2): the K2 file-layout
  * manifest and the K4 Kafka framing, both oracle-checked — DuckDB recomputes
  * the sha-splayed path and the `chainId.height` key independently from the
  * same fixture files.
  */
object Sinks extends QueryPack {

  private val T = FixtureSource.DefaultTemplates
  private val From = 2270370L
  private val To = 2270469L
  private val MaxObj = "maximum_object_size=20000000, union_by_name=true"

  /** K2: the one-file-per-block layout (`FileOutput.kt:26`) as data:
    * `<UPPER(sha256(height))[0:4]>/<height padded 10>.json`.
    */
  val k2Manifest = GQuery(
    "k2_file_manifest",
    (s, _) => BlockSinks.fileFrames(Blocks.raw(s))
      .select(col("height"), col("rel_path")),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             substr(upper(sha256(CAST(result.block.header.height AS VARCHAR))), 1, 4)
               || '/' || lpad(CAST(result.block.header.height AS VARCHAR), 10, '0')
               || '.json' AS rel_path
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To"""))

  /** K4: Kafka record keys `"<chainId>.<height>"` (`KafkaBlockSink.kt:30`). */
  val k4Keys = GQuery(
    "k4_kafka_keys",
    (s, _) => BlockSinks.kafkaFrames(Blocks.raw(s))
      .select(col("key").cast("string").as("kafka_key")),
    Some(s"""
      SELECT result.block.header.chain_id || '.' ||
             CAST(result.block.header.height AS VARCHAR) AS kafka_key
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To"""))

  /** E6/K1: the assembled `StreamBlock` record, projected to its scalar spine
    * plus event-list sizes — checks the zero-shuffle HOF assembly (tx-event
    * flattening, error extraction) against DuckDB's own unnest counts.
    */
  val e6StreamBlock = GQuery(
    "e6_stream_block_assembly",
    (s, _) => BlockSinks.streamBlocks(Blocks.raw(s))
      .select(
        col("height"),
        size(col("blockEvents")).as("n_block_events"),
        size(col("txEvents")).as("n_tx_events"),
        size(col("txErrors")).as("n_tx_errors")),
    Some(s"""
      WITH b AS (
        SELECT CAST(result.block.header.height AS BIGINT) AS height
        FROM read_json_auto('$T/block/*.json', $MaxObj)
        WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To),
      br AS (
        SELECT CAST(result.height AS BIGINT) AS height,
               COALESCE(len(result.begin_block_events), 0) AS n_block_events,
               COALESCE(len(list_filter(result.txs_results,
                 t -> COALESCE(t.code, 0) <> 0)), 0) AS n_tx_errors,
               result.txs_results AS txs
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To),
      te AS (
        SELECT height, COALESCE(SUM(len(t.events)), 0) AS n_tx_events
        FROM (SELECT height, unnest(txs) AS t FROM br WHERE txs IS NOT NULL)
        GROUP BY height)
      SELECT b.height,
             CAST(COALESCE(br.n_block_events, 0) AS INT) AS n_block_events,
             CAST(COALESCE(te.n_tx_events, 0) AS INT) AS n_tx_events,
             CAST(COALESCE(br.n_tx_errors, 0) AS INT) AS n_tx_errors
      FROM b LEFT JOIN br USING (height) LEFT JOIN te USING (height)"""))

  /** S15/K5/F15: full Kafka round-trip — serialize `StreamBlock`s to
    * (key, value) frames, decode the JSON value back through
    * [[BlockSinks.decodeKafkaFrames]] (the engine's Kafka source projection),
    * and re-derive the K2 file path from the DECODED record. Checks the
    * to_json/from_json schema is lossless where it matters (height, chain
    * key, event counts survive the trip); lazy-decode T11 falls out of
    * column pruning on the `from_json` projection.
    */
  val k5Roundtrip = GQuery(
    "k5_kafka_roundtrip",
    (s, _) => {
      val frames = BlockSinks.kafkaFrames(Blocks.raw(s))
      BlockSinks.decodeKafkaFrames(frames, s)
        .select(
          col("height"),
          concat(col("chain_id"), lit("."), col("height")).as("kafka_key"),
          BlockSinks.filePath(col("height")).as("rel_path"),
          size(col("txEvents")).as("n_tx_events"))
    },
    Some(s"""
      WITH b AS (
        SELECT CAST(result.block.header.height AS BIGINT) AS height,
               result.block.header.chain_id AS chain_id
        FROM read_json_auto('$T/block/*.json', $MaxObj)
        WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To),
      br AS (
        SELECT CAST(result.height AS BIGINT) AS height,
               result.txs_results AS txs
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To),
      te AS (
        SELECT height, COALESCE(SUM(len(t.events)), 0) AS n_tx_events
        FROM (SELECT height, unnest(txs) AS t FROM br WHERE txs IS NOT NULL)
        GROUP BY height)
      SELECT b.height,
             b.chain_id || '.' || CAST(b.height AS VARCHAR) AS kafka_key,
             substr(upper(sha256(CAST(b.height AS VARCHAR))), 1, 4)
               || '/' || lpad(CAST(b.height AS VARCHAR), 10, '0')
               || '.json' AS rel_path,
             CAST(COALESCE(te.n_tx_events, 0) AS INT) AS n_tx_events
      FROM b LEFT JOIN te USING (height)"""))

  override def queries: Seq[GQuery] =
    Seq(k2Manifest, k4Keys, e6StreamBlock, k5Roundtrip)
}
