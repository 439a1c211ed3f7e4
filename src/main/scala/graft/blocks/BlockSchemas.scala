package graft.blocks

import org.apache.spark.sql.types._

/** Authoritative Spark schemas for the Tendermint RPC payloads the reference
  * consumes (SURVEY §1.3). Mirrors the OpenAPI spec
  * (`es-api-model/src/main/resources/tendermint-v0.34.12-rpc-openapi-FIXED.yaml`)
  * with one deliberate deviation: heights/counts arrive as JSON *strings* in
  * the real RPC (`"height": "2270370"`) and are kept StringType here, cast to
  * Long at the raw-table boundary (the blockfeed connector's
  * `graft.sources.RowCodec`, and [[FixtureSource.blockMetas]] for S3).
  *
  * One nullable-everywhere rule: every field is nullable (PERMISSIVE reads),
  * defaults are applied in [[EventTables]] exactly where the reference applies
  * them (`?: ""` / `?: emptyList()` — `models/Extensions.kt:137–162`).
  */
object BlockSchemas {

  /** `Event` attribute — key/value are base64-encoded (yaml:2967). */
  val attribute: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("index", BooleanType)))

  /** ABCI event: `{type, attributes[]}` (`EncodedBlockchainEvent.kt:34`). */
  val abciEvent: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("attributes", ArrayType(attribute))))

  val blockIdParts: StructType = StructType(Seq(
    StructField("total", IntegerType),
    StructField("hash", StringType)))

  val blockId: StructType = StructType(Seq(
    StructField("hash", StringType),
    StructField("parts", blockIdParts)))

  /** `BlockHeader` (yaml:2981). */
  val header: StructType = StructType(Seq(
    StructField("version", StructType(Seq(
      StructField("block", StringType),
      StructField("app", StringType)))),
    StructField("chain_id", StringType),
    StructField("height", StringType),
    StructField("time", StringType),
    StructField("last_block_id", blockId),
    StructField("last_commit_hash", StringType),
    StructField("data_hash", StringType),
    StructField("validators_hash", StringType),
    StructField("next_validators_hash", StringType),
    StructField("consensus_hash", StringType),
    StructField("app_hash", StringType),
    StructField("last_results_hash", StringType),
    StructField("evidence_hash", StringType),
    StructField("proposer_address", StringType)))

  /** `Block` (yaml:1586). */
  val block: StructType = StructType(Seq(
    StructField("header", header),
    StructField("data", StructType(Seq(
      StructField("txs", ArrayType(StringType))))), // base64 protobuf txs
    StructField("evidence", StructType(Seq(
      StructField("evidence", ArrayType(StringType))))),
    StructField("last_commit", StructType(Seq(
      StructField("height", StringType),
      StructField("round", IntegerType),
      StructField("block_id", blockId),
      StructField("signatures", ArrayType(StructType(Seq(
        StructField("block_id_flag", IntegerType),
        StructField("validator_address", StringType),
        StructField("timestamp", StringType),
        StructField("signature", StringType))))))))))

  /** RPC `/block` response envelope. */
  val blockResponse: StructType = StructType(Seq(
    StructField("jsonrpc", StringType),
    StructField("result", StructType(Seq(
      StructField("block_id", blockId),
      StructField("block", block))))))

  /** One entry of `txs_results[]` (yaml:1660). `code` "0" = success. */
  val txResult: StructType = StructType(Seq(
    StructField("code", StringType),
    StructField("data", StringType),
    StructField("log", StringType),
    StructField("info", StringType),
    StructField("gas_wanted", StringType),
    StructField("gas_used", StringType),
    StructField("codespace", StringType),
    StructField("events", ArrayType(abciEvent))))

  /** RPC `/block_results` response envelope. `txs_results` is null for empty
    * blocks (real fixture behavior, e.g. `block_results/2270370.json`).
    * The end-of-block events key is `end_block_events` on the WIRE — every
    * fixture uses it, and `block_results/2270465.json` carries real entries.
    * The OpenAPI yaml (yaml:1740) misnames the field `end_block`, which is
    * where an earlier schema copied its name from and so parsed a key that
    * never exists, silently nulling those events; the fixtures (produced by
    * a real node) are the authority, not the yaml.
    */
  val blockResultsResponse: StructType = StructType(Seq(
    StructField("jsonrpc", StringType),
    StructField("result", StructType(Seq(
      StructField("height", StringType),
      StructField("txs_results", ArrayType(txResult)),
      StructField("begin_block_events", ArrayType(abciEvent)),
      StructField("end_block_events", ArrayType(abciEvent)))))))

  /** `BlockMeta` (yaml:1507) within RPC `/blockchain` pages. */
  val blockMeta: StructType = StructType(Seq(
    StructField("block_id", blockId),
    StructField("block_size", StringType),
    StructField("num_txs", StringType),
    StructField("header", header)))

  val blockchainResponse: StructType = StructType(Seq(
    StructField("jsonrpc", StringType),
    StructField("result", StructType(Seq(
      StructField("last_height", StringType),
      StructField("block_metas", ArrayType(blockMeta)))))))

  /** The engine's canonical raw row: one row per height, `/block` and
    * `/block_results` merged (the reference's `BlockData`,
    * `clients/BlockFetcher.kt:26`) plus derived convenience columns. This is
    * the output schema of the blockfeed DSv2 connector, over every
    * transport; everything downstream ([[EventTables]]) starts here.
    */
  val raw: StructType = StructType(Seq(
    StructField("height", LongType, nullable = false),
    StructField("time", TimestampType),
    StructField("chain_id", StringType),
    StructField("num_txs", IntegerType),
    StructField("historical", BooleanType),
    StructField("block", block),
    StructField("block_id", blockId),
    StructField("txs_results", ArrayType(txResult)),
    StructField("begin_block_events", ArrayType(abciEvent)),
    StructField("end_block_events", ArrayType(abciEvent))))
}
