package graft.blocks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's golden template layout
  * (`es-core/src/testFixtures/resources/templates/`, FIXTURES.md §A):
  *
  * {{{
  *   <dir>/block/<height>.json          RPC /block response
  *   <dir>/block_results/<height>.json  RPC /block_results response
  *   <dir>/blockchain/<min>-<max>.json  RPC /blockchain 20-height pages
  *   <dir>/live/<height>.json           websocket NewBlock envelopes
  *   <dir>/abci_info/success.json       current chain height (templated)
  * }}}
  *
  * Raw block rows ([[BlockSchemas.raw]]) come from such a directory only
  * through the `blockfeed` connector's file transport
  * (`graft.sources.FileBlockClient`), the same decode the HTTP, ws and gRPC
  * transports run. What lives here is the corpus itself: where it is, its
  * `${var:-default}` template syntax, its tip, and [[blockMetas]], the S3
  * page read that keeps `block_size` and the page `header`, which the raw
  * schema does not carry.
  *
  * Two corpora share this layout. [[ReferenceTemplates]] is the reference's
  * golden corpus, a frozen slice of the real chain; it lives outside the
  * repository. [[CommittedChain]] is a golden-shaped synthetic chain that
  * the repository holds (written by `tools/fixture_chain.py`, FIXTURES.md
  * §A "The committed chain"): same heights, pages and control frames, its
  * own values, listed in its `manifest.json`. [[DefaultTemplates]], which
  * the block queries, the CLI and the specs read, is the golden corpus
  * where that directory exists and the committed chain where it does not.
  */
object FixtureSource {

  val ReferenceTemplates =
    "/root/reference/es-core/src/testFixtures/resources/templates"

  /** The committed chain, relative to the repository root. */
  val CommittedChain = "fixtures/chain"

  /** The golden corpus if present, else the committed chain — absolute, so
    * the DuckDB oracle SQL that embeds it resolves from any directory. */
  val DefaultTemplates: String =
    if (new java.io.File(ReferenceTemplates).isDirectory) ReferenceTemplates
    else new java.io.File(CommittedChain).getAbsolutePath

  /** `${var:-default}` template substitution (the reference's
    * StringSubstitutor defaults, `testFixtures/.../utils/Templates.kt:27`).
    * THE one implementation — the HTTP/gRPC stub nodes and the codec specs
    * resolve the same corpus through this, so a template-syntax change
    * cannot silently diverge between the fixture, wire, and oracle paths.
    */
  private[graft] def substitute(text: String, vars: Map[String, String]): String =
    "\\$\\{([a-zA-Z0-9_]+)(?::-([^}]*))?\\}".r.replaceAllIn(text, m => {
      val v = vars.getOrElse(m.group(1), Option(m.group(2)).getOrElse(""))
      scala.util.matching.Regex.quoteReplacement(v)
    })

  /** Current chain height from `abci_info` (reference `MockNetAdapter.kt:90`). */
  def currentHeight(dir: String, vars: Map[String, String] = Map.empty): Long = {
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/abci_info/success.json")), "UTF-8")
    val json = substitute(raw, vars)
    """"last_block_height"\s*:\s*"?(\d+)"?""".r.findFirstMatchIn(json)
      .map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(s"no last_block_height in $dir/abci_info"))
  }

  // NOTE: pass the DIRECTORY, not a `*.json` glob — the fixture dirs hold
  // only JSON files, and a glob makes FileStreamSink.hasMetadata log a scary
  // (but harmless) FileNotFoundException stack on every uncached read.
  private def readJsonDir(spark: SparkSession, path: String,
                          schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("multiLine", "true").json(path)

  /** Always empty: the block queries read through the `blockfeed`
    * connector and share no cached relation. It stays because
    * `perfbench.Engine`'s analytics pass hands it to
    * `GraftCaches.sweepExcept` as the keep-list. */
  def cachedFrames: Seq[DataFrame] = Nil

  /** Header/meta-only scan from the 20-height `blockchain` pages (S3: the
    * cheap path — `HistoricalBlockHeaderFlow.kt:58`). Pages are stored
    * height-descending; emitted ascending like the reference re-sort (`:107`).
    */
  def blockMetas(spark: SparkSession, dir: String,
                 from: Long = 1L, to: Long = Long.MaxValue): DataFrame =
    readJsonDir(spark, s"$dir/blockchain", BlockSchemas.blockchainResponse)
      .select(explode(col("result.block_metas")).as("meta"))
      .select(
        col("meta.header.height").cast("long").as("height"),
        BlockOps.blockTime(col("meta.header.time")).as("time"),
        col("meta.header.chain_id").as("chain_id"),
        col("meta.num_txs").cast("int").as("num_txs"),
        col("meta.block_size").cast("long").as("block_size"),
        col("meta.block_id.hash").as("block_hash"),
        col("meta.header").as("header"))
      .filter(col("height").between(from, to))
      // overlapping pages exist in the fixture dir (4-height and 20-height
      // views of the same range) — heights are the natural unique key
      .dropDuplicates("height")
}
