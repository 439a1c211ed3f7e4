package graft.blocks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-backed batch reader over the reference's golden template layout
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
  * This is the `file://` transport of SURVEY §7.1: the same canonical raw
  * rows come out of here and out of the blockfeed DSv2 connector, so the ops
  * layer is transport-agnostic. Fixture files are pretty-printed → multiLine
  * JSON reads (one record per file).
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

  /** Per-session cache of the assembled raw relations: the fixture corpus is
    * a fixed small directory of pretty-printed JSON files (one record per
    * file, multiLine reads), and every block query starts from the same
    * scan+join — materialize it once per (session, range), the transport-
    * level analogue of staging the source into a table.
    */
  private val rawCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String, Long, Long, Boolean), DataFrame]
  private def cached(spark: SparkSession, dir: String, from: Long, to: Long,
                     historical: Boolean)(build: => DataFrame): DataFrame = {
    val df = rawCache.getOrElseUpdate(
      (System.identityHashCode(spark), dir, from, to, historical),
      build.persist())
    // self-heal (r14): a harness cache sweep may have cleared this
    // relation's CacheManager entry — re-persist the memoized handle so the
    // next action re-materializes it once instead of every consumer
    // rebuilding the scan+join uncached forever after
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  /** The live per-session fixture relations — what a harness cache sweep
    * must KEEP (every block query shares them). */
  def cachedFrames: Seq[DataFrame] = rawCache.values.toSeq

  /** Full blocks (`/block` + `/block_results` merged per height) →
    * [[BlockSchemas.raw]] rows. `from`/`to` bound the height range (S1
    * semantics: `historicalBlockDataFlow`, `HistoricalBlockFlow.kt:26`).
    */
  def blocksRaw(spark: SparkSession, dir: String,
                from: Long = 1L, to: Long = Long.MaxValue,
                historical: Boolean = true): DataFrame =
    cached(spark, dir, from, to, historical) {
      blocksRawUncached(spark, dir, from, to, historical)
    }

  private def blocksRawUncached(spark: SparkSession, dir: String,
                                from: Long, to: Long,
                                historical: Boolean): DataFrame = {
    val b = readJsonDir(spark, s"$dir/block", BlockSchemas.blockResponse)
      .select(
        col("result.block").as("block"),
        col("result.block_id").as("block_id"))
      .withColumn("height", col("block.header.height").cast("long"))
      .filter(col("height").between(from, to))
    val r = readJsonDir(spark, s"$dir/block_results", BlockSchemas.blockResultsResponse)
      .select(
        col("result.height").cast("long").as("r_height"),
        col("result.txs_results").as("txs_results"),
        col("result.begin_block_events").as("begin_block_events"),
        col("result.end_block_events").as("end_block_events"))
      .filter(col("r_height").between(from, to))
    b.join(r, b("height") === r("r_height"), "left")
      .select(
        col("height"),
        BlockOps.blockTime(col("block.header.time")).as("time"),
        col("block.header.chain_id").as("chain_id"),
        size(coalesce(col("block.data.txs"), array())).as("num_txs"),
        lit(historical).as("historical"),
        col("block"), col("block_id"),
        col("txs_results"), col("begin_block_events"), col("end_block_events"))
  }

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

  /** Live websocket `NewBlock` envelopes (S9 input). The reference re-fetches
    * the full `BlockData` per pushed height (`WsBlockDataFlow.kt:69`); here
    * that means joining back to `block/`+`block_results/` by height, which
    * [[blocksRaw]] already does — so live rows are blocksRaw over the pushed
    * heights, flagged `historical=false`.
    */
  def liveHeights(spark: SparkSession, dir: String): Seq[Long] = {
    readJsonDir(spark, s"$dir/live", BlockSchemas.newBlockEnvelope)
      .select(col("result.data.value.block.header.height").cast("long").as("height"))
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  def liveRaw(spark: SparkSession, dir: String): DataFrame = {
    val hs = liveHeights(spark, dir)
    blocksRaw(spark, dir, hs.min, hs.max, historical = false)
  }

  /** Combined history-then-live (S12–S14 `combinedFlow` semantics): history
    * `[from..currentHeight]` then live heights above, deduped on height —
    * what the offset-based streaming connector gets for free; provided here
    * for the batch path.
    */
  def combinedRaw(spark: SparkSession, dir: String, from: Long): DataFrame = {
    val cur = currentHeight(dir)
    val hist = blocksRaw(spark, dir, from, cur, historical = true)
    val live = liveRaw(spark, dir).filter(col("height") > cur)
    hist.unionByName(live).dropDuplicates("height")
  }
}
