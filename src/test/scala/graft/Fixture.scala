package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.blocks.FixtureSource
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The expected values the fixture-backed specs assert, from one place.
  *
  * On the reference's golden corpus ([[FixtureSource.ReferenceTemplates]])
  * these are the golden literals the specs have always pinned (reference
  * `Constants.kt` plus an independent Python scan of the templates). On the
  * committed chain they come from its `manifest.json`, which
  * `tools/fixture_chain.py` computes from the files it writes, and which
  * FixtureConsistencySpec keeps in step with those files.
  *
  * Layout facts that both corpora share stay literal in the specs: the
  * heights 2270370..2270469 and 3126935..3126940, the 100/29/6/106 counts,
  * the abci tip 3028985, the missing results at 2270417/2270420, the single
  * non-null end_block_events at 2270465, the 202-event tx 0 of 2270408 and
  * the `mint` event (with its `bonded_ratio` key) at 2270374.
  */
object Fixture {

  private val dir: String = FixtureSource.DefaultTemplates
  private val golden: Boolean = dir == FixtureSource.ReferenceTemplates

  /** Raw block rows of heights [from, to] in `corpus`, read through the
    * `blockfeed` connector's file transport. */
  def raw(spark: SparkSession, from: Long, to: Long,
          corpus: String = dir): DataFrame =
    spark.read.format("blockfeed").option("path", corpus)
      .option("from", from.toString).option("to", to.toString).load()

  private lazy val manifest: JsonNode =
    new ObjectMapper().readTree(new java.io.File(s"$dir/manifest.json"))

  private def pick[A](goldenValue: A)(fromManifest: JsonNode => A): A =
    if (golden) goldenValue else fromManifest(manifest)

  /** `header.chain_id` of every block. */
  val chainId: String = pick("pio-testnet-1")(_.path("chain_id").asText())
  /** `header.time` of 2270370, the first historical block. */
  val firstBlockTime: String =
    pick("2021-07-15T19:27:44.63516394Z")(_.path("first_block_time").asText())

  /** `EventTables.txEvents` rows over 2270370..2270469. */
  val txEventRows: Long = pick(9838L)(_.path("tx_event_rows").asLong())
  /** `EventTables.blockEvents` (begin-block) rows over the same range. */
  val blockEventRows: Long = pick(2211L)(_.path("block_event_rows").asLong())
  /** `EventTables.txErrors` rows (txs with code != 0) over the range. */
  val txErrors: Long = pick(0L)(_.path("tx_errors").asLong())
  /** Historical heights that have a `block_results` file. */
  val heightsWithResults: Int = pick(98)(_.path("heights_with_results").asInt())
  /** Historical blocks with a `mint` begin-block event. */
  val blocksWithMintEvent: Long = pick(98L)(_.path("blocks_with_mint_event").asLong())
  /** Historical blocks with a `transfer` tx event. */
  val blocksWithTransferTxEvent: Int =
    pick(27)(_.path("blocks_with_transfer_tx_event").asInt())

  /** The event types of 2270465's end_block_events, in wire order. */
  val endBlockEventTypes: Seq[String] = pick(Seq("transfer", "message")) { m =>
    import scala.jdk.CollectionConverters._
    m.path("end_block_event_types").elements().asScala.map(_.asText()).toSeq
  }

  /** The `amount` attribute of 2270374's mint event: as on the wire
    * (base64) and decoded. */
  val mintAmountB64: String = pick("MA==")(_.path("mint").path("amount_b64").asText())
  val mintAmount: String = pick("0")(_.path("mint").path("amount").asText())

  /** Tx 0 of 2270408, the 202-event tx. */
  object BigTx {
    private def f(k: String)(m: JsonNode): String = m.path("big_tx").path(k).asText()
    val hash: String =
      pick("B2FB7800D823CF72AF3C6EAFF21ED61ED2D1709489F089EFB88D5A15F4E60E21")(f("hash"))
    val fee: String = pick("11786678865")(f("fee"))
    val denom: String = pick("nhash")(f("denom"))
    val memo: String = pick("")(f("memo"))
    val gasWanted: String = pick("6187233")(f("gas_wanted"))
  }
}
