package graft

import graft.blocks._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Parity tests against the fixture corpus (FIXTURES.md §A). Ground truth
  * on the reference's golden templates (reference
  * `testFixtures/.../utils/Constants.kt:12–36` + an independent Python scan
  * of the template JSON):
  *   - historical heights 2270370..2270469 → 100 blocks, 29 non-empty
  *   - live heights 3126935..3126940 → 6 blocks; combined = 106
  *   - 9838 tx events, 2211 begin-block events, 0 tx errors
  *   - first tx of 2270408: sha256 B2FB…0E21, fee 11786678865 nhash, memo ""
  * The height and count facts are the corpus layout, shared with the
  * committed chain; the values are read from [[Fixture]].
  */
class BlockCoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  val T = FixtureSource.DefaultTemplates
  val From = 2270370L
  val To = 2270469L

  lazy val spark: SparkSession = Session.builder("graft-test").getOrCreate()
  override def afterAll(): Unit = () // shared JVM session; Spark stops at exit

  lazy val raw = Fixture.raw(spark, From, To).cache()

  test("historical scan yields 100 blocks, 29 non-empty (S1/P1)") {
    assert(raw.count() === 100L)
    assert(EventTables.filterNonEmpty(raw, skipEmpty = true).count() === 29L)
    assert(EventTables.filterNonEmpty(raw, skipEmpty = false).count() === 100L)
  }

  test("blocks view: heights dense, is_empty matches num_txs") {
    val b = EventTables.blocks(raw)
    assert(b.count() === 100L)
    val minMax = b.agg(min("height"), max("height")).head()
    assert(minMax.getLong(0) === From && minMax.getLong(1) === To)
    assert(b.filter(col("is_empty") =!= (col("num_txs") === 0)).count() === 0L)
    assert(b.filter(col("chain_id") === Fixture.chainId).count() === 100L)
    assert(b.filter(col("time").isNull).count() === 0L)
  }

  test("tx_events: 9838 rows with positional hash + proto fee (E1/E5/F13)") {
    val te = EventTables.txEvents(raw).cache()
    assert(te.count() === Fixture.txEventRows)
    // every event row is anchored to a non-empty block and carries a tx hash
    assert(te.filter(length(col("tx_hash")) =!= 64).count() === 0L)
    // spot-check the independently computed ground truth for 2270408 tx 0
    val r = te.filter(col("block_height") === 2270408L && col("tx_index") === 0)
      .select("tx_hash", "fee", "denom", "note").distinct().head()
    assert(r.getString(0) === Fixture.BigTx.hash)
    assert(r.getDecimal(1).toBigInteger.toString === Fixture.BigTx.fee)
    assert(r.getString(2) === Fixture.BigTx.denom)
    assert(r.getString(3) === Fixture.BigTx.memo)
    te.unpersist()
  }

  test("block_events: 2211 rows incl. empty blocks (E2)") {
    val be = EventTables.blockEvents(raw)
    assert(be.count() === Fixture.blockEventRows)
    // empty blocks still emit begin-block events
    val emptyHeights = EventTables.blocks(raw).filter(col("is_empty")).select("height")
    assert(be.join(emptyHeights, be("block_height") === emptyHeights("height")).count() > 0L)
  }

  test("end_block_events: 2270465's real entries surface in the raw row") {
    // the wire key is `end_block_events` (BlockResultsResponseResult); the
    // fixture corpus has exactly one non-null instance — 2 events
    // (transfer, message) at height 2270465. A schema reading a key named
    // `end_block` parses nothing and silently nulls these (the pre-round-9
    // behavior this pins against).
    val row = raw.filter(col("height") === 2270465L)
      .select(expr("transform(end_block_events, e -> e.type)").as("types"))
      .head()
    assert(row.getSeq[String](0) === Fixture.endBlockEventTypes)
    // all other heights in the range carry a null column, as on the wire
    assert(raw.filter(col("end_block_events").isNotNull).count() === 1L)
  }

  test("tx_errors: none in fixtures; synthetic code!=0 row extracted (E3)") {
    assert(EventTables.txErrors(raw).count() === Fixture.txErrors)
    // synthesize a failing tx by patching code, then expect one error row
    val patched = raw.withColumn("txs_results",
      transform(col("txs_results"), tx => tx.withField("code", lit("5"))))
    val errs = EventTables.txErrors(patched)
    assert(errs.count() > 0L)
    assert(errs.filter(col("code") =!= 5L).count() === 0L)
    assert(errs.filter(col("fee") < 0).count() === 0L)
  }

  test("attribute decoding: key decoded, value kept per toDecodedMap (F10)") {
    val be = EventTables.blockEvents(raw)
    val mint = be.filter(col("block_height") === 2270374L && col("event_type") === "mint")
      .select(col("attributes_decoded")).head().getMap[String, String](0)
    // keys are decoded ("bonded_ratio"), values stay base64 (reference
    // toDecodedMap semantics, models/Extensions.kt:188)
    assert(mint.contains("bonded_ratio"))
    assert(mint("amount") === Fixture.mintAmountB64)
    // fully decoded variant (toAttribute semantics)
    val full = be.filter(col("block_height") === 2270374L && col("event_type") === "mint")
      .select(BlockOps.attrsToDecodedMap(col("attributes"))).head()
      .getMap[String, String](0)
    assert(full("amount") === Fixture.mintAmount)
  }

  test("scalar fns: stripQuotes, b64, repeatDecode, hasAttribute (F7-F11)") {
    import spark.implicits._
    val df = Seq(
      ("\"quoted\"", "aGVsbG8="),        // "quoted", hello
      ("\"half", "bm90X2Jhc2U2NCE_!!")  // unbalanced quote, invalid b64
    ).toDF("q", "b")
    val out = df.select(
      BlockOps.stripQuotes($"q").as("sq"),
      BlockOps.b64ToUtf8($"b").as("dec"),
      BlockOps.repeatDecodeBase64($"b").as("rep")).collect()
    assert(out(0).getString(0) === "quoted")
    assert(out(0).getString(1) === "hello")
    assert(out(0).getString(2) === "hello")
    assert(out(1).getString(0) === "\"half")      // not both-quoted → unchanged
    assert(out(1).getString(1) === "bm90X2Jhc2U2NCE_!!") // invalid → original
    val attrs = Seq((Seq(("cmVjaXBpZW50", "dg==", false))))
      .toDF("attributes")
      .select(col("attributes").cast(
        org.apache.spark.sql.types.ArrayType(BlockSchemas.attribute)).as("attributes"))
    val has = attrs.select(
      BlockOps.hasAttribute(col("attributes"), lit("cmVjaXBpZW50")).as("enc"),
      BlockOps.hasDecodedAttribute(col("attributes"), lit("recipient")).as("dec"),
      BlockOps.hasDecodedAttribute(col("attributes"), lit("nope")).as("no")).head()
    assert(has.getBoolean(0) && has.getBoolean(1) && !has.getBoolean(2))
  }

  test("meta scan from blockchain pages matches full scan (S3/S11)") {
    val metas = FixtureSource.blockMetas(spark, T, From, To)
    assert(metas.count() === 100L)
    // num_txs from the cheap path equals size(block.data.txs) from the full path
    val full = EventTables.blocks(raw).select(col("height"), col("num_txs").as("full_num"))
    val joined = metas.join(full, "height")
    assert(joined.filter(col("num_txs") =!= col("full_num")).count() === 0L)
    // P4 pushdown-style pre-filter parity
    assert(metas.filter(col("num_txs") > 0).count() === 29L)
  }

  test("combined history+live = 106, dedup'd, provenance flags (S12-S14/T2)") {
    val combined = Fixture.raw(spark, From, Long.MaxValue)
    assert(combined.count() === 106L)
    assert(combined.filter(col("historical")).count() === 100L)
    assert(combined.filter(!col("historical")).count() === 6L)
    assert(combined.select("height").distinct().count() === 106L)
  }

  test("event filters keep matching blocks only (P2/P3)") {
    val withTransfer = EventTables.filterByEvents(raw, Seq("transfer"), Nil)
    val n = withTransfer.count()
    assert(n > 0L && n < 100L)
    // every kept block really contains the event type in its tx events
    val te = EventTables.txEvents(withTransfer)
    val heightsWith = te.filter(col("event_type") === "transfer")
      .select("block_height").distinct().count()
    assert(heightsWith === n)
    assert(EventTables.filterByEvents(raw, Seq("no_such_event"), Nil).count() === 0L)
    // 2270417/2270420 have no block_results fixture (left-join nulls) → 98
    assert(EventTables.filterByEvents(raw, Nil, Seq("mint")).count() === Fixture.blocksWithMintEvent)
    assert(EventTables.filterByEvents(raw, Nil, Nil).count() === 100L)
  }
}
