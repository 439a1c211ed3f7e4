package graft.queries

import graft.{GQuery, QueryPack}
import graft.blocks._
import org.apache.spark.sql.functions._

/** Driver-facing queries over the reference's golden block fixtures — the
  * event-stream core exercised end-to-end through the engine (scan → merge →
  * explode → decode → filter → agg). Oracles run DuckDB's JSON reader over
  * the SAME template files, so these are genuinely independent recomputations
  * of the reference semantics (not rows-only smoke checks).
  *
  * `sfDir` is ignored: these operators' input is the block fixture corpus
  * (FIXTURES.md §A), not the synthetic star schema.
  */
object Blocks extends QueryPack {

  private val T = FixtureSource.DefaultTemplates
  private val From = 2270370L
  private val To = 2270469L
  private val MaxObj = "maximum_object_size=20000000, union_by_name=true"

  /** Inline `VALUES` rows for an oracle DuckDB cannot compute (f4, f13):
    * `golden` on the reference's golden corpus; on the committed chain, the
    * rows of its `manifest.json` list `field` — `tools/fixture_chain.py`
    * writes them and FixtureConsistencySpec checks them against
    * `tools/wire_oracle.py`'s independent parse of the chain's files.
    */
  private def oracleRows(golden: String, field: String): String =
    if (T == FixtureSource.ReferenceTemplates) golden
    else {
      import scala.jdk.CollectionConverters._
      val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$T/manifest.json"))
      manifest.path(field).elements().asScala.map { row =>
        row.elements().asScala.map { v =>
          if (v.isTextual) "'" + v.asText().replace("'", "''") + "'"
          else v.asText()
        }.mkString("(", ", ", ")")
      }.mkString(",\n        ")
    }

  val s1Scan = GQuery(
    "s1_block_scan",
    (s, _) => EventTables.blocks(FixtureSource.blocksRaw(s, T, From, To))
      .select("height", "chain_id", "time", "num_txs", "is_empty"),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             result.block.header.chain_id AS chain_id,
             CAST(result.block.header.time AS TIMESTAMP) AS time,
             len(COALESCE(result.block.data.txs, [])) AS num_txs,
             len(COALESCE(result.block.data.txs, [])) = 0 AS is_empty
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To"""))

  val e1TxEventsByType = GQuery(
    "e1_tx_events_by_type",
    (s, _) => EventTables.txEvents(FixtureSource.blocksRaw(s, T, From, To))
      .groupBy("event_type").agg(count(lit(1)).as("n_events")),
    Some(s"""
      WITH br AS (
        SELECT CAST(result.height AS BIGINT) AS height, result.txs_results AS txs
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), tx AS (SELECT unnest(txs) AS t FROM br WHERE txs IS NOT NULL),
      ev AS (SELECT unnest(t.events) AS e FROM tx)
      SELECT COALESCE(e.type, '') AS event_type, COUNT(*) AS n_events
      FROM ev GROUP BY 1"""))

  val e2BlockEventsByType = GQuery(
    "e2_block_events_by_type",
    (s, _) => EventTables.blockEvents(FixtureSource.blocksRaw(s, T, From, To))
      .groupBy("event_type").agg(count(lit(1)).as("n_events")),
    Some(s"""
      WITH br AS (
        SELECT CAST(result.height AS BIGINT) AS height,
               result.begin_block_events AS bev
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), ev AS (SELECT unnest(bev) AS e FROM br WHERE bev IS NOT NULL)
      SELECT COALESCE(e.type, '') AS event_type, COUNT(*) AS n_events
      FROM ev GROUP BY 1"""))

  /** F10 attribute decode down to a key histogram — exercises the base64 HOF
    * pipeline against DuckDB's independent from_base64.
    */
  val f10AttrKeys = GQuery(
    "f10_attr_key_histogram",
    (s, _) => EventTables.blockEvents(FixtureSource.blocksRaw(s, T, From, To))
      .select(explode(col("attributes")).as("a"))
      .select(BlockOps.b64ToUtf8(col("a.key")).as("attr_key"))
      .groupBy("attr_key").agg(count(lit(1)).as("n")),
    Some(s"""
      WITH br AS (
        SELECT result.begin_block_events AS bev
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), ev AS (SELECT unnest(bev) AS e FROM br WHERE bev IS NOT NULL),
      attr AS (SELECT unnest(e.attributes) AS a FROM ev)
      SELECT decode(from_base64(a.key)) AS attr_key, COUNT(*) AS n
      FROM attr GROUP BY 1"""))

  /** S12–S14 combined history+live with provenance flags, expressed from the
    * driver side as: all block heights, `historical` = ≤ the abci_info current
    * height (3028985 in the fixture template default).
    */
  val s13Combined = GQuery(
    "s13_combined_stream",
    (s, _) => EventTables.blocks(FixtureSource.combinedRaw(s, T, From))
      .select("height", "num_txs", "historical"),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             len(COALESCE(result.block.data.txs, [])) AS num_txs,
             CAST(result.block.header.height AS BIGINT) <= 3028985 AS historical
      FROM read_json_auto('$T/block/*.json', $MaxObj)"""))

  /** P2 event-type filter: blocks kept iff they contain a `transfer` tx
    * event (`EventStream.kt:132`).
    */
  val p2Filter = GQuery(
    "p2_filter_by_event_type",
    (s, _) => EventTables.blocks(
      EventTables.filterByEvents(
        FixtureSource.blocksRaw(s, T, From, To), Seq("transfer"), Nil))
      .select("height", "num_txs"),
    Some(s"""
      WITH br AS (
        SELECT CAST(result.height AS BIGINT) AS height, result.txs_results AS txs
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), tx AS (SELECT height, unnest(txs) AS t FROM br WHERE txs IS NOT NULL),
      ev AS (SELECT height, unnest(t.events) AS e FROM tx),
      keep AS (SELECT DISTINCT height FROM ev WHERE e.type = 'transfer')
      SELECT b.height,
             len(COALESCE(b2.result.block.data.txs, [])) AS num_txs
      FROM keep b
      JOIN read_json_auto('$T/block/*.json', $MaxObj) b2
        ON CAST(b2.result.block.header.height AS BIGINT) = b.height"""))

  /** S3: header/meta-only scan over the 20-height `blockchain` pages — the
    * cheap projection path (`HistoricalBlockHeaderFlow.kt:58`); in the DSv2
    * connector this is what column pruning switches to.
    */
  val s3MetaScan = GQuery(
    "s3_meta_scan",
    (s, _) => FixtureSource.blockMetas(s, T, From, To)
      .select("height", "chain_id", "num_txs", "block_size", "block_hash"),
    Some(s"""
      WITH m AS (SELECT unnest(result.block_metas) AS meta
        FROM read_json_auto('$T/blockchain/*.json', $MaxObj))
      SELECT DISTINCT CAST(meta.header.height AS BIGINT) AS height,
             meta.header.chain_id AS chain_id,
             CAST(meta.num_txs AS INT) AS num_txs,
             CAST(meta.block_size AS BIGINT) AS block_size,
             meta.block_id.hash AS block_hash
      FROM m
      WHERE CAST(meta.header.height AS BIGINT) BETWEEN $From AND $To"""))

  /** P1: `filterNonEmptyIfSet` — 29 of the 100 historical fixture blocks
    * carry txs (reference ground truth `EXPECTED_NONEMPTY_BLOCKS`,
    * `testFixtures/.../utils/Constants.kt:12–36`).
    */
  val p1NonEmpty = GQuery(
    "p1_skip_empty_blocks",
    (s, _) => EventTables.blocks(
      EventTables.filterNonEmpty(
        FixtureSource.blocksRaw(s, T, From, To), skipEmpty = true))
      .select("height", "num_txs"),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             len(COALESCE(result.block.data.txs, [])) AS num_txs
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To
        AND len(COALESCE(result.block.data.txs, [])) > 0"""))

  /** E3: tx_errors (`txErroredEvents`, `models/Extensions.kt:108`) — the
    * fixture corpus has zero failed txs, and the oracle independently
    * confirms the empty result; value-level semantics (defaults, fee ?: 0)
    * are covered on synthetic raws in BlockCoreSpec.
    */
  val e3TxErrors = GQuery(
    "e3_tx_errors",
    (s, _) => EventTables.txErrors(FixtureSource.blocksRaw(s, T, From, To))
      .select("block_height", "code", "info"),
    Some(s"""
      WITH br AS (
        SELECT CAST(result.height AS BIGINT) AS height, result.txs_results AS txs
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), tx AS (SELECT height, unnest(txs) AS t FROM br WHERE txs IS NOT NULL)
      SELECT height AS block_height, CAST(t.code AS BIGINT) AS code,
             COALESCE(t.log, '') AS info
      FROM tx WHERE COALESCE(t.code, 0) != 0"""))

  /** F3/F4: tx-hash derivation `upper(sha256(unbase64(tx)))`
    * (`models/Extensions.kt:35,57`). Rows-only: DuckDB 1.0 cannot sha256 a
    * BLOB. Re-verified against the driver's DuckDB 1.0.0 (2026-08-13):
    * `sha256(from_base64('...'))` fails with "Binder Error: No function
    * matches sha256(BLOB)" — the function only takes VARCHAR, and arbitrary
    * tx bytes are not valid UTF-8 so no lossless VARCHAR path exists
    * (`decode()` throws on invalid UTF-8; the implicit-cast escaped rendering
    * hashes the wrong preimage). The oracle is therefore an inline VALUES
    * table generated by `tools/wire_oracle.py` — an independent from-scratch
    * Python parse of the same fixture JSON (b64decode + hashlib.sha256),
    * sharing no code with BlockOps — so the driver hash-compares all 144
    * digests; BlockCoreSpec additionally pins the 2270408/0 constant. On
    * the committed chain the rows are its manifest's ([[oracleRows]]).
    */
  val f4TxHashes = GQuery(
    "f4_tx_hashes",
    (s, _) => FixtureSource.blocksRaw(s, T, From, To)
      .filter(size(coalesce(col("block.data.txs"), array())) > 0)
      .select(
        col("height"),
        posexplode(BlockOps.txHashes(col("block.data.txs")))
          .as(Seq("tx_index", "tx_hash"))),
    Some(s"""
      SELECT CAST(height AS BIGINT) AS height,
             CAST(tx_index AS INT) AS tx_index, tx_hash
      FROM (VALUES
        ${oracleRows(GoldenTxHashes, "tx_hashes")}) AS t(height, tx_index, tx_hash)"""))

  /** f4's oracle rows on the golden corpus, from `tools/wire_oracle.py`. */
  private lazy val GoldenTxHashes = """
        (2270408, 0, 'B2FB7800D823CF72AF3C6EAFF21ED61ED2D1709489F089EFB88D5A15F4E60E21'),
        (2270408, 1, '1B5FBFB19F1B1C33A4AFE01BA6A2B56191CF0157FC583CD1BC366D3F817DA9BB'),
        (2270408, 2, '740E6CE16FCD8336BDB649F4B08F824CA04A83BDF6260C5B2337254E5CE17EBE'),
        (2270408, 3, 'FEFEE863DF83DCACD2ED9CD90E499125ABDA44748820412A924506F11A434715'),
        (2270417, 0, 'A42AAE8BF7A38AC26A0828C6662985B7082873F1B04CB1C1246BD830D1CBC772'),
        (2270417, 1, '1F613FE36E96C83A9FA4164CC03484161DA8101E331F847C2AA28A9127E414D4'),
        (2270417, 2, '0B2C391223C7704521597BCAFD1E636A32603EEF7F9364A4C479FBB7441C086E'),
        (2270417, 3, 'A2AF533E73FE0657E7DF84FDAA2DE4BEA017061499F9FDDD7153854B94808BF5'),
        (2270417, 4, 'DE9663BDF683F808F2991BC8F6A8108C54DC28BC4DF910EADA2DDEBBA2DBCA7C'),
        (2270417, 5, '22407D64563118DED04251759A89750AFB1BEE1707B6A9089A46B8DA0C9106E5'),
        (2270417, 6, 'FDD7198E09B24E7350EF05AEBCABC64F60C6887A8E698E6D98220021BE085F31'),
        (2270417, 7, '6773F3209CD9387508E34730B12237B6DE30BA627F1B80CF5E68A90B0656246F'),
        (2270417, 8, '869E5E76D26DA9EC0FB3E51C44370E1882EE7BD4165C7FDA33934269F5144D25'),
        (2270417, 9, '87FA9792EAEDB85DA8370F175D6AC4DE7E08B0B307486B555B8CAAFDFDAE80EE'),
        (2270417, 10, '506405F4AC5D9C553530324765ACD8B17F696C05C8D743648B5478E1837C524B'),
        (2270417, 11, 'F44C2E2AF6740D48B467A04FDBC7222DC0D165E9C57DB9BC147848E3675AF09E'),
        (2270417, 12, '68151CA99C7BCD4C0FFFC4EDEA0A55760B44004F0B60791E707C238079B833C0'),
        (2270417, 13, 'EC2ABAE6E1C869260D498FB3F99E5D730994AB5069530EA70BF2C20DE7D17AF9'),
        (2270417, 14, '676DC2452A89F00B5B6795E774C040C74F9A5E481193D997568F3E907C51B39F'),
        (2270417, 15, '7D56D8F4BFA14E8354687E5D4EBDBE2EB5D2554A6B3C941AE70361E8F05A8FCC'),
        (2270417, 16, '755F89AC559B50008D0F48B06E37EA5855C9AD3FC2D5D475C03259541D795ED2'),
        (2270417, 17, 'EB365B2B469527B8BC447B4C510ED9329CAE1DA338EFBA525F6AEAFEA266AD0E'),
        (2270417, 18, '8C98C467BDC93CB3EBDC3904DC7FD43825BA78AB7E83237FD59441B27F4B5668'),
        (2270417, 19, 'ACE227654DEB5234272D977BEC4ACA8882FE6C2A5372CCD81305F17A69B9641A'),
        (2270417, 20, 'D456E1EA436D83CE3C172C916E6260A8183FE57D7C63EBAF3A080AE9A61B37AF'),
        (2270417, 21, '2174AB9FD5768318B983D1EF465D43D0C4DAAC32328D289A2F91D81BFA55EFD9'),
        (2270417, 22, 'FAE0F6D2EF7A30425E04892D5C022CC7B2D4F4E1075C72C8D4B4821BF686A52D'),
        (2270417, 23, 'C8C585B5A6B0A39CE0F26BA31514E95FD1686ABA913CC45A432243A17D79EB8F'),
        (2270417, 24, 'CF4BAA20F25A621436D8E6981DD55168404549FAD1BBEFEE7BCFDC9B6EF1F6A6'),
        (2270417, 25, '2A6533D3F1F0719B42C1D953F6A8BBDA1FC372F236AF07B21E51B77D95364240'),
        (2270417, 26, '52DCB935F94B14B1E2EF86A5A096CF92F8DB83327584CD39B6016AD4F29A80A9'),
        (2270420, 0, 'FB37CE99A816EABFC454D33CE080DBFA7DAEEADBF58BDFFB4CFA569912F04CD0'),
        (2270420, 1, 'F12848B66DEC5497201AB35150E9214B49CECBF88E53CAFAB458B7DAD6716678'),
        (2270420, 2, '13B3E198F78F2129CD7A3B1BF29B895A6C6EF6497DE2093F4B58AF890CC24D13'),
        (2270420, 3, 'DE57B06D421AF83ECA486B951D0112772BA20E92F87948A30CFEB435D76CC592'),
        (2270420, 4, '0E5F714497E809C40D57DD396F5D9F95ACEB2E73EAD0D54BDD3AAFC5FAB9DFCF'),
        (2270420, 5, 'CCF94BE93E65FA7BFD41A2066E6E68BA4D5D0095AAD42487CADD0C4B63E71C29'),
        (2270420, 6, 'E803BE650160F6439B29F178998BE380929748973350E02D04209DAFCEF5A46D'),
        (2270420, 7, '66A425AABEF283D9DC3A78AD073BA15ACBC66883AEBA5B91C6D089593C076746'),
        (2270420, 8, '804EBD204C1A09ECE83B746AF42AEC64748AEFBE9DDDFACC87A4106A204DC20E'),
        (2270420, 9, '864E5A42F8F7FB1DEDFD3A26E3E54EFF12297F3FCBF92937F110E5259ED2B5AD'),
        (2270420, 10, 'CB56DF41E44755EC59F3B696D2435404BA85C46DD90CA0105D86362280D3A50D'),
        (2270420, 11, 'D9AEC161A80F2D6B5FF8037D7614171D983B2A7AA4CBBD5785B1F02345A1A141'),
        (2270420, 12, 'F4D09B9515AAEB2392AC188AD426116CDA0DD5E857BC048338C7A4F8BD20FE0F'),
        (2270420, 13, '92A0353E76A334943DE37A50B23D781E9306A1D3E13CFB9D3699F4E261DD2946'),
        (2270420, 14, '81D0EF52DAE14B5CC1A7538B3B146365B5373E7BC31EDFD845CF32E295191F9B'),
        (2270420, 15, 'B340D829A069FC0B85CA420D392F5A3F5A0A5A57F859A623489B9CE8252CFAAA'),
        (2270420, 16, '587C9A00D316C01ECA44039771CA24F8F52B5D9A8713E93238F92228D831EF8C'),
        (2270420, 17, 'AB7B35DE5E2445DD03FB0F0DA4F51CF9829CB0B0005C44AFFCC6A2AC7B4D37D1'),
        (2270420, 18, 'F901ACCF63B38835D2724866AB1925A200F581610731BFA8913F37A1A042F9CB'),
        (2270420, 19, 'AAFD78C37020E98A6CE01D22F9385FA19AA0255B9AD90011FFC60777E87DFD5D'),
        (2270420, 20, '652108BB15FB43B28BFDC40A6E71805F3B4CFEBEF2F4C11BFA02358FBFEA690B'),
        (2270420, 21, '6529AE76BB0C0310AE3E867A78D77A93F0BA6B4BCF410584019ED036887A5CC1'),
        (2270420, 22, '2C0081323CAC5EE015633C36AA6121D17596EF1C9B6B2219C3C43C83FDDA59F7'),
        (2270420, 23, '3F35CEC25F1F6ACC388B28FE50A8B399CB378C58553EA32B6CD6BD14A3F7AA78'),
        (2270420, 24, 'BC84FDFCDFBDE8B7F243562A0701969FBF853430BE60503679AA27E4FE3141FC'),
        (2270420, 25, 'ED9DF4B11C6CC7C37E2AE5F672D0C373FD12E19587910EB7131777497F4EA844'),
        (2270420, 26, '011E715F2245E35037808FDA53F29AECFB4CA251D53FE687E5A5399A064D9748'),
        (2270420, 27, '07F4A68F4CFEF41213DD77D76F131435C51F89F3CE7A1A9C9377FCD4CCEAE7E1'),
        (2270420, 28, '721F8093C933F48E3138B255668B68D1B615FAEE74AE06B8F29B6DA0170F6C97'),
        (2270420, 29, '786C1B960C6C200BD16F8448697BB91407BFF8C0194780CAF859F4AC5B2AAB3E'),
        (2270420, 30, '875F260AC2B50C6D29BEBB4AC935D7EE1DA0AC665B21F60962EF0DA29B284AA5'),
        (2270420, 31, '9259A053957AAE17D74096C1B4C3A74CD1445CA7D38574AE15E0375D42CD7CDB'),
        (2270420, 32, '7ECD39B12516834F0B65A00B3540851CDA68BC243174CA50F1429634025DA5DB'),
        (2270420, 33, '852B1663D3303A0AE1695B27DFB8405A65B414F0FE5E355300FCA3BDAD7D5D20'),
        (2270420, 34, '845F7CA20301F75AD311D9D02BB681F7736F4DF0340E1CA46DBA3B3D308CFC1A'),
        (2270420, 35, '9571EAA8BE725B492339BD5ACBCB1B56048F2265720CA2FBF00969AD2FC0E33F'),
        (2270420, 36, '56309FE0BDFC37BD11FA587BFD7D321BF66D2F55A8AD66E045A7BF27554B3B6C'),
        (2270420, 37, 'AF902D79BC4609F802FC01B25CB8A2AEA034A3AC04947CD8644B643BCED48E17'),
        (2270420, 38, 'FBF624F50EA190AB3A63B22DDA36E1EF76A9222EBB6BA4F7AF23416B37B56446'),
        (2270420, 39, '83A665AC0560CA6889AB37DB9E3E64C5B90B77FFB5D31B7FD71C67E604041BE3'),
        (2270420, 40, 'F544B1F224FA90769CBFFBC26D517910F36125998538CC9CE8BDFC3E8454DD69'),
        (2270420, 41, '2D2377DDBF3942A0967287625D6931E70F70AD7005C125FF569BB8C5A083617D'),
        (2270422, 0, 'CB189FEC3A599043F3C51B2D2542C77FDC7A3BF434FDF6F0BDA83A2A10FB1473'),
        (2270422, 1, '5B57DB160F18684E095452F6BFE3BCDF8ADA7BF747998236A44EEE365BDB02C6'),
        (2270422, 2, '2BCF1CF61BFC76A725D3FF337DB06C8ECD4911C9EFF8DE2E4FD550F3A35572EE'),
        (2270422, 3, '9E5FE38AD8E22F113AD598A6061031930B5DE541A72EBABF35EC0A6F19E9E5FF'),
        (2270422, 4, 'E8BBD9A978BB2197C7344C477A6AFF8FC27628A97DC62ED52EAA9ADD468716BE'),
        (2270422, 5, '046A763FDF6730303523E2603A74F76BBF6992DA7879AD6A4C79041CDC37E3AD'),
        (2270422, 6, 'E92976638124E7D26E1113FF840D6BE7D12012CD97CEE755F09D6F2791553013'),
        (2270422, 7, '5DC3102E114CAAE468280DF77E372EBEBD9B63ABDC8FE60FA4E7ABEC14A47D69'),
        (2270423, 0, '0F690CC25042E0196D13083A116EC040958293967B2093013C8B207EFD09B5B9'),
        (2270423, 1, 'B5A8A0820E77A1936624E95D722D02FFC5C46A87BE2B5E0F858D316AAE1AC790'),
        (2270423, 2, 'C4C98BD939A14D45E97BF9036FFB8827A4D0D95911E2BA6EEEAF31ED79CE5052'),
        (2270423, 3, '11650C96D320B63DD97310BBE50807139C890D26453F9B0E6E3B85DB26AE7F57'),
        (2270423, 4, 'FBE63D7DE49BFBCD37E12C635B5E94813EFCA32FB1A87A9A4579E831089E9647'),
        (2270423, 5, '5AC1EEA1351AEE1AD848AE69D993C5E839702E135FD53CBE29F5CF18B585F8EC'),
        (2270423, 6, '635EC3ADAB7796D455176554B838E3D3E9CD4C86AF7DE5AB7382E55FC502731C'),
        (2270423, 7, 'FA91F32D704F1242ADFA5524610C1BDC158FC863002024DE4B9A3F0934C1B364'),
        (2270423, 8, 'F9F42AB2DCEB5C2A5A832F52BE8FB11533047DF9F6BCED0D8E79FA5C25CC1367'),
        (2270423, 9, 'E41B4B2DBAAFDE341C9AE5A3D14BF5969E35219CD3BD668B4A0FC4D1538FB7D0'),
        (2270425, 0, 'A48F0BF8019C04B7AED6FD55B0FCA513E05E2982D0437D173D75C3B7C85EC7AD'),
        (2270425, 1, 'C1237EE94E5D05506E8B98E1A68BA3F7FD94E8714FE06BD2CDA3998D4F43D0E9'),
        (2270425, 2, 'C5F86E3381B73FFC794C4F7296EF6A1F529B48A025F444232F335440BCE0D7CF'),
        (2270425, 3, 'C0E3E8C0684E083C5490445DAF870D89EE4ADD10285B4E9EE7FD8008B25891E5'),
        (2270442, 0, 'CD026AAA2CE065AFB825D53C658F70F0A253D527AD581ECE8F5B413FC11DD4C1'),
        (2270442, 1, 'BAB3842F82C02B810B7E302C2AB1E5709AC430CBF7D4FC881098E26B46622C8B'),
        (2270442, 2, '8F908C2D16A79519D4DA83B0595C8ADB9612682AEF45E8FB9C5368FDA7588C57'),
        (2270443, 0, 'F76FA5513EA5B8385E078980B0E9690DA10EBB5EA5CA1DFEF483DBAB6B3B6CCB'),
        (2270443, 1, '1626A0EDFD9DE2FC962BB477101574E69A64D32F158EA2DCFFB3ED1F73965DC4'),
        (2270444, 0, 'E1AB50B4DD4ECC3F497679DA9D2F2018BDB341FBC271451C50E0FB2343E33AEA'),
        (2270444, 1, 'A2AFC046C5F29940F2D506648B113EACA1174E924CB4B25E4FBA89BBC9D1F66B'),
        (2270444, 2, 'F7C5C38349A6501D3722C0FECD4786770F7F09D298DFBA832D6EF157CF9ADEFF'),
        (2270445, 0, 'C3FBA277B8D7CEB2FD97770A1931C86B92B5E438ED7DF89F74B8629078C3FAC8'),
        (2270445, 1, 'F55FB4CD65FDA9307389218B845C62A73749644FE470EFA575206AF9AFBA1035'),
        (2270445, 2, '3E640537B9E91C157AE5708ADDF3EC854CD013BD0B5D5763165CA19F88DB078F'),
        (2270446, 0, '50CEDA7AF8A1E0D56645012792960B0A6587CF7AD546D3399891ADAE53AC47E7'),
        (2270446, 1, '78A925FD55122BBCA1A5F6096FBEA554CD22CA41905FD6DD3F26220F31A7DB03'),
        (2270446, 2, 'B49C0326114179E3A37CE1CBCCC60799D0F9F9A39ABC7B12CB8D8C5787C32E44'),
        (2270448, 0, 'F97EAFD460F5B0D2248E858D132462C93EFF82B4F51193A0376DE6D53ACDDE95'),
        (2270448, 1, '09021CDA162497041379C1EF6EFB92E0F08EE2FCCC060C9F68792A112F1CB665'),
        (2270449, 0, '2DDEAACAB1816F4B24646279C39D3F9BE9DE3F8D60ECDC66E74CAD220A05AD47'),
        (2270451, 0, '42FC95048FFDE1BF226C49610EDA9D021C287A3FC9D7A9792224C0EF9FECBC44'),
        (2270452, 0, 'A378009954EABB0C5CD616BF6727B8628DE24FF9833487214D54776CDDDE6095'),
        (2270452, 1, '340465A8CAF98B394D63D7392D5DD2E3CB9B7AECB9F49193C484060010A769DD'),
        (2270453, 0, 'A128334AA8D858AAD9064E68A201EEA10A43905DF0291167B71500FDEBC27599'),
        (2270453, 1, '04E1211BEE5B6A70149D7A5F43A365C814C3B7C44CD95E151A630DD56A86981A'),
        (2270453, 2, 'C6C75E8BB0DCEDE69A41473E6C37D7E4BFBE3C5F2910329813B2EE35197E4C02'),
        (2270453, 3, '2BF6F881E5A0A948A551FCEDC5490654522CFFBE408E269D192324DBAEA3357E'),
        (2270454, 0, '7D4FD555CF0DD671C1AA22025894E29AA2FA3568FAA8C0122343B51C41028B05'),
        (2270454, 1, '1865525B5273460DBA427D4EBC9C09EF3AFED3D0D7F015384D962983D6B42A82'),
        (2270455, 0, '1052C24F2DA9A5FC433C2920E5B6AD151019A13BB3DA46A6E751870FBA01BEA0'),
        (2270456, 0, '8D880188D983B85CB4DABB40C4F55A06ECE9BF85A03C6E380B6A75ED573D38B4'),
        (2270456, 1, 'D7CA4C23EEE6D077CA55068BD95EB8390E821DC15891382C76E55BEB2EE014F7'),
        (2270456, 2, 'F658EF5640FFEC992DD2683185DC2EBACEDDB584D26C3A2E62F2354B79314D4D'),
        (2270458, 0, 'C21D03492D3FE0AA8D35B38FDB632C477650130C0CA824066B6A587A6E66AE11'),
        (2270459, 0, '8AC8C6B81D78C8367BE566843398F790E25E5F790071D91414AFBCB94DB38EAC'),
        (2270459, 1, 'EAFECB9B301B4662B86B254EBF3C2DF0E1DDF863EE1EC5F9A4F34CEB1B6A58EF'),
        (2270459, 2, 'BB0B743015D8B5EE1859F6B3C0F87054B8B0A0DB792B143EF50152200A996619'),
        (2270459, 3, '51895E3DE06A7B5566DDE9EEE20B6444E54499DE78AB19AF7BF5274207FBAE7A'),
        (2270460, 0, '26B0D09627EC5DCB2402F1EE0C62BF958994D1D085A44F58E56F6F9FD606A9D1'),
        (2270460, 1, '8E59543A3EF3F77BB0DA4CF33181A9391973FB0D7B418D498109A258B4D70F74'),
        (2270461, 0, '1FDC1DC0DF99FF125947827D52194DE0D36336FAE0478B92F32E4E519AA516FC'),
        (2270463, 0, '6371AE93F1C50F239A7112C63C9F8A961543C6E6DF9A50ADDB1E323483093BFB'),
        (2270464, 0, '1B0FF9A4176915ADBFAA611490F668A499C1C16A77EA5BE72CF0232534501820'),
        (2270464, 1, '173829CD169D9EF265B32DC09B6AB1636FAFE69305BBBB4D114F954A1156ABC0'),
        (2270464, 2, '27F112FCF6C1A7D9301AA6322B5E43821D5FA9F0C6C171943BD5B8488DFB79E6'),
        (2270465, 0, '92F43A4F3B0FA5236F630A65EDADC24D8D54406BB4EFA163F69DB47EFCB5D5AC'),
        (2270465, 1, '64BB88AC8D81AA93A266939AF7C2ECAE3DA8717D4242B499D3180A63CBBC685F'),
        (2270465, 2, '6AB0E4A8934F4F38B8463BA121975C0EE4E3277EAA4BC1C4F75BDF8077D77D7F'),
        (2270465, 3, 'F71C70C197671D189461B429540FCB4E699D7FD139D17D537FF3C83F24A9CE68'),
        (2270466, 0, 'C6B1F4DCB7626BF4E96207878CFB92B02135385829061FB348139C42217751CD'),
        (2270468, 0, 'EBD4F06FCE207D72B83CCE73F5EC88D2DC68E927E0C9B2BBB98222CEF73386A4'),
        (2270469, 0, '56E68014C3C196B67B5A3C628FC1BAD297120CF0A8964180FD77F08B26224D1B')"""

  /** P6/K3: console observer's every-nth sampling
    * (`ConsoleObserver.kt:41`) as a pure filter.
    */
  val p6Nth = GQuery(
    "p6_nth_block_sample",
    (s, _) => EventTables.blocks(FixtureSource.blocksRaw(s, T, From, To))
      .filter(col("height") % 10 === 0)
      .select("height", "num_txs"),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             len(COALESCE(result.block.data.txs, [])) AS num_txs
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To
        AND CAST(result.block.header.height AS BIGINT) % 10 = 0"""))

  /** F13 protobuf fee decode — DuckDB cannot parse the protobuf tx body,
    * so the oracle is an inline VALUES table generated by
    * `tools/wire_oracle.py`'s independent Python wire walk (varint/tag
    * decode written from the protobuf wire spec, no code shared with
    * ProtoMini), aggregated per denom in Python; BlockCoreSpec additionally
    * pins the 2270408/0 fee constant. The input domain is the 75 txs that
    * HAVE results (the fixture corpus omits txs_results for 2270417 and
    * 2270420), mirrored in the generator by walking /block_results for
    * indices and /block for bytes. `total_fee` is BIGINT on both sides —
    * fees are integer nhash and the 75-tx oracle-domain total
    * (577,601,383,530 ≈ 5.8e11) is far inside int64, which sidesteps
    * decimal-dtype hash ambiguity at the gate. On the committed chain the
    * row is its manifest's ([[oracleRows]]).
    */
  val f13Fees = GQuery(
    "f13_tx_fees_by_denom",
    (s, _) => EventTables.txs(FixtureSource.blocksRaw(s, T, From, To))
      .select(col("height"), col("tx_index"), col("tx_meta"))
      .distinct()
      .groupBy(col("tx_meta.feeDenom").as("denom"))
      .agg(
        sum(col("tx_meta.feeAmount").cast("decimal(38,0)"))
          .cast("long").as("total_fee"),
        count(lit(1)).as("n_txs")),
    Some(s"""
      SELECT denom, CAST(total_fee AS BIGINT) AS total_fee,
             CAST(n_txs AS BIGINT) AS n_txs
      FROM (VALUES
        ${oracleRows("('nhash', 577601383530, 75)", "fees_by_denom")})
        AS t(denom, total_fee, n_txs)"""))

  // === the same semantics THROUGH the DSv2 connector ==================
  // These put the blockfeed connector's batch machinery — partition
  // planning, height pushdown, meta-mode column pruning, the executor-side
  // readers — on the driver's oracle gate, not only on specs.

  private def feed(s: org.apache.spark.sql.SparkSession,
                   opts: (String, String)*): org.apache.spark.sql.DataFrame = {
    val r = s.read.format("blockfeed").option("path", T)
    opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** S1/S3 via the connector: the meta-safe projection flips the scan to the
    * cheap 20-height `/blockchain` page path (column pruning, §4).
    */
  val s1Connector = GQuery(
    "s1b_connector_scan",
    (s, _) => feed(s, "from" -> From.toString, "to" -> To.toString)
      .select("height", "chain_id", "num_txs"),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             result.block.header.chain_id AS chain_id,
             len(COALESCE(result.block.data.txs, [])) AS num_txs
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT) BETWEEN $From AND $To"""))

  /** S2 via the connector: explicit height list planned as its own
    * partitions (`List<Long>.toBlockData`, `HistoricalBlockFlow.kt:52`).
    */
  val s2HeightList = GQuery(
    "s2_height_list_scan",
    (s, _) => feed(s, "heights" -> s"$From,2270400,2270444,$To")
      .select("height", "num_txs"),
    Some(s"""
      SELECT CAST(result.block.header.height AS BIGINT) AS height,
             len(COALESCE(result.block.data.txs, [])) AS num_txs
      FROM read_json_auto('$T/block/*.json', $MaxObj)
      WHERE CAST(result.block.header.height AS BIGINT)
            IN ($From, 2270400, 2270444, $To)"""))

  /** E1 via the connector: full-mode per-height fetch feeding the event
    * explode — the reference's end-to-end scan→decode→explode→agg shape.
    */
  val e1Connector = GQuery(
    "e1b_connector_tx_events",
    // heightsPerPartition=8 → ~13 parallel fetch tasks for the 100-height
    // range (the default 128 would plan ONE task here; the reference's
    // concurrency×20 slicing makes the same trade, HistoricalBlockHeaderFlow.kt:73)
    (s, _) => EventTables.txEvents(
        feed(s, "from" -> From.toString, "to" -> To.toString,
          "heightsPerPartition" -> "8"))
      .groupBy("event_type").agg(count(lit(1)).as("n_events")),
    Some(s"""
      WITH br AS (
        SELECT CAST(result.height AS BIGINT) AS height, result.txs_results AS txs
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), tx AS (SELECT unnest(txs) AS t FROM br WHERE txs IS NOT NULL),
      ev AS (SELECT unnest(t.events) AS e FROM tx)
      SELECT COALESCE(e.type, '') AS event_type, COUNT(*) AS n_events
      FROM ev GROUP BY 1"""))

  /** st6: the MICRO-BATCH connector path on the oracle gate. s1b gates
    * the batch scan; this drains the same ground truth through
    * `readStream.format("blockfeed")` — height-offset planning, admission
    * control (maxHeightsPerTrigger=40 splits the 100 heights into 3
    * micro-batches), executor partition readers, AvailableNow
    * termination — so the offset machinery itself must reproduce s1b's
    * rows exactly. Oracle: s1b's SQL verbatim (DuckDB over the same
    * golden templates).
    */
  val st6StreamConnector = GQuery(
    "st6_stream_connector_scan",
    (s, _) => StreamGate.drain(s,
      s.readStream.format("blockfeed").option("path", T)
        .option("from", From.toString).option("to", To.toString)
        .option("maxHeightsPerTrigger", "40").load()
        .select("height", "chain_id", "num_txs"),
      "st6_blocks", mode = "append"),
    s1Connector.oracle)

  /** st7: st6 under CHAOS — the same micro-batch drain but over the REAL
    * HTTP transport (StubRpcServer on loopback) with transient 503s
    * injected at two layers: `failNext(1)` hits the very first RPC (the
    * driver-side `currentHeight` bounds call — absorbed by the planning
    * client's new retry decorator), and `failOnceAtHeights` 503s the
    * first `/block` fetch of three mid-range heights (absorbed by the
    * executor readers' `RetryingBlockClient`). The projection computes
    * `num_txs` from the block payload instead of reading the meta column,
    * deliberately forcing mode=full so every height takes the per-height
    * RPC path the faults target. Exactly-once under retry means the
    * drained rows still hash-match s1b's oracle — no dropped height, no
    * double fetch surfacing twice, no partial row from a failed attempt.
    */
  val st7ChaosConnector = GQuery(
    "st7_stream_connector_chaos",
    (s, _) => {
      val stub = new graft.StubRpcServer(T)
      try {
        stub.failNext(1)
        stub.failOnceAtHeights(Seq(2270390L, 2270425L, 2270455L))
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString).option("to", To.toString)
            .option("maxHeightsPerTrigger", "40")
            // loopback chaos drill: real backoff MECHANICS, token waits
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"), col("chain_id"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs")),
          "st7_blocks", mode = "append")
        // fail LOUDLY if the chaos never engaged (e.g. a projection change
        // silently flipping the scan back to meta mode would skip every
        // /block request the faults target)
        require(stub.pendingHeightFaults == 0,
          s"st7 chaos did not engage: ${stub.pendingHeightFaults} armed height " +
            "faults were never consumed by a /block fetch")
        out
      } finally stub.stop()
    },
    s1Connector.oracle)

  /** st8: the WEBSOCKET tip path (S7–S9) on the oracle gate — the same
    * drain as st6 but with the `ws` option, so the offset path runs on
    * pushed-tip arithmetic (zero availability RPCs) instead of polling.
    * Bounded by `to` inside the historical range, the drained rows are a
    * pure function of the data REGARDLESS of push timing: whether the cap
    * comes from a pushed tip clamped to `to` or from the start-tip
    * fallback, both resolve to the same 100 heights — so the gate is
    * deterministic while the subscription machinery (RFC 6455 handshake,
    * NewBlock decode, tip monotonicity) really runs, which the post-drain
    * `require` pins. Push-tip ADVANCEMENT semantics (tips arriving
    * mid-stream) stay in WsBlockFeedSpec/BlockFeedSpec — they cannot be
    * made race-free under AvailableNow's start-time cap. Oracle: s1b's
    * SQL verbatim.
    */
  val st8WsConnector = GQuery(
    "st8_ws_connector_scan",
    (s, _) => {
      val rpc = new graft.StubRpcServer(T)
      val ws = new graft.StubWsServer
      try {
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", rpc.base)
            .option("ws", ws.url)
            .option("from", From.toString).option("to", To.toString)
            .option("maxHeightsPerTrigger", "40").load()
            .select("height", "chain_id", "num_txs"),
          "st8_blocks", mode = "append")
        require(ws.subscriptions >= 1,
          "st8 did not exercise the ws path: the connector never subscribed")
        out
      } finally { ws.stop(); rpc.stop() }
    },
    s1Connector.oracle)

  /** st9: the COMBINED history→live transition (S12–S14) through the
    * connector, on the gate — the reference's load-bearing semantic:
    * `combinedFlow` backfills to the tip captured at stream start, then
    * keeps consuming the live blocks above it, flagging provenance either
    * side of the boundary (`MultiplexFlow.kt:61`, decision table
    * `:88-92`; reference ground truth = 106 combined blocks,
    * `BlockDataFlowTest.kt:192-198`). The drain starts at the historical
    * floor with NO `to`: offset planning walks the stub node's dense
    * chain through the 100 historical slots AND the 6 live slots above
    * the start tip (`abci_info` = the boundary the stream captures at
    * construction; `/status` = the advanced live tip). Chain SLOT height
    * drives the offset log; each slot serves its node payload, so the
    * live rows surface the live blocks' own content heights (3126935+) —
    * exactly what a subscriber tailing a real node sees arrive next. The
    * `num_txs` projection reads the block payload rather than the
    * meta-safe column deliberately: full mode is the only honest path for
    * live slots, which have no `/blockchain` meta page yet. Oracle: s13's
    * combined SQL verbatim — 106 rows with the `historical` flip at the
    * captured tip. The post-drain `require` pins that all 6 live slots
    * really came over the wire.
    */
  val st9Combined = GQuery(
    "st9_combined_connector",
    (s, _) => {
      val stub = new graft.StubRpcServer(T)
      try {
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString) // no `to`: history, then live
            .option("maxHeightsPerTrigger", "40")
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs"),
              col("historical")),
          "st9_blocks", mode = "append")
        require(stub.blockServesIn(stub.liveFrom, stub.latest) >= 6,
          "st9 never fetched the live slots above the start tip")
        out
      } finally stub.stop()
    },
    s13Combined.oracle)

  /** st10: checkpointed kill/resume (T3) through the connector, on the
    * gate — the reference's `Checkpoint` contract (`Checkpoint.kt:6`;
    * resume consumption `EventStream.kt:257`): a restarted stream
    * continues from the last recorded height, it does not replay. Two
    * AvailableNow drains SHARE one checkpoint: run 1 stops at the
    * midpoint (`to` = 2270419 — the "kill"), run 2 re-opens the SAME
    * offset log with `to` = the full ceiling. The parquet sink's
    * manifest makes the on-disk union exactly-once; the gate hashes the
    * read-back against s1b's oracle — zero dupes, zero gaps across the
    * kill point. Two requires pin the semantics: run 2 must EXTEND run
    * 1's commit log (same batch ids plus new ones, not a restart from
    * 0), and — the load-bearing one — the stub must serve ZERO `/block`
    * fetches at or below the midpoint during run 2: resumption from the
    * offset log, not silent replay.
    */
  val st10Resume = GQuery(
    "st10_checkpoint_resume",
    (s, _) => {
      val stub = new graft.StubRpcServer(T)
      val tmp = java.nio.file.Files.createTempDirectory("graft-st10-")
      try {
        val ckpt = s"$tmp/ckpt"
        val outDir = s"$tmp/out"
        def drainTo(to: Long): Unit = {
          val q = s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString).option("to", to.toString)
            .option("maxHeightsPerTrigger", "20")
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"), col("chain_id"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs"))
            .writeStream.format("parquet")
            .option("path", outDir).option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          try {
            if (!q.awaitTermination(300000))
              sys.error("st10 drain did not finish in 300s")
          } finally q.stop()
        }
        def committedBatches: Set[Long] =
          Option(new java.io.File(s"$ckpt/commits").list())
            .map(_.toSet).getOrElse(Set.empty).flatMap(_.toLongOption)
        val mid = (From + To) / 2 // 2270419: the kill point
        drainTo(mid)
        val run1Batches = committedBatches
        val run1ServedBelowMid = stub.blockServesIn(From, mid)
        require(run1ServedBelowMid > 0, "st10 run 1 fetched nothing")
        drainTo(To)
        require(run1Batches.subsetOf(committedBatches) &&
            committedBatches.size > run1Batches.size,
          "st10 run 2 did not extend run 1's commit log")
        require(stub.blockServesIn(From, mid) == run1ServedBelowMid,
          "st10 run 2 replayed heights below the checkpoint instead of " +
            "resuming from the offset log")
        // Materialize the 100-row result off the sink files (eager
        // localCheckpoint cuts the lineage) so the staging tree can be
        // deleted below instead of leaking a temp dir per run.
        s.read.parquet(outDir).select("height", "chain_id", "num_txs")
          .localCheckpoint(true)
      } finally {
        stub.stop()
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(tmp).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    },
    s1Connector.oracle)

  /** st11: the gRPC TRANSPORT (S16) on the oracle gate — the reference's
    * `es-grpc` module (`flows/grpc/GrpcBlockFlow.kt:27`: poll the tip via
    * `getCurrentBlockHeight`, fetch each height via `getBlockAtHeight`)
    * re-expressed as the third `BlockClient` transport: the same micro-batch
    * drain as st6/st7/st8, but every offset-planning and block fetch crosses
    * a REAL loopback HTTP/2 + gRPC wire (netty codec both sides, hand-rolled
    * proto messages — `sources/grpc/`). The `num_txs` projection reads the
    * block payload, forcing full mode so all 100 heights take the
    * per-height `GetBlockByHeight` path the transport implements; the
    * post-drain `require` pins that they really were served over gRPC.
    * Oracle: s1b's SQL verbatim — transport-independence of the ground
    * truth is the whole point of the `BlockClient` seam.
    */
  val st11GrpcConnector = GQuery(
    "st11_grpc_connector_scan",
    (s, _) => {
      val stub = new graft.StubGrpcServer(T)
      try {
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString).option("to", To.toString)
            .option("maxHeightsPerTrigger", "40")
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"), col("chain_id"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs")),
          "st11_blocks", mode = "append")
        require(stub.blockServesIn(From, To) >= 100,
          "st11 did not fetch the 100 historical blocks over gRPC")
        out
      } finally stub.stop()
    },
    s1Connector.oracle)

  /** st12: the event columns over the gRPC transport — e1b's end-to-end
    * scan→decode→explode→agg through the connector's BATCH path, with both
    * per-height RPCs (`GetBlockByHeight` + the block-results service) on
    * the wire. The two `require`s pin that the projection really drove the
    * 2-RPC full mode (results-RPC elision must NOT have engaged — tx events
    * need `txs_results`). Oracle: e1's SQL verbatim.
    */
  val st12GrpcTxEvents = GQuery(
    "st12_grpc_tx_events",
    (s, _) => {
      val stub = new graft.StubGrpcServer(T)
      try {
        val out = EventTables.txEvents(
            s.read.format("blockfeed").option("path", stub.base)
              .option("from", From.toString).option("to", To.toString)
              .option("heightsPerPartition", "8")
              .option("retryBaseWaitMs", "25").load())
          .groupBy("event_type").agg(count(lit(1)).as("n_events"))
          // eager materialization: the requires below read the stub's
          // counters, and the stub stops in the finally
          .localCheckpoint(true)
        require(stub.blockServesIn(From, To) >= 100,
          "st12 did not fetch the 100 historical blocks over gRPC")
        // resultsRequested, not resultsServes: the gate's claim is that
        // the event projection forced the 2-RPC full mode (elision did NOT
        // engage), i.e. the reader ASKED per height — and the golden
        // window itself answers two of the 100 asks NOT_FOUND
        // (2270417/2270420 carry no block_results template; absent results
        // degrade to null event columns, the documented left-join parity)
        require(stub.resultsRequested >= 100,
          "st12 never exercised the gRPC block-results service: the " +
            "event projection should force the 2-RPC full mode")
        out
      } finally stub.stop()
    },
    e1Connector.oracle)

  /** st13: the begin/end split of the CometBFT ≥0.38 block-results layout
    * over the gRPC wire — the only layout a real node's BlockResultsService
    * serves (the service exists from 0.38 on), and the one every gRPC gate
    * (st11–st15) reads. The stub folds the corpus' begin/end lists into one
    * `finalize_block_events` list with the cosmos-sdk's `mode` markers and
    * adds the `validator_updates`/`app_hash` fields the engine never reads;
    * the client must reconstruct the 0.34 split from the markers, STRIP
    * them, and skip the unknown fields
    * ([[graft.sources.grpc.TendermintGrpcCodec]]'s block-results scaladoc
    * carries the routing rules). The gate is a per-(origin, type) census
    * over BOTH event lists with an attribute-count checksum: a misrouted
    * event flips an origin count, a leaked marker inflates `n_attrs` —
    * either breaks the hash against DuckDB reading the original split
    * templates.
    */
  val st13GrpcV038Events = GQuery(
    "st13_grpc_v038_block_events",
    (s, _) => {
      val stub = new graft.StubGrpcServer(T)
      try {
        // materialize ONE connector pass (localCheckpoint), then census the
        // two event lists off it — two lazy branches would re-fetch every
        // height over the wire per branch
        val raw = s.read.format("blockfeed").option("path", stub.base)
          .option("from", From.toString).option("to", To.toString)
          .option("heightsPerPartition", "8")
          .option("retryBaseWaitMs", "25").load()
          .select("height", "begin_block_events", "end_block_events")
          .localCheckpoint(true)
        // resultsRequested: proof the per-height ask happened (see st12's
        // note — two golden heights legitimately answer NOT_FOUND)
        require(stub.resultsRequested >= 100,
          "st13 never exercised the gRPC block-results service")
        def census(listCol: String, origin: String) = raw
          .select(explode(coalesce(col(listCol), array())).as("e"))
          .select(lit(origin).as("origin"),
            coalesce(col("e.type"), lit("")).as("event_type"),
            size(coalesce(col("e.attributes"), array())).cast("long").as("na"))
        census("begin_block_events", "begin")
          .unionAll(census("end_block_events", "end"))
          .groupBy("origin", "event_type")
          .agg(count(lit(1)).as("n_events"), sum(col("na")).as("n_attrs"))
      } finally stub.stop()
    },
    Some(s"""
      WITH br AS (
        SELECT CAST(result.height AS BIGINT) AS height,
               result.begin_block_events AS bev,
               result.end_block_events AS eev
        FROM read_json_auto('$T/block_results/*.json', $MaxObj)
        WHERE CAST(result.height AS BIGINT) BETWEEN $From AND $To
      ), ev AS (
        SELECT 'begin' AS origin, unnest(bev) AS e FROM br WHERE bev IS NOT NULL
        UNION ALL
        SELECT 'end' AS origin, unnest(eev) AS e FROM br WHERE eev IS NOT NULL
      )
      SELECT origin, COALESCE(e.type, '') AS event_type,
             COUNT(*) AS n_events,
             CAST(SUM(len(COALESCE(e.attributes, []))) AS BIGINT) AS n_attrs
      FROM ev GROUP BY 1, 2"""))

  /** st14: st7's chaos drill on the gRPC wire — the T4 retry contract is
    * transport-independent, so it must hold on the transport where
    * "transient" is a grpc-status, not an HTTP code: `failNext(1)` makes
    * the very first RPC (the driver-side `GetLatestBlock` bounds call)
    * answer UNAVAILABLE(14), and three mid-range heights answer
    * UNAVAILABLE on their first `GetBlockByHeight` before healing — the
    * status taxonomy maps all four to IOException, the planning and
    * executor retry decorators absorb them, and the drained rows must
    * still hash-match s1b's oracle: no dropped height, no double fetch
    * surfacing twice, no partial row. The payload-derived `num_txs`
    * projection forces full mode so every height takes the faulted RPC
    * path (the st7 rationale); the post-drain `require` proves the chaos
    * engaged.
    */
  val st14GrpcChaos = GQuery(
    "st14_grpc_connector_chaos",
    (s, _) => {
      val stub = new graft.StubGrpcServer(T)
      try {
        stub.failNext(1)
        stub.failOnceAtHeights(Seq(2270390L, 2270425L, 2270455L))
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString).option("to", To.toString)
            .option("maxHeightsPerTrigger", "40")
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"), col("chain_id"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs")),
          "st14_blocks", mode = "append")
        require(stub.pendingHeightFaults == 0,
          s"st14 chaos did not engage: ${stub.pendingHeightFaults} armed height " +
            "faults were never consumed by a block fetch")
        out
      } finally stub.stop()
    },
    s1Connector.oracle)

  /** st15: the COMBINED history→live transition OVER THE gRPC WIRE —
    * st9's load-bearing semantic (backfill to the tip captured at stream
    * start, keep consuming the live blocks above it, provenance flipped at
    * the boundary) on the transport where the tip is a single RPC that
    * returns a BLOCK, not a status document: the reference's
    * `GrpcBlockFlow.kt:27` (poll `getCurrentBlockHeight` → gap-fill →
    * fetch) composed with `MultiplexFlow.kt:61`. The stub models the
    * advancing chain IN TIME (`advanceTipAfterFirstPoll`): the connector's
    * stream-construction `GetLatestBlock` sees the historical ceiling —
    * that call IS the provenance boundary — and every per-trigger tip poll
    * after it sees the slot-mapped advanced tip, whose `header.height`
    * carries the chain slot the way a real chain's latest block does.
    * Offset planning then walks the 100 historical slots AND the 6 live
    * slots; each live slot serves its live payload, so rows surface the
    * live blocks' content heights (3126935+) with `historical = false`.
    * Oracle: s13's combined SQL verbatim — the same 106-row ground truth
    * as the HTTP-wire st9, which is the point: the transition semantic is
    * transport-independent. The requires pin that the tip really was
    * re-polled over gRPC (≥2 serves) and all 6 live slots crossed the wire.
    */
  val st15GrpcCombined = GQuery(
    "st15_grpc_combined",
    (s, _) => {
      val stub = new graft.StubGrpcServer(T, advanceTipAfterFirstPoll = true)
      try {
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString) // no `to`: history, then live
            .option("maxHeightsPerTrigger", "40")
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs"),
              col("historical")),
          "st15_blocks", mode = "append")
        require(stub.tipServes >= 2,
          "st15 never re-polled the gRPC tip past the stream-construction call")
        require(stub.blockServesIn(stub.liveFrom, stub.latest) >= 6,
          "st15 never fetched the live slots above the start tip over gRPC")
        out
      } finally stub.stop()
    },
    s13Combined.oracle)

  /** st16: CHAOS ON THE WEBSOCKET WIRE — T4's third transport. st7 proves
    * retry under HTTP 503s and st14 under grpc-status UNAVAILABLE; this
    * drill severs the ws SUBSCRIPTION mid-drain (a hard TCP drop of every
    * client connection, the node-bounce shape) and the drain must come out
    * identical: [[graft.sources.WsSubscription]]'s supervisor observes the
    * drop, re-dials, and re-sends the subscribe request (the reference's
    * `WebSocketFlow.kt:65` lifecycle with `Defaults.kt:50` backoff), while
    * the pushed-tip offset arithmetic keeps planning from the retained tip
    * state. The drained rows are a pure function of the bounded range (the
    * st8 determinism argument: with `to` inside history the cap resolves to
    * `to` whether tips arrive or not), so ANY kill timing must hash-match
    * s1b's oracle — which is exactly what makes a mid-drain kill gateable.
    * The killer thread waits for the first subscription, drops every
    * connection, then awaits the RE-subscription while the drain is still
    * running; the requires pin that the drop engaged (≥2 subscriptions =
    * the resubscribe really happened, engaged flag = it happened against a
    * live connection mid-stream, not before construction).
    */
  val st16WsChaos = GQuery(
    "st16_ws_connector_chaos",
    (s, _) => {
      val rpc = new graft.StubRpcServer(T)
      val ws = new graft.StubWsServer
      val chaosEngaged = new java.util.concurrent.atomic.AtomicBoolean(false)
      val drainDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val killer = new Thread(() => {
        // each wait gets its OWN generous deadline, measured from its start:
        // a single shared deadline clocked from before Spark query startup
        // would let a slow gate host burn the whole budget on construction
        // and spuriously fail the engage require. Both waits also exit as
        // soon as the drain is over — a closed subscription can never
        // (re)subscribe, so spinning out the deadline would only stall the
        // gate's own loud failure.
        def await(what: => Boolean, maxMillis: Long): Boolean = {
          val deadline = System.nanoTime() + maxMillis * 1000000L
          while (!what && !drainDone.get() && System.nanoTime() < deadline)
            Thread.sleep(5)
          what
        }
        // wait for the subscription to be LIVE (subscribe seen on an open
        // connection), then sever every client socket
        if (await(ws.subscriptions >= 1 && ws.connectionCount >= 1, 120000L)) {
          ws.dropAll()
          // hold the gate's chaos claim until the RESUBSCRIBE lands, while
          // the drain is still running
          if (await(ws.subscriptions >= 2, 120000L)) chaosEngaged.set(true)
        }
      }, "st16-ws-killer")
      killer.setDaemon(true)
      try {
        killer.start()
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", rpc.base)
            .option("ws", ws.url)
            .option("from", From.toString).option("to", To.toString)
            .option("maxHeightsPerTrigger", "40")
            .option("retryBaseWaitMs", "25").load()
            .select("height", "chain_id", "num_txs"),
          "st16_blocks", mode = "append")
        drainDone.set(true) // release the killer's waits before joining it
        killer.join(240000)
        require(chaosEngaged.get(),
          s"st16 chaos did not engage: ${ws.subscriptions} subscriptions " +
            s"(need a live drop + a resubscribe)")
        out
      } finally {
        // ALSO set on the failure path (idempotent): a drain that throws
        // must still release the killer, or its daemon thread busy-polls
        // the dead stubs for up to 4 minutes of load noise alongside
        // whatever query runs next in this JVM
        drainDone.set(true)
        ws.stop(); rpc.stop()
      }
    },
    s1Connector.oracle)

  /** st17: CHAOS AT THE HISTORY→LIVE HANDOVER ITSELF — the one T4 shape
    * st7/st14/st16 (retries inside bounded history) and st9/st15 (the clean
    * transition) left ungated. The reference re-subscribes from `currentFrom`
    * across the merge when the wire dies at the boundary
    * (`es-core/.../stream/flows/MultiplexFlow.kt:160`, `retryWhen` around the
    * history+live concat); this engine's claim is that the height-offset log
    * makes that recovery free — the boundary is just another offset. Make it
    * evidence: st9's combined drain (no `to`; 100 historical slots, then the
    * 6 live slots above the start tip), with the wire killed INSIDE the
    * trigger where provenance flips. With `maxHeightsPerTrigger = 40` the
    * flip trigger is the third micro-batch (slots 2270450–2270475: the last
    * 20 historical heights AND all 6 live slots), and `failOnceAtHeights` on
    * BOTH boundary slots — the last historical (`histTo`) and the first live
    * (`liveFrom`) — 503s the first `/block` fetch on each side of the flip:
    * deterministic chaos exactly at the handover, no timing thread. The
    * executor retry ladder absorbs both; the drain must still hash-match
    * s13's 106-row oracle with the provenance flip intact — no dropped
    * boundary height, no re-fetched row surfacing twice, no second
    * `historical=false` run. The requires pin that both faults engaged (each
    * boundary slot served ≥2 = faulted then retried) and that the flip
    * structure is exactly one live run of 6.
    */
  val st17HandoverChaos = GQuery(
    "st17_handover_chaos",
    (s, _) => {
      val stub = new graft.StubRpcServer(T)
      try {
        stub.failOnceAtHeights(Seq(stub.histTo, stub.liveFrom))
        val out = StreamGate.drain(s,
          s.readStream.format("blockfeed").option("path", stub.base)
            .option("from", From.toString) // no `to`: history, then live
            .option("maxHeightsPerTrigger", "40")
            .option("retryBaseWaitMs", "25").load()
            .select(col("height"),
              size(coalesce(col("block.data.txs"), array())).as("num_txs"),
              col("historical")),
          "st17_blocks", mode = "append")
        require(stub.pendingHeightFaults == 0,
          s"st17 chaos did not engage: ${stub.pendingHeightFaults} armed boundary " +
            "faults were never consumed by a /block fetch")
        require(stub.blockServesIn(stub.histTo, stub.histTo) >= 2 &&
            stub.blockServesIn(stub.liveFrom, stub.liveFrom) >= 2,
          "st17 boundary heights were not retried after their injected faults")
        // exactly ONE historical=false run: the 6 live rows and nothing else
        // (the memory sink is materialized — this inspection re-runs nothing)
        val live = out.filter(!col("historical")).count()
        require(live == 6L,
          s"st17 expected exactly the 6 live rows to flag historical=false, got $live")
        out
      } finally stub.stop()
    },
    s13Combined.oracle)

  override def queries: Seq[GQuery] =
    Seq(s1Scan, s3MetaScan, e1TxEventsByType, e2BlockEventsByType,
      e3TxErrors, f4TxHashes, f10AttrKeys, s13Combined, p1NonEmpty,
      p2Filter, p6Nth, f13Fees, s1Connector, s2HeightList, e1Connector,
      st6StreamConnector, st7ChaosConnector, st8WsConnector,
      st9Combined, st10Resume, st11GrpcConnector, st12GrpcTxEvents,
      st13GrpcV038Events, st14GrpcChaos, st15GrpcCombined, st16WsChaos,
      st17HandoverChaos)
}
