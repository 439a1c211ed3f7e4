package graft

import graft.blocks.{BlockOps, BlockSchemas, FixtureSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** The `blockfeed` file transport yields, row for row, what a plain Spark
  * read of the same corpus gives: a multiLine JSON read of `block/` and
  * `block_results/` left-joined per height, `historical` = at or below the
  * abci tip. The reference below shares only the schemas with the
  * connector's decode (`FileBlockClient` + `RowCodec`).
  */
class BlockFeedFileParitySpec extends AnyFunSuite {

  private val T = FixtureSource.DefaultTemplates
  private val From = 2270370L
  private lazy val spark: SparkSession = Session.builder("graft-test").getOrCreate()

  /** [[BlockSchemas.raw]] rows of heights [from, to] by Spark's JSON reader. */
  private def reference(from: Long, to: Long): DataFrame = {
    def json(sub: String, schema: StructType) =
      spark.read.schema(schema).option("multiLine", "true").json(s"$T/$sub")
    val b = json("block", BlockSchemas.blockResponse)
      .select(col("result.block").as("block"), col("result.block_id").as("block_id"))
      .withColumn("height", col("block.header.height").cast("long"))
      .filter(col("height").between(from, to))
    val r = json("block_results", BlockSchemas.blockResultsResponse)
      .select(col("result.height").cast("long").as("r_height"),
        col("result.txs_results").as("txs_results"),
        col("result.begin_block_events").as("begin_block_events"),
        col("result.end_block_events").as("end_block_events"))
    b.join(r, b("height") === r("r_height"), "left")
      .select(
        col("height"),
        BlockOps.blockTime(col("block.header.time")).as("time"),
        col("block.header.chain_id").as("chain_id"),
        size(coalesce(col("block.data.txs"), array())).as("num_txs"),
        (col("height") <= FixtureSource.currentHeight(T)).as("historical"),
        col("block"), col("block_id"),
        col("txs_results"), col("begin_block_events"), col("end_block_events"))
  }

  private def assertSameRows(feed: DataFrame, ref: DataFrame, n: Long): Unit = {
    assert(feed.columns.toSeq === BlockSchemas.raw.fieldNames.toSeq)
    assert(feed.count() === n)
    assert(ref.count() === n)
    assert(feed.exceptAll(ref).count() === 0L)
    assert(ref.exceptAll(feed).count() === 0L)
  }

  test("historical window: 100 rows, every column equal to the JSON-dir read") {
    assertSameRows(Fixture.raw(spark, From, 2270469L), reference(From, 2270469L), 100L)
  }

  test("unbounded read: history and live heights, 106 rows, 100 historical") {
    val feed = Fixture.raw(spark, From, Long.MaxValue)
    assertSameRows(feed, reference(From, Long.MaxValue), 106L)
    assert(feed.filter(col("historical")).count() === 100L)
  }
}
