package graft.sinks

import graft.blocks.{BlockOps, BlockSchemas, ProtoMini}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sink layer (SURVEY §2.2 K1–K8): the per-block, sink-facing `StreamBlock`
  * record and the file / Kafka / console writers over it.
  *
  * Spark-first design:
  *   - the `StreamBlock` assembly (E6, `clients/BlockFetcher.kt:55`) is
  *     ZERO-shuffle: tx hashes, protobuf fee metadata, and the flattened
  *     event lists are all built with array HOFs inside one projection —
  *     one pass over the raw rows, no groupBy, no join. At 100 TB the sink
  *     stage adds no exchange to the plan.
  *   - sinks are `foreachBatch` functions; every K2 file is written by the
  *     `blockfiles` DSv2 writer ([[BlockFilesWriter]]: temp file hard-linked
  *     into place, existing files skipped like `FileOutput.kt:32`), so
  *     exactly-once comes from the offset log plus idempotent file naming.
  *   - sinks fan out from one batch DataFrame (K8, `Main.kt:104`) after a
  *     `persist()` so the upstream plan runs once.
  */
object BlockSinks {

  /** K2 path layout (`FileOutput.kt:26–32`): `<splay>/<height padded 10>.json`
    * where splay = first 4 hex chars of UPPER(sha256(height as string)).
    */
  def filePath(height: Column): Column =
    concat(
      substring(upper(sha2(height.cast("string").cast("binary"), 256)), 1, 4),
      lit("/"),
      lpad(height.cast("string"), 10, "0"),
      lit(".json"))

  /** Array-level protobuf tx-metadata decode: one UDF call per block (not per
    * tx) so it composes with the HOF pipeline below — UDFs cannot appear
    * inside `transform` lambdas, arrays of their results can.
    */
  private[sinks] val txMetasUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (txs: Seq[String]) =>
      if (txs == null) Seq.empty[Option[ProtoMini.TxMeta]]
      else txs.map(BlockOps.decodeTxMeta)
    }

  /** E6: one nested `StreamBlock` row per height, assembled shuffle-free.
    * Field names mirror `StreamBlockImpl` (`models/StreamBlock.kt:22`):
    * block, blockEvents, blockResult, txEvents, txErrors, historical, height.
    */
  def streamBlocks(raw: DataFrame): DataFrame = {
    val txs = coalesce(col("block.data.txs"),
      array().cast("array<string>"))
    val results = coalesce(col("txs_results"),
      array().cast(org.apache.spark.sql.types.ArrayType(BlockSchemas.txResult)))
    val bev = coalesce(col("begin_block_events"),
      array().cast(org.apache.spark.sql.types.ArrayType(BlockSchemas.abciEvent)))

    raw
      .withColumn("_hashes", BlockOps.txHashes(txs))
      .withColumn("_metas", txMetasUdf(txs))
      .select(
        col("height"),
        col("chain_id"),
        col("historical"),
        col("block"),
        col("txs_results").as("blockResult"),
        transform(bev, e => struct(
          col("height").as("blockHeight"),
          BlockOps.toIsoString(col("time")).as("blockDateTime"),
          coalesce(e("type"), lit("")).as("eventType"),
          coalesce(e("attributes"),
            array().cast(org.apache.spark.sql.types.ArrayType(BlockSchemas.attribute)))
            .as("attributes"))).as("blockEvents"),
        flatten(transform(results, (tx, i) =>
          transform(coalesce(tx("events"),
            array().cast(org.apache.spark.sql.types.ArrayType(BlockSchemas.abciEvent))),
            e => struct(
              col("height").as("blockHeight"),
              BlockOps.toIsoString(col("time")).as("blockDateTime"),
              coalesce(element_at(col("_hashes"), i + 1), lit("")).as("txHash"),
              coalesce(e("type"), lit("")).as("eventType"),
              coalesce(e("attributes"),
                array().cast(org.apache.spark.sql.types.ArrayType(BlockSchemas.attribute)))
                .as("attributes"),
              BlockOps.feeOrZero(element_at(col("_metas"), i + 1)("feeAmount")).as("fee"),
              coalesce(element_at(col("_metas"), i + 1)("feeDenom"), lit("")).as("denom"),
              coalesce(element_at(col("_metas"), i + 1)("memo"), lit("")).as("note")))))
          .as("txEvents"),
        filter(
          transform(results, (tx, i) => struct(
            col("height").as("blockHeight"),
            BlockOps.toIsoString(col("time")).as("blockDateTime"),
            coalesce(tx("code").cast("long"), lit(0L)).as("code"),
            coalesce(tx("log"), lit("")).as("info"),
            coalesce(element_at(col("_hashes"), i + 1), lit("")).as("txHash"),
            BlockOps.feeOrZero(element_at(col("_metas"), i + 1)("feeAmount")).as("fee"),
            coalesce(element_at(col("_metas"), i + 1)("feeDenom"), lit("")).as("denom"))),
          t => t("code") =!= 0L).as("txErrors"))
  }

  /** The serialized `StreamBlock` value schema (for Kafka round-trips).
    * Session-independent; derived once by analyzing the assembly over an
    * empty frame, then cached.
    */
  @volatile private var sbSchema: StructType = _
  def streamBlockSchema(spark: SparkSession): StructType = {
    if (sbSchema == null)
      sbSchema = streamBlocks(spark.createDataFrame(
        new java.util.ArrayList[Row](), BlockSchemas.raw)).schema
    sbSchema
  }

  /** K2 frames: (height, rel_path, json) — everything the file writer needs. */
  def fileFrames(raw: DataFrame): DataFrame =
    streamBlocks(raw).select(
      col("height"),
      filePath(col("height")).as("rel_path"),
      to_json(struct(col("*"))).as("json"))

  /** K2 writer body: append (height, json) frames through the `blockfiles`
    * writer, one file per block, existing files skipped.
    */
  private def writeFiles(frames: DataFrame, dir: String): Unit =
    frames.select("height", "json")
      .write.format("blockfiles").option("path", dir).mode("append").save()

  /** K2 as a `foreachBatch` function.
    *
    * W6 (`ordered`, `EventStream.kt:121–127` / `BlockStreamOptions.kt:18`):
    * ordered mode writes strictly in ascending-height order through a single
    * partition (the reference's `flatMapConcat`); the default keeps the
    * parallel unordered partitions (`flatMapMerge`) — higher throughput,
    * identical file set (paths are height-derived and idempotent).
    */
  def fileSink(dir: String, ordered: Boolean = false): (DataFrame, Long) => Unit =
    (batch, _) => {
      val frames = fileFrames(batch)
      writeFiles(
        if (ordered) frames.orderBy(col("height")).coalesce(1) else frames,
        dir)
    }

  /** K4 frames: Kafka-ready (key, value) binary columns; key =
    * `"<chainId>.<height>"` (`KafkaBlockSink.kt:30`), value = the JSON
    * `StreamBlock`. Feed straight to `.write.format("kafka")`.
    */
  def kafkaFrames(raw: DataFrame): DataFrame =
    streamBlocks(raw).select(
      BlockOps.kafkaKey(col("chain_id"), col("height")).cast("binary").as("key"),
      to_json(struct(col("*"))).cast("binary").as("value"))

  /** S15/F15: decode Kafka frames back to `StreamBlock` rows — the engine's
    * Kafka source is the built-in `kafka` format plus this projection
    * (`KafkaBlockSource.kt:23`; lazy decode T11 falls out of column pruning).
    */
  def decodeKafkaFrames(frames: DataFrame, spark: SparkSession): DataFrame =
    frames.select(
      from_json(col("value").cast("string"), streamBlockSchema(spark)).as("sb"))
      .select(col("sb.*"))

  /** K5 (`KafkaFileOutput.kt:17`): decode Kafka-sourced frames back to the
    * one-file-per-block layout — the S15 source projection composed with the
    * K2 writer.
    */
  def kafkaFileSink(dir: String, spark: SparkSession): (DataFrame, Long) => Unit =
    (frames, _) => {
      val sb = decodeKafkaFrames(frames, spark)
      writeFiles(sb.select(col("height"), to_json(struct(col("*"))).as("json")), dir)
    }

  /** K3: console sampling — every `nth` block (`ConsoleObserver.kt:41`). */
  def consoleSample(raw: DataFrame, nth: Int): DataFrame =
    raw.filter(col("height") % nth === 0)

  /** K8: fan one batch out to several sinks; persist so the upstream plan
    * (explodes + proto decode) executes once, not once per sink — nor twice
    * for ordered mode alone, whose range sort samples the batch in a job of
    * its own before the write.
    */
  def multiSink(sinks: Seq[(DataFrame, Long) => Unit]): (DataFrame, Long) => Unit =
    (batch, id) => {
      batch.persist()
      try sinks.foreach(s => s(batch, id))
      finally batch.unpersist()
    }
}
