package graft

import graft.blocks.EventTables
import graft.sinks.BlockSinks
import org.apache.spark.sql.streaming.Trigger

/** The CLI service (reference `es-cli/Main.kt`, SURVEY §3.1): config →
  * streaming read → stream predicates → fan-out sinks, with checkpointed
  * exactly-once delivery. `key=value` args mirror the reference's
  * `BlockStreamOptions` / `Config` surface (`config/Options.kt`):
  *
  * {{{
  *   runMain graft.Main path=<templates|http://node|grpc://node:port>
  *     from=2270370 [to=N|from=latest]
  *     out=/tmp/blocks [checkpoint=/tmp/ckpt] [skipEmpty=true]
  *     [txEvents=a,b] [blockEvents=c] [nth=10] [ordered=true]
  *     [maxHeightsPerTrigger=10000] [trigger=availableNow|<interval>]
  *     [stateStore=rocksdb] [ws=ws://node/websocket] [watchdog=<seconds>]
  * }}}
  *
  * `watchdog=N` (requires `stateStore=rocksdb`) attaches a SECOND
  * streaming query: the [[graft.streaming.FeedWatchdog]]
  * missed-heartbeat alarm over block times per chain — a console alert
  * the moment event time proves the chain silent longer than N seconds
  * (the live ops complement of the 6 s/block envelope the reference's
  * buffers assume).
  *
  * Spark mappings: history+live merge, gap-fill, restart resume and dedup
  * all come from the blockfeed offset log (+`checkpoint=`); `skipEmpty`
  * filters on the payload's tx list (in BATCH reads an equivalent
  * `num_txs` predicate would push down to the scan; Spark's streaming
  * DSv2 path never pushes, so here it is an ordinary post-scan filter);
  * event filters are the P2/P3
  * `exists` predicates; the file sink is the K2 sha-splayed idempotent
  * layout written by the `blockfiles` writer (ordered = W6); `nth` adds
  * the K3 console sample as a second sink off the same batch (K8 fan-out).
  * Whichever sinks a run selects, they share one `foreachBatch` query.
  *
  * `events=tx|block` switches to the `EventsMain.kt` entry point
  * (§3, `es-cli/EventsMain.kt`): instead of raw blocks, each micro-batch
  * is flattened to the tx/block EVENT table (E1/E2) and written as parquet
  * under `out/batch=<id>/` — overwrite-per-batch, so a replayed batch id
  * lands idempotently (exactly-once with the offset log).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.flatMap { a =>
      a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    def list(k: String) =
      opts.get(k).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

    val path = opts.getOrElse("path",
      graft.blocks.FixtureSource.DefaultTemplates)
    val out = opts.getOrElse("out", sys.error("out=<dir> is required"))
    // stateStore=rocksdb switches stateful operators (dedup, session windows,
    // stream joins) to the RocksDB provider: state spills off-heap to local
    // disk with changelog checkpointing to the checkpoint location — the
    // production backend when per-executor state outgrows the in-memory
    // HDFSBackedStateStore (100 TB-scale dedup horizons)
    val builder = Session.builder("graft-stream")
    if (opts.get("stateStore").contains("rocksdb"))
      builder.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    var reader = spark.readStream.format("blockfeed").option("path", path)
    // ws=<url>: push-based tips from the node's websocket (S7–S9) instead
    // of per-trigger polling; path= stays the RPC endpoint for block data
    Seq("from", "to", "maxHeightsPerTrigger", "heightsPerPartition", "ws")
      .foreach(k => opts.get(k).foreach(v => reader = reader.option(k, v)))
    val raw = reader.load()

    val filtered = EventTables.filterByEvents(
      EventTables.filterNonEmpty(raw, opts.get("skipEmpty").exists(_.toBoolean)),
      list("txEvents"), list("blockEvents"))

    val eventSink = opts.get("events").map { kind =>
      (b: org.apache.spark.sql.DataFrame, id: Long) => {
        val ev = kind match {
          case "tx"    => EventTables.txEvents(b)
          case "block" => EventTables.blockEvents(b)
          case other   => sys.error(s"events=$other (expected tx|block)")
        }
        ev.write.mode("overwrite").parquet(s"$out/batch=$id")
      }
    }
    val sinks =
      eventSink.getOrElse(
        BlockSinks.fileSink(out, opts.get("ordered").exists(_.toBoolean))) +:
      opts.get("nth").map { n => (b: org.apache.spark.sql.DataFrame, _: Long) =>
        BlockSinks.consoleSample(b, n.toInt)
          .select("height", "chain_id", "num_txs", "historical").show(false)
      }.toSeq

    val trigger = opts.get("trigger") match {
      case None | Some("availableNow") => Trigger.AvailableNow()
      case Some(interval) => Trigger.ProcessingTime(interval)
    }
    var writer = filtered.writeStream
      .foreachBatch(BlockSinks.multiSink(sinks))
      .trigger(trigger)
    opts.get("checkpoint").foreach(c => writer = writer.option("checkpointLocation", c))
    if (opts.contains("watchdog") && !opts.get("stateStore").contains("rocksdb"))
      sys.error("watchdog= requires stateStore=rocksdb " +
        "(transformWithState runs on the RocksDB state store)")
    // primary starts FIRST; if the watchdog then fails to start, the
    // primary is stopped before rethrowing so neither order leaks a
    // running query
    val q = writer.start()
    val watchdogQ = opts.get("watchdog").map { secs =>
      import spark.implicits._
      import org.apache.spark.sql.functions.col
      try EventTables.blocks(raw)
        .select(col("chain_id"), col("time"))
        .withWatermark("time", "0 seconds")
        .as[(String, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.FeedWatchdog(secs.toLong * 1000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.Encoders.product[graft.streaming.FeedStall])
        .toDF().writeStream.format("console").trigger(trigger).start()
      catch { case e: Throwable => q.stop(); throw e }
    }
    q.awaitTermination()
    // bounded (AvailableNow) runs must let the watchdog finish its own
    // drain — stopping it the instant the primary lands would race the
    // timer-firing no-data batch and silently drop the stall alerts the
    // feature exists to print; live (interval) runs stop it with the job.
    // Boundedness comes from the PARSED trigger, not a re-derived string
    // compare that could drift from the parse rule above.
    watchdogQ.foreach { w =>
      if (trigger == Trigger.AvailableNow()) {
        if (!w.awaitTermination(300000))
          System.err.println(
            "[main] WARNING: watchdog drain did not finish in 300s — " +
              "stall alerts from the final no-data batch may be missing")
      }
      w.stop()
    }
    // no spark.stop(): the session is process-scoped (getOrCreate) and may
    // be shared — JVM exit tears it down in real CLI use
  }
}
