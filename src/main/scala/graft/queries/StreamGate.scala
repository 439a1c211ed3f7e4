package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{GQuery, QueryPack, Tables}

/** Streaming execution ON the DuckDB oracle gate.
  *
  * Every streaming operator in `graft.streaming` is spec-gated against its
  * batch twin; this pack additionally runs the REAL Structured Streaming
  * machinery — file streaming source over the same parquet, micro-batch
  * planner, stateful aggregation, AvailableNow drain — inside a driver
  * query, then hands the drained state to the shared readout. Because the
  * streamed state provably equals the batch aggregation (CRDT-additive
  * counts, associative max_by), the ORACLE IS THE BATCH TWIN'S SQL: the
  * driver's DuckDB hash-compare now covers the streaming path end to end,
  * not only via ScalaTest.
  *
  * Scale notes: the file source partitions file splits like the batch
  * reader; state is (type, day)-bounded for st1 and entity-bounded for
  * st2 — the same bounded-state arguments as StreamingVolume/StreamingCdc
  * (SCALE.md "Streaming state discipline"). Each drain sizes its state
  * partitions from its input bytes ([[statePartitions]]).
  */
object StreamGate extends QueryPack {

  /** Run `df` (a complete-mode streaming aggregation) to exhaustion via
    * AvailableNow and return the drained in-memory state table.
    *
    * The memory sink driver-materializes the state — correct for a GATE
    * harness over type/day- and entity-bounded state at oracle scale; a
    * production deployment of the same aggregations writes Update-mode
    * deltas to a real sink (Kafka/files) and never collects (see
    * `Main.scala` and the streaming specs' foreachBatch paths).
    *
    * `confs` are session settings the stream needs (e.g. its state-store
    * provider). They, and the [[statePartitions]] count, are set only
    * around `start()` — the stream clones the session conf when it starts
    * and records the state-partition count in its checkpoint — and the
    * session's own values are restored before the drain runs.
    */
  private[queries] def drain(s: SparkSession, df: DataFrame, name: String,
                    mode: String = "complete",
                    confs: Map[String, String] = Map.empty): DataFrame = {
    val set = confs ++ statePartitions(s, df)
      .map(n => "spark.sql.shuffle.partitions" -> n.toString)
    val prev = set.keys.map(k => k -> s.conf.getOption(k))
    set.foreach { case (k, v) => s.conf.set(k, v) }
    val q = try {
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    try {
      if (!q.awaitTermination(300000))
        sys.error(s"streaming drain $name did not finish in 300s")
    } finally q.stop()
    s.table(name)
  }

  /** The state-partition count for a stream over `df`: AQE's batch-shuffle
    * rule, `clamp(ceil(inputBytes / advisoryPartitionSizeInBytes), 1,
    * spark.sql.shuffle.partitions)`, applied once at start — stateful
    * streaming cannot get it from AQE, because Spark fixes the count when
    * the checkpoint is created. None (keep the session's count) when the
    * input size is unknown: some streaming leaf of the plan is not a file
    * source (e.g. the `blockfeed` connector).
    */
  private[graft] def statePartitions(s: SparkSession, df: DataFrame): Option[Int] =
    fileSourceBytes(s, df).map { bytes =>
      val advisory = s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.getConf(
          org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val ceiling = s.conf.get("spark.sql.shuffle.partitions").toLong
      math.max(1L, math.min((bytes + advisory - 1) / advisory, ceiling)).toInt
    }

  /** Bytes under the paths of the streaming plan's file-source leaves, or
    * None when it has a streaming leaf of another kind. Static (batch)
    * leaves do not count: state grows with the stream.
    */
  private def fileSourceBytes(s: SparkSession, df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
    val leaves = org.apache.spark.sql.GraftPlans.logical(df)
      .collectLeaves().filter(_.isStreaming)
    val files = leaves.collect {
      case StreamingRelation(ds, _, _) if classOf[
          org.apache.spark.sql.execution.datasources.FileFormat]
          .isAssignableFrom(ds.providingClass) =>
        (ds.paths ++ ds.options.get("path")).distinct
    }
    if (files.size < leaves.size) None
    else {
      val hadoop = s.sparkContext.hadoopConfiguration
      Some(files.flatten.map { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(hadoop)
        Option(fs.globStatus(path)).toSeq.flatten
          .map(st => fs.getContentSummary(st.getPath).getLength).sum
      }.sum)
    }
  }

  /** st1: dq7's volume-anomaly audit with the counts computed by the LIVE
    * path — `StreamingVolume.dailyCounts` over a real parquet readStream —
    * then the shared `Quality.volumeReadout`. Oracle: dq7's own SQL
    * (batch ≡ stream because the counts are CRDT-additive).
    */
  val volumeReadout = GQuery(
    "st1_stream_volume_readout",
    (s, dir) => {
      val ev = Tables.loadStream(s, dir, "events")
        .select(col("event_type"), col("ts"))
      Quality.volumeReadout(s,
        drain(s, graft.streaming.StreamingVolume.dailyCounts(ev), "st1_counts"))
    },
    Quality.volumeAnomaly.oracle)

  /** st2: cdc1's latest-wins snapshot maintained by the LIVE path —
    * `StreamingCdc.snapshotState` over the streamed changelog; tombstones
    * stay in state (they must beat late older upserts) and the visible
    * filter applies to the DRAINED state, exactly as a serving layer
    * would. Oracle: the cdc1 ranked-changelog SQL restricted to the
    * streaming snapshot's columns.
    */
  val cdcSnapshot = GQuery(
    "st2_stream_cdc_snapshot",
    (s, dir) => {
      val log = Tables.loadStream(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "error", lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("value"))
      drain(s, graft.streaming.StreamingCdc.snapshotState(log), "st2_state")
        .filter(col("op") === "upsert").drop("op")
    },
    Some("""
      WITH log AS (
        SELECT user_id, event_id, ts,
               CASE WHEN event_type = 'error' THEN 'delete'
                    ELSE 'upsert' END AS op,
               value
        FROM events),
      ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rk,
               COUNT(*) OVER (PARTITION BY user_id) AS n_changes
        FROM log)
      SELECT user_id, epoch_ms(ts) AS as_of_ms, value AS current_value,
             n_changes
      FROM ranked WHERE rk = 1 AND op = 'upsert'"""))

  /** st3: sk3's HyperLogLog registers maintained by the LIVE path —
    * `StreamingHll`'s flatMapGroupsWithState (256 bytes of state per
    * group) over sk3's cells of the streamed events; each group's latest
    * snapshot is selected from the append stream and its registers go
    * through sk3's own readout. Oracle: sk3's own register/estimate SQL
    * (the shared mix32/ρ fragments, reduced to the sketch columns) —
    * valid because register max is commutative AND idempotent, so the
    * drained registers are a pure function of the row SET.
    */
  val hllSnapshots = GQuery(
    "st3_stream_hll_distinct",
    (s, dir) => {
      import s.implicits._
      val occs = Tables.loadStream(s, dir, "events")
        .select(col("event_type").as("group"), col("user_id").as("id"))
        .as[graft.streaming.StreamingHll.HllOcc]
      val snaps = drain(s, graft.streaming.StreamingHll(occs).toDF(),
        "st3_snaps", mode = "append")
      val regs = snaps
        .groupBy(col("group").as("event_type"))
        .agg(max_by(col("regs"), col("tick")).as("regs"))
        .select(col("event_type"), posexplode(col("regs")).as(Seq("reg", "rho")))
      Sketches.hllReadout(regs, "event_type")
    },
    Some(s"""
      WITH ${Sketches.sqlMix32("events", "event_type, user_id", "user_id")},
      h AS (
        SELECT event_type, pri % 256 AS reg, pri // 256 AS rest
        FROM pr),
      regs AS (
        SELECT event_type, reg, MAX(${Sketches.sqlRho24("rest")}) AS rho
        FROM h GROUP BY 1, 2),
      spine AS (
        SELECT DISTINCT event_type, r.range AS reg
        FROM events CROSS JOIN range(256) r),
      filled AS (
        SELECT s.event_type, s.reg, COALESCE(regs.rho, 0) AS rho
        FROM spine s LEFT JOIN regs
          ON s.event_type = regs.event_type AND s.reg = regs.reg),
      agg AS (
        SELECT event_type,
               CAST(SUM(1::BIGINT << (25 - rho)) AS BIGINT) AS int_sum,
               CAST(SUM(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_zero_registers
        FROM filled GROUP BY 1)
      SELECT event_type, int_sum, n_zero_registers,
             1579496831811846144 // int_sum // 1000000 AS est_hll
      FROM agg"""))

  /** st4: sk1's KMV bottom-k quantile sample maintained by the LIVE path —
    * `StreamingKmv` (≤ 512 (priority, id, value) rows of state per group)
    * over the streamed events; latest snapshot per (group, percentile)
    * from the append stream. Oracle: sk1's own SQL verbatim — valid
    * because bottom-k by the total (priority, id) order is a pure
    * function of the row SET (selection, not accumulation), the fourth
    * state algebra on the gate after additive counts, latest-wins and
    * register max.
    */
  val kmvSnapshots = GQuery(
    "st4_stream_kmv_quantiles",
    (s, dir) => {
      import s.implicits._
      val occs = Tables.loadStream(s, dir, "events")
        .select(col("event_type").as("group"), col("event_id").as("id"),
          col("value").as("value"))
        .as[graft.streaming.StreamingKmv.KmvOcc]
      val snaps = drain(s, graft.streaming.StreamingKmv(occs).toDF(),
        "st4_snaps", mode = "append")
      snaps
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("group"), col("pPct"))
            .orderBy(col("tick").desc)))
        .filter(col("rk") === 1)
        .select(col("group").as("event_type"), col("pPct").as("p_pct"),
          col("nSample").as("n_sample"), col("estValue").as("est_value"))
    },
    Sketches.kmvQuantiles.oracle)

  /** st5: the transformWithState TIMER path on the gate — the
    * [[graft.streaming.FeedWatchdog]] missed-heartbeat alarm drained over
    * the streamed events. Under an AvailableNow drain of a single-file
    * table the alert set is a pure function of the data: one batch
    * absorbs every event (watermark still unset), each source arms one
    * event-time timer at `last_seen + silence`, and the closing no-data
    * batch fires exactly the timers the final watermark (= corpus max ts,
    * delay 0) has reached. So the oracle is plain SQL over per-source max
    * timestamps — which makes this the end-to-end check that timer
    * registration, watermark propagation and `handleExpiredTimer` agree
    * with the declarative semantics. Timestamps compare at ms precision
    * (timer resolution) on both sides. The boundary is INCLUSIVE: a timer
    * at expiry == watermark fires (pinned empirically by
    * FeedWatchdogSpec's st5-boundary test), hence the oracle's
    * `last_seen_ms + silence <= m` — the gated data keeps ~63 s of
    * clearance on either side, but the comparison no longer relies on it.
    */
  private val WatchdogSilence = 1200 * 1000L // 20 min: non-vacuous at BOTH
  // gate SFs (sf0.001 tail gaps 3.9ks-25.6ks; sf0.01 gaps 1.1ks-2.0ks,
  // three sources past 1200 s; nearest boundary 63 s away on either side)

  /** The shared st5/st5b watchdog pipeline: per-source event-time timers on
    * RocksDB state over an already-watermarked (source, ts) stream, drained
    * and projected to the oracle's (source, last_seen_ms, silence_ms).
    */
  private def watchdogDrain(s: SparkSession,
                            ev: org.apache.spark.sql.Dataset[
                              (String, java.sql.Timestamp)],
                            sink: String,
                            silenceMillis: Long = WatchdogSilence): DataFrame = {
    implicit val stallEnc: org.apache.spark.sql.Encoder[graft.streaming.FeedStall] =
      org.apache.spark.sql.Encoders.product[graft.streaming.FeedStall]
    val alerts = ev.groupByKey(_._1)(org.apache.spark.sql.Encoders.STRING)
      .transformWithState(new graft.streaming.FeedWatchdog(silenceMillis),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
    drain(s, alerts.toDF(), sink, mode = "append",
      confs = Map("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
      .select(col("source"),
        expr("unix_millis(last_seen)").as("last_seen_ms"),
        col("silence_ms"))
  }

  private val watchdogOracle = Some("""
      WITH last AS (
        SELECT event_type AS source, epoch_ms(MAX(ts)) AS last_seen_ms
        FROM events GROUP BY 1),
      wm AS (SELECT epoch_ms(MAX(ts)) AS m FROM events)
      SELECT source, last_seen_ms,
             CAST(1200000 AS BIGINT) AS silence_ms
      FROM last, wm
      WHERE last_seen_ms + 1200000 <= m""")

  val watchdogAlerts = GQuery(
    "st5_stream_watchdog_alerts",
    (s, dir) => {
      import s.implicits._
      watchdogDrain(s,
        Tables.loadStream(s, dir, "events")
          .select(col("event_type"), col("ts"))
          .withWatermark("ts", "0 seconds")
          .as[(String, java.sql.Timestamp)],
        "st5_alerts")
    },
    watchdogOracle)

  /** st5b: st5 across a BATCH BOUNDARY — the same watchdog drain with the
    * events table re-staged as two ts-split parquet files read one per
    * trigger, so the watermark genuinely advances BETWEEN micro-batches
    * and timers fire mid-stream (batch 2's timer phase runs against file
    * 1's watermark; the round-5 gate only ever fired timers in the single
    * closing batch). The alert set provably equals st5's under THIS
    * 2-way split: AvailableNow runs no no-data batch while files remain,
    * and a batch's input re-arms a source's timer before that batch's
    * timer phase — so a source with a later event cannot alert early
    * (its mid-split deadline could only be checked in batch 2, whose
    * input has already re-armed it), and a source without one alerts
    * with its final last_seen whether the firing batch is 2 or the
    * closing batch. (A 3-way split loses this guarantee: a deadline
    * strictly between two boundaries fires before the re-arming file is
    * read — that variant is the intermediate-stall DETECTOR, not st5's
    * tail-stall semantics.) The ts-ranged split also keeps every file-2
    * row on-time w.r.t. file 1's watermark, so the 0-second watermark
    * drops nothing. Same oracle as st5; the boundary mechanics are
    * additionally pinned on synthetic data in FeedWatchdogSpec.
    */
  val watchdogAlertsSplit = GQuery(
    "st5b_stream_watchdog_split",
    (s, dir) => {
      import s.implicits._
      val ev0 = Tables.load(s, dir, "events").select(col("event_type"), col("ts"))
      val stage = java.nio.file.Files.createTempDirectory("st5b_stage")
      try {
        // ONE pass stages both halves: repartitionByRange(2, ts) range-
        // partitions on the event time (equal keys land together, so
        // max(file 0) < min(file 1) — every file-1 row is on-time w.r.t.
        // file 0's watermark), and each range partition writes its own
        // file. Explicit modification times force FileStreamSource's
        // oldest-first admission so file 0 IS batch 1. (An earlier
        // version computed a mid timestamp and wrote two filtered
        // coalesce(1) halves: three scans where one suffices — the split
        // point is irrelevant to the proof, only its monotonicity is.)
        import scala.jdk.CollectionConverters._
        val tmp = stage.resolve("_ranged")
        ev0.repartitionByRange(2, col("ts")).write.parquet(tmp.toString)
        val parts = scala.util.Using.resource(java.nio.file.Files.list(tmp))(
            _.iterator().asScala.toList)
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .sortBy(_.getFileName.toString)
        require(parts.size == 2,
          s"expected 2 range files, got ${parts.size} — empty range?")
        parts.zipWithIndex.foreach { case (part, i) =>
          val dst = stage.resolve(f"$i%03d.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - 60000L * (2 - i)))
        }
        val ev = s.readStream.schema(ev0.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(stage.toString)
          .withWatermark("ts", "0 seconds")
          .as[(String, java.sql.Timestamp)]
        watchdogDrain(s, ev, "st5b_alerts")
      } finally {
        // the drained memory sink no longer needs the staged files
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(stage))(
          _.iterator().asScala.toList).reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    },
    watchdogOracle)

  /** st5c: the INTERMEDIATE-stall detector — st5/st5b alert on tail
    * stalls (the closing batch's watermark reaches a final deadline);
    * this gates the genuinely different mid-stream semantic: a source
    * goes quiet, OTHER sources keep advancing the watermark past its
    * deadline, the alert fires with `last_seen` FROZEN at the pre-gap
    * event, and the source then RESUMES — an alert no batch audit over
    * final state can produce (the source's closing row looks healthy).
    *
    * Fixed terciles can't stage this on the gate data — every source has
    * events in every third (checked empirically at all three SFs), and a
    * source present in a batch re-arms before that batch's timer phase.
    * So the split is DATA-DERIVED: find the globally largest gap between
    * consecutive events of one source (ties: source asc, start asc),
    * place both cut points inside it (at 2/3 and 5/6 of the gap) and set
    * the silence to gap/3 — the gapped source is then provably absent
    * from file 2, its deadline (gap-start + gap/3) sits below file 1's
    * watermark (≈ gap-start + 2/3·gap, other sources active), and batch
    * 2's timer phase MUST fire it, frozen, before file 3 re-arms it.
    * Every quantity is integer arithmetic over event times, so the
    * DuckDB oracle derives the identical cuts, silence, and alert set
    * from the raw table. The oracle is the general 3-slice recurrence,
    * not just the designed alert: per (source, occupied slice j) with
    * next occupied slice `nxt`, the armed timer L_j+S fires iff an
    * interior empty batch sees it (nxt−j ≥ 2 and L_j+S ≤ wm(nxt−2)) or,
    * for the final occupied slice, iff L_j+S ≤ wm(3) — so tail stalls
    * and any OTHER coincidentally-absent source are modeled too, and the
    * gate stays honest if a testdata regen moves the gap. Staging uses
    * one parallel pass (slice-hash repartition + partitionBy on the slice id
    * → one file per slice, mtime-ordered for oldest-first admission,
    * require-guarded); timers compare at
    * ms (`Timestamp.getTime` floors µs), cuts at µs, mirrored exactly —
    * file-(i+1) rows sit strictly above cut_i ≥ wm_i, so the 0-second
    * watermark drops nothing. Boundary margins at the gate SFs are
    * ≥ 44 s, far above timer resolution.
    */
  val watchdogMidgap = GQuery(
    "st5c_stream_watchdog_midgap",
    (s, dir) => {
      import s.implicits._
      val ev0 = Tables.load(s, dir, "events").select(col("event_type"), col("ts"))
      // the largest intra-source gap, deterministically tie-broken
      val pick = ev0
        .select(col("event_type").as("src"), unix_micros(col("ts")).as("tus"))
        .withColumn("nxt", lead(col("tus"), 1).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src")).orderBy(col("tus"))))
        .where(col("nxt").isNotNull)
        .select(col("src"), col("tus").as("gap_start"),
          (col("nxt") - col("tus")).as("g"))
        .orderBy(col("g").desc, col("src").asc, col("gap_start").asc)
        .limit(1).collect()(0)
      val gapStart = pick.getLong(1)
      val gapUs = pick.getLong(2)
      val cut1 = gapStart + gapUs * 2 / 3
      val cut2 = gapStart + gapUs * 5 / 6
      val silenceMs = gapUs / 3000L
      val stage = java.nio.file.Files.createTempDirectory("st5c_stage")
      try {
        import scala.jdk.CollectionConverters._
        val tmp = stage.resolve("_sliced")
        // One parallel pass, one file per slice: hash-partitioning on the
        // slice id keeps each slice's rows in one task (a coalesce(1)
        // would serialize the whole table through one writer; range
        // partitioning would add a sampling job), and the per-slice
        // file-count require below guards the premise.
        ev0.withColumn("slice",
            when(unix_micros(col("ts")) <= cut1, 1)
              .when(unix_micros(col("ts")) <= cut2, 2).otherwise(3))
          .repartition(3, col("slice"))
          .write.partitionBy("slice").parquet(tmp.toString)
        (1 to 3).foreach { i =>
          val d = tmp.resolve(s"slice=$i")
          require(java.nio.file.Files.isDirectory(d),
            s"st5c slice $i is empty — the derived cuts no longer " +
              "produce three non-empty files on this data")
          val parts = scala.util.Using.resource(java.nio.file.Files.list(d))(
              _.iterator().asScala.toList)
            .filter(_.getFileName.toString.endsWith(".parquet"))
          require(parts.size == 1,
            s"st5c slice $i staged ${parts.size} files; the one-batch-per-" +
              "slice premise needs exactly one")
          val dst = stage.resolve(f"${i - 1}%03d.parquet")
          java.nio.file.Files.move(parts.head, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis() - 60000L * (4 - i)))
        }
        val ev = s.readStream.schema(ev0.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(stage.toString)
          .withWatermark("ts", "0 seconds")
          .as[(String, java.sql.Timestamp)]
        watchdogDrain(s, ev, "st5c_alerts", silenceMs)
      } finally {
        import scala.jdk.CollectionConverters._
        scala.util.Using.resource(java.nio.file.Files.walk(stage))(
          _.iterator().asScala.toList).reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    },
    Some("""
      WITH ev AS (SELECT event_type AS src, epoch_us(ts) AS tus,
                         epoch_ms(ts) AS tms FROM events),
      gaps AS (SELECT src, tus AS gap_start,
                      LEAD(tus) OVER (PARTITION BY src ORDER BY tus) - tus AS g
               FROM ev),
      pick AS (SELECT src, gap_start, g FROM gaps WHERE g IS NOT NULL
               ORDER BY g DESC, src ASC, gap_start ASC LIMIT 1),
      c AS (SELECT gap_start + g*2//3 AS cut1, gap_start + g*5//6 AS cut2,
                   g//3000 AS s_ms FROM pick),
      evs AS (SELECT src, tms,
              CASE WHEN tus <= (SELECT cut1 FROM c) THEN 1
                   WHEN tus <= (SELECT cut2 FROM c) THEN 2 ELSE 3 END AS slice
              FROM ev),
      wm AS (SELECT i, MAX(w) OVER (ORDER BY i) AS w FROM
             (SELECT slice AS i, MAX(tms) AS w FROM evs GROUP BY 1)),
      occ AS (SELECT src, slice, MAX(tms) AS lj,
              LEAD(slice) OVER (PARTITION BY src ORDER BY slice) AS nxt
              FROM evs GROUP BY src, slice)
      SELECT src AS source, lj AS last_seen_ms,
             CAST((SELECT s_ms FROM c) AS BIGINT) AS silence_ms
      FROM occ
      WHERE (nxt IS NOT NULL AND nxt - slice >= 2
             AND lj + (SELECT s_ms FROM c) <= (SELECT w FROM wm WHERE i = nxt-2))
         OR (nxt IS NULL AND lj + (SELECT s_ms FROM c) <= (SELECT MAX(w) FROM wm))"""))

  override def queries: Seq[GQuery] =
    Seq(volumeReadout, cdcSnapshot, hllSnapshots, kmvSnapshots,
      watchdogAlerts, watchdogAlertsSplit, watchdogMidgap)
}
