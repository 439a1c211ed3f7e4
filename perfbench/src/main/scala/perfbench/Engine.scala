package perfbench

import graft.blocks.{EventTables, ProtoMini}
import graft.sinks.BlockSinks
import graft.sources.{HttpBlockClient, RowCodec}
import graft.sources.grpc.GrpcBlockClient
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

object Stats {
  /** Linear-interpolated percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

/** The engine side of the benchmark: one JVM per run, driving the engine
  * only through its public entry points (the `blockfeed` source,
  * `EventTables`, `BlockSinks` + the `blockfiles` writer, `SparkEntry`, and
  * the transport clients/codecs directly for the per-layer numbers).
  *
  * Arguments are `key=value`: workload (ingest | backfill_cpus1 |
  * analytics), seconds (the timed window: of the backfill drains, or of
  * the analytics passes), trace (0|1), seed, work (scratch dir), result
  * (JSON file to write), and per workload http/grpc/ctl/tip/expected/phases
  * (node workloads) or data/queries (analytics).
  */
object Engine {
  private var conf: Map[String, String] = Map.empty
  private var tracer: Tracer = _
  private val metrics = mutable.LinkedHashMap.empty[String, Double]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  /** Raw samples behind the percentiles, kept in the run record. */
  private val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
  private var attempted = 0L
  private var failed = 0L

  /** Records `n` failed operations with one message. */
  private def fail(msg: String, n: Long = 1): Unit = {
    failed += n
    failures += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }
  private val started = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%7.2fs] $msg")
  private def now: Long = System.nanoTime()
  private def secsSince(t0: Long): Double = (now - t0) / 1e9

  def main(args: Array[String]): Unit = {
    conf = args.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _ => None
    }).toMap
    val workload = conf("workload")
    tracer = new Tracer(conf("trace") == "1", s"$workload-${conf("seed")}")
    val work = conf("work")
    Files.createDirectories(Paths.get(work))

    // the single-core baseline only needs a session, not the set-up time
    val n = if (workload == "backfill_cpus1") 1 else 3
    val setups = (1 to n).map { i =>
      val t0 = now
      val s = session()
      prepare(s, workload)
      val dt = secsSince(t0)
      if (i < n) s.stop()
      dt
    }
    metrics("setup_s") = Stats.median(setups)
    log(s"set-up ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    layers("session.setup_first_s") = setups.head
    val spark = SparkSession.active
    if (conf.contains("ctl")) {
      // the node renders its payloads while the engine sets up; time nothing
      // before it is done
      val deadline = System.currentTimeMillis() + 120000
      while (!ctl("/counters").get("ready").asBoolean) {
        if (System.currentTimeMillis() > deadline) sys.error("the node never became ready")
        Thread.sleep(100)
      }
      log("node ready")
    }

    workload match {
      case "ingest" => Backfill.run(spark); LiveTail.run(spark)
      case "backfill_cpus1" => Backfill.runSingleCore(spark)
      case "analytics" => Analytics.run(spark)
      case other => sys.error(s"unknown workload $other")
    }
    layers("session.peak_rss_mb") = peakRssMb
    if (tracer.on) tracer.write(s"$work/spans.json")

    val m = Json.mapper
    val out = m.createObjectNode()
    val mo = out.putObject("metrics")
    metrics.foreach { case (k, v) => mo.put(k, v) }
    val lo = out.putObject("layers")
    layers.foreach { case (k, v) => lo.put(k, v) }
    out.put("attempted", attempted)
    out.put("failed", failed)
    val fa = out.putArray("failures")
    failures.foreach(fa.add)
    val so = out.putObject("samples")
    samples.foreach { case (k, xs) => val a = so.putArray(k); xs.foreach(a.add) }
    m.writeValue(new java.io.File(conf("result")), out)
    // every query has stopped and the result is written; skip the seconds
    // of context and JVM shutdown (the runner deletes the scratch dirs)
    Runtime.getRuntime.halt(0)
  }

  /** A session exactly as the engine configures it, with scratch space
    * kept inside the work dir and enough progress history for the tail.
    */
  private def session(): SparkSession = {
    val work = Paths.get(conf("work")).toAbsolutePath
    val s = graft.Session.builder("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The per-session part of set-up: for the node workloads a first read
    * through the connector, for analytics loading the largest tables.
    */
  private def prepare(spark: SparkSession, workload: String): Unit =
    if (workload == "analytics")
      Seq("events", "lineitem", "documents").foreach(n => graft.Tables.load(spark, conf("data"), n))
    else
      spark.read.format("blockfeed").option("path", conf("http"))
        .option("from", "1").option("to", "8").load()
        .select("height", "txs_results").collect()

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(-1.0)

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def ctl(path: String): com.fasterxml.jackson.databind.JsonNode = {
    val c = java.net.URI.create(conf("ctl") + path).toURL.openConnection()
    val in = c.getInputStream
    try Json.mapper.readTree(in) finally in.close()
  }

  /** Listeners for a traced window; `pause`/`resume` leave gaps in it
    * (for untraced work interleaved with the traced), `close` returns the
    * wall seconds it was open.
    */
  private final class Window(spark: SparkSession) {
    val tasks = new TaskTotals
    val progress = new ProgressLog
    private var openedAt = 0L
    private var wallNs = 0L
    resume()
    def resume(): Unit = {
      spark.sparkContext.addSparkListener(tasks)
      spark.streams.addListener(progress)
      openedAt = now
    }
    def pause(): Unit = {
      wallNs += now - openedAt
      tasks.settle()
      spark.sparkContext.removeSparkListener(tasks)
      spark.streams.removeListener(progress)
    }
    def close(): Double = { pause(); wallNs / 1e9 }
  }

  /** session.* task totals from one traced window. */
  private def taskLayers(w: Window, wallS: Double): Unit = {
    val s = w.tasks.snapshot
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "1").toDouble
    layers("session.jobs") = s("jobs").toDouble
    layers("session.stages") = s("stages").toDouble
    layers("session.tasks") = s("tasks").toDouble
    layers("session.scheduler_delay_ms") = s("sched_ms").toDouble
    layers("session.executor_cpu_s") = s("cpu_ns") / 1e9
    layers("session.cpu_util") = s("cpu_ns") / 1e9 / (wallS * cores)
    layers("session.shuffle_read_bytes") = s("shuffle_read").toDouble
    layers("session.shuffle_write_bytes") = s("shuffle_write").toDouble
    layers("session.spill_bytes") = s("spill").toDouble
    layers("session.gc_s") = s("gc_ms") / 1e3
  }

  /** Micro-batch phase durations and state operators from one traced
    * window's streaming progress.
    */
  private def triggerLayers(w: Window): Unit = {
    val ps = w.progress.all.filter(_.numInputRows > 0)
    def durP50(k: String): Double = {
      val xs = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.toDouble))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    layers("session.trigger_ms.p50") = durP50("triggerExecution")
    layers("session.query_planning_ms.p50") = durP50("queryPlanning")
    layers("session.wal_commit_ms.p50") = durP50("walCommit")
    layers("session.commit_offsets_ms.p50") = durP50("commitOffsets")
    layers("sources.latest_offset_ms.p50") = durP50("latestOffset")
    val ops = w.progress.all.flatMap(_.stateOperators.toSeq)
    layers("streaming.batches") = w.progress.all.count(_.stateOperators.nonEmpty).toDouble
    layers("streaming.state_commit_ms") = ops.map(_.commitTimeMs.toDouble).sum
    layers("streaming.state_rows_total") =
      w.progress.all.filter(_.stateOperators.nonEmpty)
        .groupBy(_.id).values.map(_.last.stateOperators.map(_.numRowsTotal).sum.toDouble).sum
    layers("streaming.state_partitions") =
      if (ops.isEmpty) 0.0 else ops.map(_.numShufflePartitions.toDouble).max
  }

  // ---------------------------------------------------------------- backfill

  /** History catch-up: `Trigger.AvailableNow` drains of the whole generated
    * chain at the connector's production defaults, flattened with
    * `EventTables.txEvents` and written as parquet per batch (the
    * `graft.Main events=tx` pipeline), once per transport, alternating.
    */
  private object Backfill {
    final case class Drain(secs: Double, heights: Long, out: Path)
    private val drains = new java.util.concurrent.atomic.AtomicInteger(0)
    private lazy val expected = Json.mapper.readTree(new java.io.File(conf("expected")))
    private def chainHeights: Long = expected.get("heights").asLong

    /** One drain of heights `1..to` (the whole history range by default,
      * pinned because the live tail later moves the node's tip).
      */
    def drain(spark: SparkSession, path: String, sink: String,
              to: Long = chainHeights): Drain = {
      val id = drains.incrementAndGet()
      val dir = Paths.get(conf("work"), "backfill").toAbsolutePath
      val out = dir.resolve(s"out-$id")
      val raw = spark.readStream.format("blockfeed").option("path", path)
        .option("maxHeightsPerTrigger", "10000")
        .option("heightsPerPartition", "128")
        .option("to", to.toString).load()
      val writeEvents: (DataFrame, Long) => Unit = (batch, batchId) =>
        EventTables.txEvents(batch).write.mode("overwrite").parquet(s"$out/batch=$batchId")
      val w = sink match {
        case "noop" => raw.writeStream.format("noop")
        case "flatten" => EventTables.txEvents(raw).writeStream.format("noop")
        case "parquet" => raw.writeStream.foreachBatch(writeEvents)
      }
      val t0 = now
      val q = w.option("checkpointLocation", dir.resolve(s"ck-$id").toString)
        .trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(120000)) { q.stop(); sys.error(s"drain of $path did not finish in 120 s") }
      val secs = secsSince(t0)
      q.exception.foreach(e => throw e)
      Drain(secs, q.recentProgress.map(_.numInputRows).sum, out)
    }

    /** Checks one parquet drain against the generator's totals, then
      * deletes its output; returns the tx-event rows it found.
      */
    def check(spark: SparkSession, d: Drain, what: String): Long = {
      attempted += 1
      val r = spark.read.parquet(d.out.toString)
        .agg(count(lit(1)), sum(col("fee")), countDistinct(col("block_height")))
        .head()
      val (rows, fees, hs) = (r.getLong(0), r.getDecimal(1), r.getLong(2))
      val want = (expected.get("tx_event_rows").asLong,
        new java.math.BigDecimal(expected.get("fee_sum").asText),
        expected.get("nonempty_blocks").asLong)
      if (d.heights != chainHeights || rows != want._1 ||
          fees == null || fees.compareTo(want._2) != 0 || hs != want._3)
        fail(s"$what drain: heights ${d.heights} rows $rows fee $fees distinct $hs, " +
          s"expected heights $chainHeights rows ${want._1} fee ${want._2} distinct ${want._3}")
      rows
    }

    private def transports = Seq("http" -> conf("http"), "grpc" -> conf("grpc"))

    /** Alternating HTTP/gRPC pairs for `seconds` (at least two pairs;
      * another starts only if it should end within them), the seed choosing
      * which transport leads each pair.
      */
    private def timedPairs(spark: SparkSession, seconds: Double, spanName: String,
                           minPairs: Int = 2): Map[String, Seq[Drain]] = {
      val rnd = new scala.util.Random(conf("seed").toLong)
      val got = mutable.Map("http" -> Seq.empty[Drain], "grpc" -> Seq.empty[Drain])
      val t0 = now
      var lastPair = 0.0
      var pairs = 0
      while (pairs < minPairs || (secsSince(t0) + lastPair <= seconds && pairs < 30)) {
        val p0 = now
        val order = if (rnd.nextBoolean()) transports else transports.reverse
        order.foreach { case (name, path) =>
          got(name) = got(name) :+ tracer(s"$spanName.$name")(drain(spark, path, "parquet"))
        }
        lastPair = secsSince(p0)
        pairs += 1
      }
      got.toMap
    }

    private def checkAll(spark: SparkSession, ds: Map[String, Seq[Drain]]): Unit =
      ds.foreach { case (name, xs) => xs.foreach { d =>
        check(spark, d, name); deleteTree(d.out) } }

    def run(spark: SparkSession): Unit = {
      val seconds = conf("seconds").toDouble
      // warm: one untimed partial drain per transport (JIT, class loading,
      // connection pools); the node has already rendered every payload
      transports.foreach { case (_, path) => deleteTree(drain(spark, path, "parquet", to = 300).out) }
      log("backfill: warm drains done")
      if (tracer.on) traced(spark)
      else {
        val timed = timedPairs(spark, seconds, "backfill.drain")
        log("backfill: timed drains done")
        checkAll(spark, timed)
        report(timed)
      }
    }

    /** Throughput of untraced parquet drains: pooled end to end, and the
      * median drain per transport.
      */
    private def report(timed: Map[String, Seq[Drain]]): Unit = {
      val medMs = timed.map { case (k, xs) => k -> Stats.median(xs.map(_.secs * 1000)) }
      val all = timed.values.flatten
      metrics("throughput_per_s") = all.map(_.heights).sum / all.map(_.secs).sum
      layers("backfill.http_bps") = chainHeights * 1000.0 / medMs("http")
      layers("backfill.grpc_bps") = chainHeights * 1000.0 / medMs("grpc")
      log(f"backfill: http ${layers("backfill.http_bps")}%.0f blocks/s, grpc ${layers("backfill.grpc_bps")}%.0f blocks/s over ${timed("http").size} pairs")
    }

    def runSingleCore(spark: SparkSession): Unit = {
      val (_, http) = transports.head
      deleteTree(drain(spark, http, "parquet", to = 300).out)
      val d = drain(spark, http, "parquet")
      check(spark, d, "single-core")
      metrics("throughput_per_s") = chainHeights / d.secs
    }

    /** The traced run's backfill: traced pairs interleaved with untraced
      * ones, so the engine's continued warm-up does not read as tracing
      * overhead; the untraced pairs give the backfill.* throughputs.
      */
    private def traced(spark: SparkSession): Unit = {
      def plain() = timedPairs(spark, 0, "backfill.untraced_drain", minPairs = 1)
      // one more untimed pair: the warm drains leave the JIT still settling,
      // which read as 10-13% of (negative) tracing overhead without it
      checkAll(spark, plain())
      val before = ctl("/counters")
      val w = new Window(spark)
      w.pause()
      def traced() = {
        w.resume()
        try timedPairs(spark, 0, "backfill.traced_drain", minPairs = 1) finally w.pause()
      }
      // ABBA order, so a trend in the engine's speed cancels out
      val rounds = Seq({ val a = plain(); (a, traced()) }, { val b = traced(); (plain(), b) })
      val wall = w.close()
      val after = ctl("/counters")
      def merge(ms: Seq[Map[String, Seq[Drain]]]) =
        ms.flatten.groupMap(_._1)(_._2).map { case (k, v) => k -> v.flatten }
      val timed = merge(rounds.map(_._2))
      val untraced = merge(rounds.map(_._1))
      checkAll(spark, untraced)
      report(untraced)
      taskLayers(w, wall)
      def heights(k: String) = (timed(k) ++ untraced(k)).map(_.heights).sum.toDouble
      layers("sources.rpcs_per_height") =
        (after.get("http_requests").asLong - before.get("http_requests").asLong) / heights("http")
      layers("sources.grpc.rpcs_per_height") =
        (after.get("grpc_requests").asLong - before.get("grpc_requests").asLong) / heights("grpc")
      val one = timed("http").head
      val files = Files.walk(one.out).iterator().asScala.filter(p => p.toString.endsWith(".parquet")).toSeq
      layers("sinks.parquet_bytes_written") = files.map(Files.size(_).toDouble).sum
      layers("sinks.parquet_files_written") = files.size.toDouble
      layers("blocks.tx_event_rows") = check(spark, one, "traced http").toDouble
      checkAll(spark, timed.map { case (k, xs) => k -> (if (k == "http") xs.tail else xs) })
      deleteTree(one.out)
      val tracedMedMs = timed.map { case (k, xs) => k -> Stats.median(xs.map(_.secs * 1000)) }
      val refMs = untraced.map { case (k, xs) => k -> Stats.median(xs.map(_.secs * 1000)) }
      layers("trace.backfill_overhead_frac") = tracedMedMs.values.sum / refMs.values.sum - 1.0

      // read / flatten / sink split: noop and txEvents→noop drains, under
      // the same listeners as the traced full drains (their totals are
      // not kept). The sink is the remainder, so read + flatten + sink
      // equals the traced full drain by construction.
      val split = new Window(spark)
      val per1k = 1000.0 / chainHeights
      transports.foreach { case (name, path) =>
        val read = Stats.median((1 to 2).map(_ =>
          tracer(s"sources.$name.noop_drain")(drain(spark, path, "noop")).secs * 1000))
        val prefix = if (name == "http") "sources" else "sources.grpc"
        layers(s"$prefix.read_ms_per_1k_blocks") = read * per1k
        if (name == "http") { // the flatten and sink split is taken over HTTP
          val flat = Stats.median((1 to 2).map(_ =>
            tracer(s"blocks.$name.flatten_drain")(drain(spark, path, "flatten")).secs * 1000))
          layers("blocks.flatten_ms_per_1k_blocks") = (flat - read) * per1k
          layers("sinks.parquet_ms_per_1k_blocks") = (tracedMedMs(name) - flat) * per1k
        }
      }
      split.close()
      directCalls()
    }

    /** Direct client and codec calls over the same payloads. */
    private def directCalls(): Unit = {
      val rnd = new scala.util.Random(conf("seed").toLong + 1)
      val hs = Seq.fill(300)(1L + rnd.nextInt(chainHeights.toInt))
      def p50Ms(name: String, f: Long => Option[String]): Seq[(Long, Option[String])] = {
        val timedCalls = hs.map { h =>
          val t0 = now
          val r = tracer(name)(f(h))
          ((now - t0) / 1e6, h -> r)
        }
        layers(s"$name.p50") = Stats.median(timedCalls.map(_._1))
        timedCalls.map(_._2)
      }
      val hc = new HttpBlockClient(conf("http"))
      val gc = new GrpcBlockClient(conf("grpc"))
      val blocks = p50Ms("sources.http.block_ms", hc.block)
      val results = p50Ms("sources.http.results_ms", hc.blockResults).toMap
      p50Ms("sources.grpc.block_ms", gc.block)
      p50Ms("sources.grpc.results_ms", gc.blockResults)
      val pairs = blocks.collect { case (h, Some(b)) => (b, results(h)) }
      val ords = graft.blocks.BlockSchemas.raw.fieldNames.indices.toArray
      val codec = new RowCodec
      // decode until ~300 ms of work is timed, after one untimed pass
      pairs.foreach { case (b, r) => codec.rawRowChecked(b, r, true, ords, 0) }
      var n = 0L
      val t0 = now
      tracer("sources.decode") {
        while (now - t0 < 300000000L) {
          pairs.foreach { case (b, r) => codec.rawRowChecked(b, r, true, ords, 0) }
          n += pairs.size
        }
      }
      layers("sources.decode_us_per_block") = (now - t0) / 1e3 / n
      val txs = pairs.flatMap { case (b, _) =>
        Json.mapper.readTree(b).path("result").path("block").path("data").path("txs")
          .elements().asScala.map(t => java.util.Base64.getDecoder.decode(t.asText())) }
      if (txs.nonEmpty) {
        txs.foreach(ProtoMini.txMeta)
        var m = 0L
        val t1 = now
        tracer("blocks.txmeta") {
          while (now - t1 < 200000000L) { txs.foreach(ProtoMini.txMeta); m += txs.size }
        }
        layers("blocks.txmeta_us_per_tx") = (now - t1) / 1e3 / m
      }
    }
  }

  // --------------------------------------------------------------- live tail

  /** Open-loop live tail: the node advances its tip on a wall-clock
    * schedule (the runner's warm, `slow` and `fast` phases); the stream
    * tails with the default trigger into the `blockfiles` sink. A height's
    * latency runs from its scheduled availability to the end of the trigger
    * that committed it.
    */
  private object LiveTail {
    /** warm, slow, fast — `<rate>x<count>` each, from the runner. */
    private def phases: Seq[(Double, Int)] = TipSchedule.parsePhases(conf("phases"))

    def run(spark: SparkSession): Unit = {
      val dir = Paths.get(conf("work"), "live").toAbsolutePath
      val out = dir.resolve("out")
      val raw = spark.readStream.format("blockfeed").option("path", conf("http"))
        .option("from", "latest").load()
      val q = BlockSinks.fileFrames(raw).select(col("height"), col("json"))
        .writeStream.format("blockfiles").option("path", out.toString)
        .option("checkpointLocation", dir.resolve("ck").toString)
        .start()
      val first = conf("tip").toLong + 1
      var tip = first - 1
      try {
        tail(q, tip, "live")
        tip += phases.map(_._2).sum
        if (tracer.on) {
          // the trigger-phase layers come from a traced tail after the
          // untraced one; no tracing overhead is taken from the pair (the
          // tail path is still warming up, and tail-to-tail noise of
          // about 10% would swamp it)
          val w = new Window(spark)
          tail(q, tip, "live.traced")
          w.close()
          tip += phases.map(_._2).sum
          triggerLayers(w)
          val ps = w.progress.all.filter(_.numInputRows > 0)
          layers("sinks.blockfiles_add_batch_ms.p50") =
            Stats.median(ps.map(_.durationMs.get("addBatch").toDouble))
        }
      } finally q.stop()
      checkFiles(out, first, tip)
    }

    /** One scheduled tail of the heights above `tip`. */
    private def tail(q: StreamingQuery, tip: Long, name: String): Unit = {
      val plan = TipSchedule(System.currentTimeMillis() + 500, phases)
      val from = q.recentProgress.length
      ctl(s"/schedule?at=${plan.atMs}&phases=${TipSchedule.render(plan.phases)}")
      val last = tip + plan.total
      val deadline = plan.dueMs(plan.total) + 5000
      tracer(s"$name.tail") {
        while (committed(q) < last && System.currentTimeMillis() < deadline) Thread.sleep(20)
      }
      // the trigger that committed `last` may still be finishing its progress
      Thread.sleep(200)
      val commitAt = mutable.Map.empty[Long, Double]
      q.recentProgress.drop(from).foreach { p =>
        val src = p.sources.head
        val lo = Option(src.startOffset).filter(_ != "null")
          .map(graft.sources.HeightOffset.fromJson(_).height).getOrElse(tip)
        val hi = graft.sources.HeightOffset.fromJson(src.endOffset).height
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
          p.batchDuration
        (math.max(lo, tip) + 1 to hi).foreach(h => commitAt.getOrElseUpdate(h, end))
      }
      val counters = ctl("/counters")
      layers("live.generator_late_ms.max") = counters.get("late_ms_max").asDouble
      attempted += plan.total
      val undelivered = (1 to plan.total).count(k => !commitAt.contains(tip + k))
      if (undelivered > 0) fail(s"$name: $undelivered of ${plan.total} scheduled " +
        "heights undelivered 5 s after the schedule ended", undelivered)
      val lastDue = plan.dueMs(plan.total)
      val backlog = commitAt.count(_._2 > lastDue).toDouble + undelivered
      def lat(i: Int): Seq[Double] = {
        val (lo, hi) = plan.phaseRange(i)
        (lo to hi).flatMap(k => commitAt.get(tip + k).map(_ - plan.dueMs(k)))
      }
      val (slow, fast) = (lat(1), lat(2))
      if (slow.isEmpty || fast.isEmpty) sys.error(s"$name: a phase delivered nothing")
      log(f"$name: slow p50 ${Stats.median(slow)}%.0f ms (${slow.size}), fast p50 ${Stats.median(fast)}%.0f ms (${fast.size})")
      if (name == "live") {
        // the slow phase: each height waits out the per-trigger fixed cost;
        // the fast phase's median spread twice as wide across seeds
        metrics("latency_ms") = Stats.median(slow)
        // the highest percentile with at least ten samples beyond it
        val all = slow ++ fast
        layers("live.tail_ms") = Stats.pct(all, 100.0 * (1 - 10.0 / all.size))
        samples("live.slow_ms") = slow
        samples("live.fast_ms") = fast
        layers("live.backlog_end_blocks") = backlog
        layers("live.slow_p50_ms") = Stats.median(slow)
        layers("live.slow_p99_ms") = Stats.pct(slow, 99)
        layers("live.fast_p50_ms") = Stats.median(fast)
        layers("live.fast_p99_ms") = Stats.pct(fast, 99)
      }
    }

    private def committed(q: StreamingQuery): Long =
      Option(q.lastProgress).map(p =>
        graft.sources.HeightOffset.fromJson(p.sources.head.endOffset).height).getOrElse(-1L)

    /** Every scheduled height lands exactly once: one file per height in
      * [lo, hi], named by the sink's layout, whose JSON carries that height,
      * and no stray temporary files.
      */
    private def checkFiles(out: Path, lo: Long, hi: Long): Unit = {
      val files = Files.walk(out).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val seen = mutable.Map.empty[Long, Int]
      files.foreach { p =>
        val name = p.getFileName.toString
        if (!name.endsWith(".json")) fail(s"live: stray file $name")
        else {
          val h = name.stripSuffix(".json").toLong
          seen(h) = seen.getOrElse(h, 0) + 1
          val rel = out.relativize(p).toString
          val head = new String(Files.readAllBytes(p), 0, 48.min(Files.size(p).toInt), "UTF-8")
          if (rel != graft.sinks.BlockFilesWriter.relPath(h) || !head.startsWith(s"""{"height":$h,"""))
            fail(s"live: $rel does not hold height $h")
        }
      }
      val missing = (lo to hi).count(h => !seen.contains(h))
      val dup = seen.count(_._2 > 1)
      val extra = seen.keys.count(h => h < lo || h > hi)
      if (missing + dup + extra > 0)
        fail(s"live: blockfiles output has $missing missing, $dup duplicated, $extra unexpected heights")
      layers("sinks.blockfiles_files_written") = files.size.toDouble
      layers("sinks.blockfiles_bytes_written") = files.map(Files.size(_).toDouble).sum
    }
  }

  // --------------------------------------------------------------- analytics

  /** A warm batch pass over the query mix: one untimed pass, then timed
    * passes for `seconds`, the seed fixing the query order. The timed
    * action is writing the query's result as parquet, which the runner then
    * checks against the query's DuckDB oracle.
    */
  private object Analytics {
    def run(spark: SparkSession): Unit = {
      val data = conf("data")
      val names = conf("queries").split(",").toSeq
      val order = new scala.util.Random(conf("seed").toLong).shuffle(names)
      val all = graft.SparkEntry.queries
      val res = Paths.get(conf("work"), "analytics").toAbsolutePath
      val broken = mutable.Set.empty[String]

      def runOne(name: String, dir: Path): Option[Double] = {
        spark.sparkContext.setLocalProperty("perfbench.query", name)
        val t0 = now
        try {
          tracer(s"queries.$name") {
            all(name)(spark, data).coalesce(1).write.mode("overwrite")
              .parquet(dir.resolve(name).toString)
          }
          Some(secsSince(t0))
        } catch { case e: Throwable =>
          if (broken.add(name)) fail(s"analytics: $name threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        } finally {
          spark.sparkContext.setLocalProperty("perfbench.query", null)
          org.apache.spark.sql.GraftCaches.sweepExcept(spark,
            graft.blocks.FixtureSource.cachedFrames)
        }
      }
      def pass(dir: Path): Map[String, Double] =
        order.flatMap(n => runOne(n, dir).map(n -> _)).toMap

      pass(res.resolve("warm")) // the first pass in a JVM runs ~2x slower
      log("analytics: warm-up pass done")
      val seconds = conf("seconds").toDouble
      val passes = mutable.ArrayBuffer.empty[Map[String, Double]]
      val t0 = now
      var last = 0.0
      // three passes at least: a per-query median over two passes is their
      // mean, and moved the end-to-end figures twice as much across seeds
      while (passes.size < 3 || (secsSince(t0) + last <= seconds && passes.size < 20)) {
        val p0 = now
        passes += pass(res.resolve("result"))
        last = secsSince(p0)
      }
      val perQuery = names.filterNot(broken).map(n => n -> Stats.median(passes.map(_(n)).toSeq)).toMap
      attempted += names.size
      val ms = perQuery.values.map(_ * 1000).toSeq
      val total = perQuery.values.sum
      metrics("throughput_per_s") = perQuery.size / total
      // the geometric mean weighs each query's relative change alike, so a
      // slower short query shows even when a long one's gain hides it in
      // the total (throughput_per_s)
      metrics("latency_ms") = math.exp(ms.map(math.log).sum / ms.size)
      names.filterNot(broken).foreach(n => samples(s"queries.${n}_s") = passes.map(_(n)).toSeq)
      layers("analytics.slowest_query_ms") = ms.max
      layers("analytics.total_s") = total
      log(f"analytics: ${perQuery.size} queries in $total%.2f s warm (${passes.size} timed passes): " +
        perQuery.toSeq.sortBy(-_._2).map { case (n, t) => f"$n $t%.2f" }.mkString(", "))

      if (tracer.on) {
        val w = new Window(spark)
        val traced = pass(res.resolve("traced"))
        val wall = w.close()
        // untraced reference: the timed passes before and one pass after
        val after = pass(res.resolve("traced"))
        taskLayers(w, wall)
        triggerLayers(w)
        names.foreach { n =>
          layers(s"queries.${n}_s") = traced.getOrElse(n, 0.0)
          layers(s"queries.${n}_cpu_s") =
            Option(w.tasks.cpuNsByQuery.get(n)).map(_.get / 1e9).getOrElse(0.0)
        }
        val ref = (total + after.values.sum) / 2
        layers("trace.analytics_overhead_frac") = traced.values.sum / ref - 1.0
      }

      val oracle = Json.mapper.createObjectNode()
      names.filterNot(broken).foreach { n =>
        graft.SparkEntry.oracleSql.get(n) match {
          case Some(sql) => oracle.put(n, sql.replace("{GRAFT_OUT}", res.resolve("result").toString))
          case None => fail(s"analytics: $n has no oracle")
        }
      }
      Json.mapper.writeValue(res.resolve("result").resolve("oracle_sql.json").toFile, oracle)
    }
  }
}
