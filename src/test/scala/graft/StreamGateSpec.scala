package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The st-family gate queries run single-file tables (one micro-batch);
  * this spec drives the SAME operators through the real file source under
  * the conditions the gate can't produce: MULTI-batch arrival
  * (maxFilesPerTrigger=1 over a chunked copy of the table) and a
  * KILL/RESUME mid-stream from the checkpoint. Exactly-once through
  * restart: the final drained state must equal the batch aggregation —
  * no lost chunk, no double-counted chunk.
  */
class StreamGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    Session.builder("streamgate-test").getOrCreate()
  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.streams.active.foreach(_.stop())

  /** The events table rewritten as a 3-file directory, so the file source
    * has real multi-batch work.
    */
  private lazy val chunkedDir: String = {
    val tmp = java.nio.file.Files.createTempDirectory("stream_chunks").toString
    Tables.load(spark, dir, "events")
      .repartition(3)
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    tmp
  }

  private def streamedCounts(srcDir: String,
                             maxFiles: Option[Int],
                             ckpt: Option[String],
                             name: String): DataFrame = {
    val schema = spark.read.parquet(s"$chunkedDir/events.parquet").schema
    var reader = spark.readStream.schema(schema)
    maxFiles.foreach(n => reader = reader.option("maxFilesPerTrigger", n))
    val ev = reader.parquet(s"$srcDir/events.parquet")
      .select(col("event_type"), col("ts"))
    var writer = graft.streaming.StreamingVolume.dailyCounts(ev)
      .writeStream.format("memory").queryName(name).outputMode("complete")
    ckpt.foreach(c => writer = writer.option("checkpointLocation", c))
    val q = writer.trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "drain timed out")
    q.stop()
    spark.table(name)
  }

  private def asSet(df: DataFrame): Set[(String, String, Long)] = {
    import spark.implicits._
    df.select(col("event_type"), date_format(col("day"), "yyyy-MM-dd"),
      col("cnt")).as[(String, String, Long)].collect().toSet
  }

  test("multi-batch arrival accumulates to the batch aggregation") {
    val batch = asSet(graft.streaming.StreamingVolume.dailyCounts(
      Tables.load(spark, dir, "events")))
    val streamed = asSet(streamedCounts(chunkedDir, Some(1), None,
      "sg_chunked"))
    assert(streamed === batch)
  }

  test("stop between arrivals, resume from checkpoint: exactly-once totals") {
    // DETERMINISTIC two-phase arrival (a mid-flight kill races batch
    // completion on a fast host): run 1 sees only the first chunk file and
    // drains to natural termination; the remaining chunks then land and
    // run 2 resumes from the same checkpoint. Exactly-once means the
    // resumed complete-mode state equals the batch aggregation — chunk 1
    // neither lost (offsets carry it) nor double-counted (state carries
    // its contribution).
    val stage = java.nio.file.Files.createTempDirectory("sg_stage").toString
    val tbl = java.nio.file.Paths.get(s"$stage/events.parquet")
    java.nio.file.Files.createDirectories(tbl)
    import scala.jdk.CollectionConverters._
    val parts = java.nio.file.Files
      .list(java.nio.file.Paths.get(s"$chunkedDir/events.parquet"))
      .iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    assert(parts.size === 3)
    def land(p: java.nio.file.Path): Unit =
      java.nio.file.Files.copy(p, tbl.resolve(p.getFileName.toString))
    val ckpt = java.nio.file.Files.createTempDirectory("sg_ckpt").toString
    land(parts.head)
    streamedCounts(stage, Some(1), Some(ckpt), "sg_resume_a")
    parts.tail.foreach(land)
    val resumed = asSet(
      streamedCounts(stage, Some(1), Some(ckpt), "sg_resume_b"))
    val batch = asSet(graft.streaming.StreamingVolume.dailyCounts(
      Tables.load(spark, dir, "events")))
    assert(resumed === batch,
      "restart from checkpoint must neither lose nor double-count chunks")
  }

  /** The st5b mechanics pinned on synthetic data THROUGH the real file
    * source: with a ts-split two-file corpus read one file per trigger, a
    * tail-stalled source's timer fires against file 1's watermark — BEFORE
    * file 2 even exists on disk — and the final alert set still equals the
    * single-batch drain's (a source with a later event re-arms during file
    * 2's input phase and never alerts early). Data: silence 1000 s;
    * B stalls at t=10000 s forever (deadline 11000 s ≤ W1 = 11800 s →
    * fires mid-stream); A (11500 s → 15000 s) and C (11800 s → 14500 s)
    * keep their mid-split deadlines above W1 and their final gaps under
    * silence → B alone, in every batching.
    */
  test("watchdog timers fire mid-stream at a file batch boundary (st5b)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    implicit val stallEnc: org.apache.spark.sql.Encoder[graft.streaming.FeedStall] =
      org.apache.spark.sql.Encoders.product[graft.streaming.FeedStall]
    // NB: keep every event strictly above epoch 0 — the initial watermark
    // IS 0, and a row at exactly the watermark is dropped as late by the
    // stateful operator (no timer ever arms for it).
    val df = Seq(("A", 11500L), ("A", 15000L), ("B", 10000L),
      ("C", 11800L), ("C", 14500L)).toDF("source", "secs")
      .select(col("source"), timestamp_seconds(col("secs")).as("ts"))
    val stage = java.nio.file.Files.createTempDirectory("sg_wd_stage")
    def land(pred: org.apache.spark.sql.Column, nm: String,
             into: java.nio.file.Path = stage): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = into.resolve(s"_w$nm")
      df.filter(pred).coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      java.nio.file.Files.move(part, into.resolve(s"$nm.parquet"))
    }
    val split = timestamp_seconds(lit(12000L))
    land(col("ts") <= split, "000")

    def watchdog(src: String) =
      s.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .as[(String, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.FeedWatchdog(1000 * 1000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
    val q = watchdog(stage.toString).toDF().writeStream.format("memory")
      .queryName("sg_wd").outputMode("append").start()
    try {
      def collected(): Set[(String, Long, Long)] =
        s.table("sg_wd")
          .select(col("source"), expr("unix_millis(last_seen)"),
            col("silence_ms"))
          .as[(String, Long, Long)].collect().toSet
      q.processAllAvailable()
      // The timer-firing no-data batch commits asynchronously after the
      // data batch advances the watermark — processAllAvailable does not
      // wait for it, so poll. File 001 does not exist for this whole wait:
      // when the alert lands it has provably fired mid-stream.
      val deadline = System.currentTimeMillis() + 60000
      while (collected().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(collected() === Set(("B", 10000000L, 1000000L)),
        "tail stall must fire against file 1's watermark")
      land(col("ts") > split, "001")
      q.processAllAvailable()
      assert(collected() === Set(("B", 10000000L, 1000000L)),
        "file 2's re-arms must not add or change alerts")
    } finally q.stop()

    // equality with the single-batch drain over the same corpus
    val single = java.nio.file.Files.createTempDirectory("sg_wd_single")
    land(lit(true), "000", single)
    val q2 = watchdog(single.toString).toDF().writeStream.format("memory")
      .queryName("sg_wd_single").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000), "single-batch drain timed out")
    q2.stop()
    val singleSet = s.table("sg_wd_single")
      .select(col("source"), expr("unix_millis(last_seen)"), col("silence_ms"))
      .as[(String, Long, Long)].collect().toSet
    assert(singleSet === Set(("B", 10000000L, 1000000L)),
      "batch-boundary and single-batch alert sets must agree")
  }

  /** st5c's load-bearing claim, pinned deterministically: an INTERMEDIATE
    * stall — a source that goes quiet past the silence threshold and then
    * RESUMES — is visible ONLY to the mid-stream timer phase. The split
    * drain must alert B with `last_seen` frozen at the pre-gap event,
    * while a single-batch drain over the IDENTICAL corpus alerts nobody:
    * B's closing event re-arms its timer above the final watermark, so
    * every final-state audit sees a healthy source. Data (silence 1000 s):
    * B stalls at 10000 s (deadline 11000 ≤ W1 = 11800 → fires in the
    * no-data batch after file 1) and resumes at 14001 s (re-armed expiry
    * 15001 > final watermark 15000 → never fires again); A and C keep
    * every deadline above the watermark that could see it.
    */
  test("intermediate stall alerts mid-stream; invisible to a single batch (st5c)") {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s.implicits._
    implicit val stallEnc: org.apache.spark.sql.Encoder[graft.streaming.FeedStall] =
      org.apache.spark.sql.Encoders.product[graft.streaming.FeedStall]
    val df = Seq(("A", 11500L), ("A", 15000L), ("B", 10000L), ("B", 14001L),
      ("C", 11800L), ("C", 14500L)).toDF("source", "secs")
      .select(col("source"), timestamp_seconds(col("secs")).as("ts"))
    val stage = java.nio.file.Files.createTempDirectory("sg_wd_mid")
    def land(pred: org.apache.spark.sql.Column, nm: String,
             into: java.nio.file.Path = stage): Unit = {
      import scala.jdk.CollectionConverters._
      val tmp = into.resolve(s"_w$nm")
      df.filter(pred).coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      java.nio.file.Files.move(part, into.resolve(s"$nm.parquet"))
    }
    val split = timestamp_seconds(lit(12000L))
    land(col("ts") <= split, "000")

    def watchdog(src: String) =
      s.readStream.schema(df.schema).option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
        .as[(String, java.sql.Timestamp)]
        .groupByKey(_._1)
        .transformWithState(
          new graft.streaming.FeedWatchdog(1000 * 1000L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
    val q = watchdog(stage.toString).toDF().writeStream.format("memory")
      .queryName("sg_wd_mid").outputMode("append").start()
    try {
      def collected(): Set[(String, Long, Long)] =
        s.table("sg_wd_mid")
          .select(col("source"), expr("unix_millis(last_seen)"),
            col("silence_ms"))
          .as[(String, Long, Long)].collect().toSet
      q.processAllAvailable()
      // Poll for the async timer-firing no-data batch; file 001 does not
      // exist yet, so the alert provably fires mid-stream, pre-resume.
      val deadline = System.currentTimeMillis() + 60000
      while (collected().isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(collected() === Set(("B", 10000000L, 1000000L)),
        "the intermediate stall must fire against file 1's watermark " +
          "with last_seen frozen at the pre-gap event")
      land(col("ts") > split, "001")
      q.processAllAvailable()
      assert(collected() === Set(("B", 10000000L, 1000000L)),
        "B's resume must re-arm silently — no second alert, no rewrite")
    } finally q.stop()

    // The same corpus in ONE batch: every source's closing event re-arms
    // above the final watermark — the final-state audit is blind to B.
    val single = java.nio.file.Files.createTempDirectory("sg_wd_mid_single")
    land(lit(true), "000", single)
    val q2 = watchdog(single.toString).toDF().writeStream.format("memory")
      .queryName("sg_wd_mid_single").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    assert(q2.awaitTermination(120000), "single-batch drain timed out")
    q2.stop()
    val singleSet = s.table("sg_wd_mid_single")
      .select(col("source"), expr("unix_millis(last_seen)"), col("silence_ms"))
      .as[(String, Long, Long)].collect().toSet
    assert(singleSet === Set.empty[(String, Long, Long)],
      "a single-batch (final-state) audit must NOT see the healed stall")
  }

  /** Drains `q` (a gate query) in `s` and returns its result together with
    * the state-partition count of every progress its `sink` stream reported.
    */
  private def drainWithPartitions(s: SparkSession, q: GQuery,
                                  sink: String): (DataFrame, Seq[Int]) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val parts = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == sink)
          e.progress.stateOperators.foreach(o => parts.add(o.numShufflePartitions.toInt))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    s.streams.addListener(l)
    try {
      val out = q.run(s, dir)
      // listener events arrive asynchronously; termination comes last
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "no termination event")
      import scala.jdk.CollectionConverters._
      (out, parts.asScala.toSeq)
    } finally s.streams.removeListener(l)
  }

  private def hllRows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("st3 drain sizes its state partitions by input bytes, then restores the session") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before === Session.shufflePartitions)
    val (out, parts) = drainWithPartitions(spark,
      queries.StreamGate.hllSnapshots, "st3_snaps")
    assert(parts.nonEmpty && parts.forall(_ == 1),
      s"a 27 KB events table needs one state partition, got $parts")
    assert(hllRows(out).nonEmpty)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before,
      "the drain must restore the session's shuffle partitions")

    val s = spark.newSession()
    // unknown input size (no file-source leaf) keeps the session default
    assert(queries.StreamGate.statePartitions(s,
      s.readStream.format("rate").load()) === None)
    // the session's shuffle partitions stay the ceiling
    val ev = Tables.loadStream(s, dir, "events")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1")
    assert(queries.StreamGate.statePartitions(s, ev) ===
      Some(s.conf.get("spark.sql.shuffle.partitions").toInt))
  }

  test("st3 answer is independent of the state-partition count") {
    val one = drainWithPartitions(spark.newSession(),
      queries.StreamGate.hllSnapshots, "st3_snaps")
    val s = spark.newSession()
    // sf0.001's events file is ~27 KB: an 8 KB advisory size gives k = 4
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8192")
    val many = drainWithPartitions(s, queries.StreamGate.hllSnapshots,
      "st3_snaps")
    assert(one._2.forall(_ == 1))
    assert(many._2.nonEmpty && many._2.forall(_ > 1),
      s"expected k > 1 state partitions, got ${many._2}")
    assert(hllRows(many._1) === hllRows(one._1))
  }

}
