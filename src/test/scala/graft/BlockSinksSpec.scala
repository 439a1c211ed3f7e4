package graft

import graft.blocks.FixtureSource
import graft.sinks.BlockSinks
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Sink layer (SURVEY §2.2): K2 file layout + idempotence, K4 Kafka framing,
  * S15/F15 serde round-trip, K8 multi-sink fan-out, K3 sampling.
  */
class BlockSinksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = Session.get("sinks-spec")
  private val T = FixtureSource.DefaultTemplates
  private val From = 2270370L
  private val To = 2270469L

  override def afterAll(): Unit = spark.stop()

  private def raw = FixtureSource.blocksRaw(spark, T, From, To)

  test("K2 file layout matches the reference sha-splay scheme") {
    val row = BlockSinks.fileFrames(raw)
      .filter(col("height") === From).select("rel_path").head()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(From.toString.getBytes("UTF-8"))
      .map("%02X".format(_)).mkString
    assert(row.getString(0) == s"${hex.take(4)}/000$From.json")
  }

  test("K2 writer: one file per block, idempotent on rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("k2sink").toString
    BlockSinks.fileSink(dir)(raw, 0L)
    def listFiles() = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".json")).toSeq
    }
    val files = listFiles()
    assert(files.size == 100) // 100 historical fixture blocks in range
    val probe = files.head
    val before = java.nio.file.Files.getLastModifiedTime(probe)
    BlockSinks.fileSink(dir)(raw, 1L) // rerun: must skip existing
    assert(listFiles().size == 100)
    assert(java.nio.file.Files.getLastModifiedTime(probe) == before)
    // content is valid JSON carrying the height
    val txt = new String(java.nio.file.Files.readAllBytes(probe), "UTF-8")
    assert(txt.contains("\"height\":"))
  }

  test("K4/S15: Kafka frames round-trip through from_json losslessly") {
    val frames = BlockSinks.kafkaFrames(raw)
    val back = BlockSinks.decodeKafkaFrames(frames, spark)
    assert(back.count() == 100)
    // flattened tx-event count survives the round trip
    val nEvents = back.select(explode(col("txEvents"))).count()
    val direct = BlockSinks.streamBlocks(raw).select(explode(col("txEvents"))).count()
    assert(nEvents == direct && nEvents > 0)
    // key format
    val k = frames.select(col("key").cast("string")).head().getString(0)
    assert(k.matches(s"${Fixture.chainId}\\.\\d+"))
  }

  test("K8 multi-sink fan-out executes every sink on one batch") {
    val dir = java.nio.file.Files.createTempDirectory("k8sink").toString
    val seen = new java.util.concurrent.atomic.AtomicLong
    val sink = BlockSinks.multiSink(Seq(
      BlockSinks.fileSink(dir),
      (b, _) => seen.set(b.count())))
    sink(raw, 0L)
    import scala.jdk.CollectionConverters._
    val n = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .count(_.toString.endsWith(".json"))
    assert(n == 100 && seen.get() == 100)
  }

  test("K3 console sampling keeps every nth height") {
    val hs = BlockSinks.consoleSample(raw, 10)
      .select("height").collect().map(_.getLong(0)).sorted
    assert(hs.nonEmpty && hs.forall(_ % 10 == 0))
  }

  test("W6 ordered sink: ascending single-partition writes, same file set") {
    val ord = java.nio.file.Files.createTempDirectory("w6ord").toString
    val unord = java.nio.file.Files.createTempDirectory("w6un").toString
    BlockSinks.fileSink(ord, ordered = true)(raw, 0L)
    BlockSinks.fileSink(unord)(raw, 0L)
    import scala.jdk.CollectionConverters._
    def rel(dir: String) =
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".json"))
        .map(p => java.nio.file.Paths.get(dir).relativize(p).toString).toSet
    assert(rel(ord) === rel(unord) && rel(ord).size === 100)
    // the ordered plan is one partition emitting strictly ascending heights
    // (the reference's flatMapConcat semantics, EventStream.kt:121)
    val frames = BlockSinks.fileFrames(raw).orderBy(col("height")).coalesce(1)
    assert(frames.rdd.getNumPartitions === 1)
    val hs = frames.select("height").collect().map(_.getLong(0))
    assert(hs.toSeq === hs.sorted.toSeq)
  }

  test("S15 streaming: kafka-shaped frames decode in a continuous plan") {
    // the engine's Kafka source is the built-in kafka format + this
    // projection; MemoryStream stands in for the broker (same (key, value)
    // binary schema), proving decodeKafkaFrames works under readStream
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val frames = BlockSinks.kafkaFrames(raw)
      .collect().map(r => (r.getAs[Array[Byte]](0), r.getAs[Array[Byte]](1)))
    val mem = MemoryStream[(Array[Byte], Array[Byte])]
    val q = BlockSinks.decodeKafkaFrames(
        mem.toDF().toDF("key", "value"), spark)
      .select(col("height"), size(col("txEvents")).as("n_tx_events"))
      .writeStream.format("memory").queryName("s15_decode")
      .outputMode("append").start()
    mem.addData(frames.take(50).toSeq)
    q.processAllAvailable()
    mem.addData(frames.drop(50).toSeq)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("s15_decode")
    assert(got.count() === 100L)
    val direct = BlockSinks.streamBlocks(raw)
      .select(col("height"), size(col("txEvents")).as("n_tx_events"))
    assert(got.except(direct).count() === 0L)
  }

  test("K5: Kafka frames decode back out to the K2 file layout") {
    val dir = java.nio.file.Files.createTempDirectory("k5sink").toString
    val frames = BlockSinks.kafkaFrames(raw)
    BlockSinks.kafkaFileSink(dir, spark)(frames, 0L)
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.filter(_.toString.endsWith(".json")).toSeq
    assert(files.size === 100)
    // decoded-record fidelity: the re-serialized JSON still carries the
    // height and the flattened event lists
    val txt = new String(java.nio.file.Files.readAllBytes(files.head), "UTF-8")
    assert(txt.contains("\"height\":") && txt.contains("\"txEvents\":"))
  }
}
