package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Base64
import scala.jdk.CollectionConverters._

import graft.blocks.FixtureSource
import graft.sinks.{BlockFilesWriter, BlockSinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The K2 file routes over a chain generated into a temp dir (the
  * FIXTURES.md §A layout), so they run without the golden templates. Every
  * route — `fileSink` unordered and ordered, `kafkaFileSink`, a two-sink
  * `multiSink` and the `graft.Main` CLI — must land the same file set and
  * bytes as a direct `blockfiles` write of `fileFrames`, leave no temp
  * files, and rewrite nothing when replayed.
  */
class BlockFilesChainSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = Session.get("block-files-chain-spec")
  private val Heights = 60L
  private val root = Files.createTempDirectory("k2chain")
  private lazy val chain = TestChain.write(root.resolve("chain"), Heights).toString
  private def raw = FixtureSource.blocksRaw(spark, chain, 1L, Heights)

  override def afterAll(): Unit = TestDirs.deleteRecursively(root, retries = 3)

  private def newDir(name: String): String =
    Files.createDirectories(root.resolve(name)).toString

  /** rel path → f(path) for every regular file under `dir`. */
  private def walk[A](dir: String)(f: Path => A): Map[String, A] = {
    val paths = Files.walk(Paths.get(dir))
    try paths.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => Paths.get(dir).relativize(p).toString -> f(p)).toMap
    finally paths.close()
  }
  private def files(dir: String) = walk(dir)(p => new String(Files.readAllBytes(p), "UTF-8"))
  private def mtimes(dir: String) = walk(dir)(Files.getLastModifiedTime(_))

  /** The direct `blockfiles` write of `fileFrames` every route must match. */
  private lazy val expected: Map[String, String] = {
    val dir = newDir("direct")
    BlockSinks.fileFrames(raw).select(col("height"), col("json"))
      .write.format("blockfiles").option("path", dir).mode("append").save()
    files(dir)
  }

  test("the direct blockfiles write is fileFrames' relPath(h) → json, one file per height") {
    val frames = BlockSinks.fileFrames(raw).collect()
    assert(frames.length === Heights)
    assert(frames.forall(r =>
      r.getAs[String]("rel_path") == BlockFilesWriter.relPath(r.getAs[Long]("height"))))
    assert(expected === frames.map(r =>
      BlockFilesWriter.relPath(r.getAs[Long]("height")) -> r.getAs[String]("json")).toMap)
    // the chain exercises the fee/memo decode and the tx-event flattening
    assert(expected.values.exists(j => j.contains("\"note\":\"memo-")))
  }

  test("fileSink, ordered fileSink, kafkaFileSink and a two-sink multiSink " +
      "write the bytes of the direct write") {
    val unordered = newDir("unordered")
    BlockSinks.fileSink(unordered)(raw, 0L)
    val ordered = newDir("ordered")
    BlockSinks.fileSink(ordered, ordered = true)(raw, 0L)
    val kafka = newDir("kafka")
    BlockSinks.kafkaFileSink(kafka, spark)(BlockSinks.kafkaFrames(raw), 0L)
    // a derived frame, so its storage level is the sink's doing, not the
    // fixture cache's
    val batch = raw.filter(col("height") >= 1L)
    val levels = scala.collection.mutable.ArrayBuffer.empty[StorageLevel]
    val seen = new java.util.concurrent.atomic.AtomicLong
    val fanOut = newDir("fanout")
    BlockSinks.multiSink(Seq(
      BlockSinks.fileSink(fanOut),
      (b, _) => { levels += b.storageLevel; seen.set(b.count()) }))(batch, 0L)
    for (dir <- Seq(unordered, ordered, kafka, fanOut))
      assert(files(dir) === expected, dir)
    assert(seen.get() === Heights)
    // the batch is persisted once for every sink it feeds — a lone ordered
    // fileSink reads it twice too (range sample, then write) — and released
    // after
    assert(levels.toSeq === Seq(StorageLevel.MEMORY_AND_DISK))
    BlockSinks.multiSink(Seq((b, _) => levels += b.storageLevel))(batch, 1L)
    assert(levels.last === StorageLevel.MEMORY_AND_DISK)
    assert(batch.storageLevel === StorageLevel.NONE)
  }

  private def runMain(out: String, ckpt: String, extra: String*): Unit =
    Main.main(Array(s"path=$chain", "from=1", s"out=$out", s"checkpoint=$ckpt",
      "maxHeightsPerTrigger=16", "trigger=availableNow") ++ extra)

  /** Drops the newest batch's commit marker (and its checksum), so a restart
    * replays that batch from the offset log; returns its commit file.
    */
  private def uncommitLast(ckpt: String): Path = {
    val commits = Paths.get(ckpt, "commits")
    val last = walk(commits.toString)(identity).keys
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    Files.deleteIfExists(commits.resolve(s".$last.crc"))
    Files.delete(commits.resolve(last))
    commits.resolve(last)
  }

  test("graft.Main default, ordered=true and nth= runs land every height " +
      "exactly once; replaying an uncommitted batch rewrites nothing") {
    for ((name, extra) <- Seq("default" -> Nil, "ordered" -> Seq("ordered=true"),
        "nth" -> Seq("nth=10"))) {
      val out = newDir(s"main-$name")
      val ckpt = newDir(s"main-$name-ckpt")
      runMain(out, ckpt, extra: _*)
      // every file is a finished block file: no `.tmp-` residue, no extras
      assert(files(out) === expected, name)
      val stamps = mtimes(out)
      val replayed = uncommitLast(ckpt)
      runMain(out, ckpt, extra: _*)
      assert(Files.exists(replayed), s"$name: the uncommitted batch was not replayed")
      assert(files(out) === expected, name)
      assert(mtimes(out) === stamps, name)
    }
  }

  test("a checkpoint made by a writeStream blockfiles query resumes under " +
      "graft.Main with no missing or rewritten file") {
    val out = newDir("resume")
    val ckpt = newDir("resume-ckpt")
    val half = Heights / 2
    val feed = spark.readStream.format("blockfeed").option("path", chain)
      .option("from", "1").option("to", half.toString)
      .option("maxHeightsPerTrigger", "16").load()
    BlockSinks.fileFrames(feed).select(col("height"), col("json"))
      .writeStream.format("blockfiles").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val first = files(out)
    assert(first === expected.filter { case (k, _) =>
      k.split('/')(1).stripSuffix(".json").toLong <= half })
    val stamps = mtimes(out)
    runMain(out, ckpt)
    assert(files(out) === expected)
    assert(mtimes(out).filter { case (k, _) => first.contains(k) } === stamps)
  }
}

/** Writes a small dense chain in the golden-template layout (FIXTURES.md §A;
  * `perfbench/chaingen.py` generates the same shape at scale): heights
  * 1..n, every third block carrying one or two cosmos `TxRaw` txs with a fee
  * and a memo, each tx with one to three events, one failed tx per
  * two-tx block, and a templated `abci_info` tip of n.
  */
private object TestChain {

  private def varint(n: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    var v = n
    while (v >= 0x80) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
    out.toByteArray
  }
  private def field(num: Int, payload: Array[Byte]): Array[Byte] =
    varint((num << 3) | 2) ++ varint(payload.length) ++ payload
  private def utf8(s: String): Array[Byte] = s.getBytes("UTF-8")
  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)

  /** TxRaw{body: TxBody{messages, memo}, auth_info: AuthInfo{fee{amount}}}. */
  private def txRaw(fee: Long, memo: String): Array[Byte] = {
    val body = field(1, field(1, utf8("/cosmos.bank.v1beta1.MsgSend"))) ++
      field(2, utf8(memo))
    val coin = field(1, utf8("nhash")) ++ field(2, utf8(fee.toString))
    field(1, body) ++ field(2, field(2, field(1, coin)))
  }

  private def event(kind: String, key: String, value: String): String =
    s"""{"type":"$kind","attributes":[{"key":"${b64(utf8(key))}",""" +
      s""""value":"${b64(utf8(value))}","index":true}]}"""

  def write(dir: Path, n: Long): Path = {
    Seq("block", "block_results", "abci_info")
      .foreach(d => Files.createDirectories(dir.resolve(d)))
    def put(rel: String, body: String): Unit =
      Files.write(dir.resolve(rel), utf8(body))
    for (h <- 1L to n) {
      val nTxs = if (h % 3 == 0) (h % 2 + 1).toInt else 0
      val txs = (0 until nTxs).map(i => b64(txRaw(1000L * h + i, s"memo-$h-$i")))
      val results = (0 until nTxs).map { i =>
        val evs = (0 to ((h + i) % 3).toInt).map(e => event("transfer", "amount", s"$h.$i.$e"))
        s"""{"code":${if (i == 1) 5 else 0},"log":"[]","gas_used":"${h * 100}",""" +
          s""""events":[${evs.mkString(",")}]}"""
      }
      val time = java.time.Instant.ofEpochSecond(1700000000L + 6 * h, h * 1000L)
      put(s"block/$h.json",
        s"""{"jsonrpc":"2.0","id":-1,"result":{"block_id":{"hash":"B$h",""" +
          s""""parts":{"total":1,"hash":"P$h"}},"block":{"header":{""" +
          s""""version":{"block":"11","app":"0"},"chain_id":"spec-1",""" +
          s""""height":"$h","time":"$time","proposer_address":"AA"},""" +
          s""""data":{"txs":[${txs.map("\"" + _ + "\"").mkString(",")}]},""" +
          s""""evidence":{"evidence":[]}}}}""")
      put(s"block_results/$h.json",
        s"""{"jsonrpc":"2.0","id":-1,"result":{"height":"$h",""" +
          s""""txs_results":${if (results.isEmpty) "null" else results.mkString("[", ",", "]")},""" +
          s""""begin_block_events":[${event("mint", "amount", h.toString)}],""" +
          s""""end_block_events":null}}""")
    }
    put("abci_info/success.json",
      """{"jsonrpc":"2.0","id":-1,"result":{"response":{"data":"provenanced",""" +
        "\"last_block_height\":\"${last_block_height:-" + n + "}\"}}}")
    dir
  }
}
