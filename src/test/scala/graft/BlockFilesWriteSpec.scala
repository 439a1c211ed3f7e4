package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import graft.blocks.FixtureSource
import graft.sinks.{BlockFilesWriter, BlockSinks}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `blockfiles` DSv2 writer: one file per block at
  * `BlockFilesWriter.relPath(height)` holding that height's `fileFrames`
  * json, idempotent under rewrite (the task-retry / speculative-execution /
  * epoch-replay safety argument), and exactly-once through `writeStream`
  * with a checkpointed restart.
  */
class BlockFilesWriteSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("bfw-test").getOrCreate()
  private val T = FixtureSource.DefaultTemplates
  private def frames = BlockSinks.fileFrames(
    FixtureSource.blocksRaw(spark, T, 2270370L, 2270469L))

  private def listFiles(dir: String): Map[String, String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".json"))
      .map(p => Paths.get(dir).relativize(p).toString ->
        new String(Files.readAllBytes(p), "UTF-8"))
      .toMap

  test("batch write: the file set and bytes of fileFrames' relPath(h) → json") {
    val dir = Files.createTempDirectory("bfw_dsv2").toString
    frames.select(col("height"), col("json"))
      .write.format("blockfiles").option("path", dir).mode("append").save()
    val rows = frames.select("height", "rel_path", "json").collect()
    // the splay column matches the scala twin
    assert(rows.forall(r => r.getString(1) == BlockFilesWriter.relPath(r.getLong(0))))
    val expect = rows.map(r => BlockFilesWriter.relPath(r.getLong(0)) -> r.getString(2)).toMap
    assert(expect.size === 100)
    assert(listFiles(dir) === expect)
  }

  test("rewrite is idempotent: same files, no temp residue") {
    val dir = Files.createTempDirectory("bfw_idem").toString
    val f = frames.select(col("height"), col("json"))
    f.write.format("blockfiles").option("path", dir).mode("append").save()
    val first = listFiles(dir)
    f.write.format("blockfiles").option("path", dir).mode("append").save()
    val second = listFiles(dir)
    assert(first === second)
    val stray = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.contains(".tmp-")).toSeq
    assert(stray.isEmpty, s"temp files leaked: $stray")
  }

  test("streaming write: checkpointed restart yields exactly 100 files") {
    val dir = Files.createTempDirectory("bfw_stream").toString
    val ckpt = Files.createTempDirectory("bfw_ckpt").toString
    def run(to: Long): Unit = {
      val raw = spark.readStream.format("blockfeed")
        .option("path", T).option("from", "2270370").option("to", to.toString)
        .option("maxHeightsPerTrigger", "32")
        .load()
      val q = BlockSinks.fileFrames(raw).select(col("height"), col("json"))
        .writeStream.format("blockfiles")
        .option("path", dir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run(2270419L)                       // first half
    assert(listFiles(dir).size === 50)
    run(2270469L)                       // restart from the offset log
    val files = listFiles(dir)
    assert(files.size === 100)
    // replayed/extended run wrote each height exactly once, bytes intact
    val expect = BlockSinks.fileFrames(
      FixtureSource.blocksRaw(spark, T, 2270370L, 2270469L))
      .select(col("height")).collect().map(_.getLong(0)).toSet
    assert(files.keySet.map(_.split("/")(1).stripSuffix(".json").toLong) === expect)
  }
}
