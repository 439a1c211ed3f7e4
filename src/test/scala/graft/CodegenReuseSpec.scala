package graft

import graft.blocks.{EventTables, FixtureSource}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming queries reuse generated code. Every streaming query runs on a
  * cloned session with its own session UUID; with session artifact
  * isolation on, each UUID got a fresh executor classloader, and Spark's
  * codegen cache (keyed by classloader and source) missed on every drain.
  * `Session.builder` turns the isolation off, so two identical drains in one
  * session must run their tasks on the same context classloader and the
  * second must compile nothing.
  */
class CodegenReuseSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = Session.builder("codegen-reuse-test").getOrCreate()

  test("a second identical backfill drain shares the executor classloader and compiles nothing") {
    val root = java.nio.file.Files.createTempDirectory("codegen-reuse")
    // the perfbench ingest drain's shape over the committed chain: blockfeed
    // → txEvents → parquet per batch; the filter records each task's
    // context classloader and keeps every row
    val seeLoader = udf { () =>
      CodegenReuseSpec.loaders.add(Thread.currentThread.getContextClassLoader)
      true
    }.asNondeterministic()
    def drain(id: Int): (Set[String], Long) = {
      CodegenReuseSpec.loaders.clear()
      val out = root.resolve(s"out-$id")
      val writeEvents: (DataFrame, Long) => Unit = (batch, batchId) =>
        EventTables.txEvents(batch).filter(seeLoader())
          .write.mode("overwrite").parquet(s"$out/batch=$batchId")
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val q = spark.readStream.format("blockfeed")
        .option("path", FixtureSource.DefaultTemplates)
        .option("from", "2270370").option("to", "2270469")
        .option("heightsPerPartition", "128")
        .load()
        .writeStream.foreachBatch(writeEvents)
        .option("checkpointLocation", root.resolve(s"ck-$id").toString)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), s"drain $id did not finish")
      q.exception.foreach(e => throw e)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      assert(spark.read.parquet(out.toString).count() === Fixture.txEventRows)
      import scala.jdk.CollectionConverters._
      val seen = CodegenReuseSpec.loaders.synchronized(CodegenReuseSpec.loaders.asScala.toSet)
        .map((l: ClassLoader) => s"${l.getClass.getName}@${System.identityHashCode(l)}")
      (seen, compiles)
    }
    try {
      val (first, _) = drain(1)
      val (second, compiles) = drain(2)
      assert(first.size === 1, s"drain 1 tasks saw several classloaders: $first")
      assert(second === first, "drain 2 ran its tasks on another classloader")
      assert(compiles === 0L, s"drain 2 recompiled its plan ($compiles Janino compiles)")
    } finally TestDirs.deleteRecursively(root, retries = 3)
  }
}

object CodegenReuseSpec {
  /** The context classloaders the probe's tasks ran on (local mode: the
    * executor shares this JVM). */
  val loaders: java.util.Set[ClassLoader] = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[ClassLoader, java.lang.Boolean]()))
}
