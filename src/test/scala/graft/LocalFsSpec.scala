package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine's `file:` filesystem ([[ForkFreeLocalFileSystem]],
  * [[ForkFreeLocalFs]]): no process forks on the checkpoint and output
  * paths, and the same observable behaviour as stock Hadoop for the two
  * operations it does in the JVM (permissions, link status).
  */
class LocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession =
    Session.builder("localfs-test").getOrCreate()
  private val dir = "/root/testdata/sf0.001"
  private lazy val tmp: JPath = Files.createTempDirectory("localfs")

  override def afterAll(): Unit = TestDirs.deleteRecursively(tmp)

  private def hadoopConf(umask: Option[String]): Configuration = {
    val c = new Configuration(spark.sparkContext.hadoopConfiguration)
    umask.foreach(m => FsPermission.setUMask(c, new FsPermission(m)))
    c
  }

  /** The stock FileSystem/FileContext pair and the engine's, both for `c`. */
  private def pairs(c: Configuration): Seq[(String, FileSystem, FileContext)] = {
    val root = URI.create("file:///")
    def fc(afs: AbstractFileSystem) = FileContext.getFileContext(afs, c)
    val stockFs = new LocalFileSystem()
    stockFs.initialize(root, c)
    // LocalFs's constructors are package-private: let Hadoop build it
    val stockConf = new Configuration(c)
    stockConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs].getName)
    val stockAfs = AbstractFileSystem.createFileSystem(root, stockConf)
    val ours = new ForkFreeLocalFileSystem()
    ours.initialize(root, c)
    Seq(("stock", stockFs, fc(stockAfs)),
      ("ours", ours, fc(new ForkFreeLocalFs(root, c))))
  }

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def tree(root: JPath): Map[String, String] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString -> Integer.toOctalString(mode(p))
    }.toMap
    finally walk.close()
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.isDirectory, s.isSymlink, s.getLen, s.getPermission,
      s.getOwner, s.getGroup, s.getModificationTime)

  test("the session registers the engine's filesystem for file:") {
    val c = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), c).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileContext.getFileContext(URI.create("file:///"), c)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }

  test("no process forks from Hadoop on checkpoint, state and parquet writes") {
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    spark.range(1).count() // session start-up forks are not what is measured
    val out = Files.createTempDirectory(tmp, "census")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      // a checkpointed stateful drain: offset/commit logs, state store
      assert(queries.StreamGate.hllSnapshots.run(spark, dir).collect().nonEmpty)
      // parquet output and its job commit, twice (overwrite deletes first)
      (1 to 2).foreach(_ => spark.range(100).repartition(2).write.mode("overwrite")
        .parquet(out.resolve("pq").toString))
      // Spark's atomic checkpoint-file write (FileContext rename)
      val ckpt = new Path(out.resolve("ckpt").toUri)
      val mgr = CheckpointFileManager.create(ckpt, spark.sparkContext.hadoopConfiguration)
      mgr.mkdirs(ckpt)
      (0 until 5).foreach { i =>
        val s = mgr.createAtomic(new Path(ckpt, i.toString), overwriteIfPossible = i % 2 == 0)
        s.write(i); s.close()
      }
      // the recording does see forks: one from this spec
      assert(new ProcessBuilder("true").start().waitFor() === 0)
    } finally rec.stop()
    val file = out.resolve("forks.jfr")
    rec.dump(file)
    rec.close()
    val forks = RecordingFile.readAllEvents(file).asScala
      .filter(_.getEventType.getName == "jdk.ProcessStart").toSeq
    def frames(e: jdk.jfr.consumer.RecordedEvent) =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
        .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
    assert(forks.exists(e => frames(e).exists(_.startsWith(classOf[LocalFsSpec].getName))),
      "the recording missed this spec's own fork")
    val hadoop = forks.filter(e => frames(e).exists(_.startsWith("org.apache.hadoop.")))
    assert(hadoop.isEmpty, s"${hadoop.size} forks from Hadoop, e.g. " +
      hadoop.take(3).map(e => e.getString("command") + " at " +
        frames(e).find(_.startsWith("org.apache.hadoop.fs.")).getOrElse(
          frames(e).find(_.startsWith("org.apache.hadoop.")).get)).mkString("; "))
  }

  test("created files and directories get stock Hadoop's permission bits") {
    for (umask <- Seq(None, Some("077"), Some("002"))) {
      val trees = pairs(hadoopConf(umask)).map { case (name, fs, fc) =>
        val root = Files.createTempDirectory(tmp, name)
        val p = new Path(root.toUri)
        fs.mkdirs(new Path(p, "a/b"))
        fs.create(new Path(p, "a/b/f")).close()
        fs.create(new Path(p, "g"), new FsPermission("640"), true, 4096, 1.toShort, 1L << 26, null).close()
        fs.setPermission(new Path(p, "a"), new FsPermission("750"))
        fc.mkdir(new Path(p, "c/d"), FsPermission.getDirDefault, true)
        fc.create(new Path(p, "c/d/h"), EnumSet.of(CreateFlag.CREATE)).close()
        tree(root)
      }
      assert(trees(0).size === 10, trees(0)) // 4 directories, 3 files, 3 .crc
      assert(trees(1) === trees(0), s"umask $umask")
    }
  }

  test("setPermission applies FileContext's create modes and a sticky bit") {
    val d = Files.createTempDirectory(tmp, "modes")
    val ours = pairs(hadoopConf(None))(1)._2
    val f = Files.createFile(d.resolve("f"))
    // the masked half of a masked/unmasked pair
    ours.setPermission(new Path(f.toUri),
      FsCreateModes.create(new FsPermission("640"), new FsPermission("666")))
    assert(mode(f) === Integer.parseInt("640", 8))
    val sticky = new FsPermission("1777")
    assert(sticky.getStickyBit)
    ours.setPermission(new Path(d.toUri), sticky)
    assert(mode(d) === Integer.parseInt("1777", 8))
  }

  test("link status: symlinks as stock, files and directories as getFileStatus") {
    val d = Files.createTempDirectory(tmp, "links")
    val target = Files.write(d.resolve("target"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(d.resolve("link"), target)
    val Seq((_, stock, stockFc), (_, ours, oursFc)) = pairs(hadoopConf(None))

    // a bare path reaches readlink: a symlink with its target
    val bare = new Path(link.toString)
    val s = ours.getFileLinkStatus(bare)
    assert(s.isSymlink && s.getSymlink.toUri.getPath === target.toString)
    assert(fields(s) === fields(stock.getFileLinkStatus(bare)))
    // a qualified path (all FileContext passes) answers as stock does
    val qualified = new Path(link.toUri)
    assert(fields(ours.getFileLinkStatus(qualified)) ===
      fields(stock.getFileLinkStatus(qualified)))
    assert(fields(oursFc.getFileLinkStatus(qualified)) ===
      fields(stockFc.getFileLinkStatus(qualified)))

    for (p <- Seq(new Path(target.toUri), new Path(d.toUri), new Path(target.toString))) {
      assert(fields(ours.getFileLinkStatus(p)) === fields(ours.getFileStatus(p)))
      assert(fields(ours.getFileLinkStatus(p)) === fields(stock.getFileLinkStatus(p)))
      assert(fields(oursFc.getFileLinkStatus(p)) === fields(stockFc.getFileLinkStatus(p)))
    }
    val missing = new Path(d.resolve("missing").toUri)
    intercept[FileNotFoundException](ours.getFileLinkStatus(missing))
    intercept[FileNotFoundException](oursFc.getFileLinkStatus(missing))
  }

  test("FileContext rename: NONE refuses an existing file, OVERWRITE replaces it") {
    val d = new Path(Files.createTempDirectory(tmp, "rename").toUri)
    val fc = pairs(hadoopConf(None))(1)._3
    def write(name: String, b: Int): Path = {
      val p = new Path(d, name)
      val s = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      s.write(b); s.close(); p
    }
    def read(p: Path): Int = { val s = fc.open(p); try s.read() finally s.close() }
    val dst = write("dst", 1)
    val src = write("src", 2)
    intercept[FileAlreadyExistsException](fc.rename(src, dst, Options.Rename.NONE))
    assert(read(dst) === 1 && fc.util.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) === 2 && !fc.util.exists(src))
    // the checksum file moved with it (the reads above verify against it)
    assert(fc.util.exists(new Path(d, ".dst.crc")) && !fc.util.exists(new Path(d, ".src.crc")))
  }
}
