package graft.sinks

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path for the reference's K2 file layout
  * (`FileOutput.kt:16–40`): one JSON file per block at
  * `<splay>/<height padded 10>.json`, splay = first 4 hex chars of
  * UPPER(sha256(height)). The read side is the `blockfeed` connector; this
  * is the engine's only K2 file writer — [[BlockSinks.fileSink]] and
  * [[BlockSinks.kafkaFileSink]] batch-write through it:
  *
  *   - executors write each file to a task-attempt-unique temp name and
  *     hard-link it to the deterministic final path — a torn write can
  *     never surface under the final name (not ATOMIC_MOVE: on POSIX that
  *     silently replaces an existing target);
  *   - final paths are pure functions of the height and content is
  *     deterministic, so task retries, speculative duplicates and replayed
  *     epochs re-commit the SAME bytes (the link loses to an existing file
  *     → skip): exactly-once output from at-least-once execution, the same
  *     idempotence argument as the reference's skip-if-exists;
  *   - `abort` removes the attempt's temp files; nothing partial escapes.
  *
  * Registered as `blockfiles`; supports BATCH_WRITE (`df.write`) and
  * STREAMING_WRITE (`writeStream` — exactly-once with the offset log,
  * because epoch replay is idempotent). Input schema: the
  * [[BlockSinks.fileFrames]] frame (`height` LONG, `rel_path` STRING
  * optional — recomputed here, `json` STRING).
  */
class BlockFilesProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "blockfiles"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType().add("height", LongType).add("json", StringType)
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BlockFilesTable(new CaseInsensitiveStringMap(properties))
}

class BlockFilesTable(options: CaseInsensitiveStringMap)
  extends Table with SupportsWrite {
  override def name(): String = s"blockfiles(${options.get("path")})"
  override def schema(): StructType =
    new StructType().add("height", LongType).add("json", StringType)
  override def capabilities(): util.Set[TableCapability] = {
    val s = new util.HashSet[TableCapability]()
    s.add(TableCapability.BATCH_WRITE)
    s.add(TableCapability.STREAMING_WRITE)
    s.add(TableCapability.ACCEPT_ANY_SCHEMA) // height+json located by name
    s
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val dir = Option(options.get("path"))
      .getOrElse(sys.error("blockfiles: option path is required"))
    val schema = info.schema()
    val hIdx = schema.fieldNames.indexOf("height")
    val jIdx = schema.fieldNames.indexOf("json")
    require(hIdx >= 0 && schema.fields(hIdx).dataType == LongType,
      s"blockfiles requires a LONG height column, got ${schema.catalogString}")
    require(jIdx >= 0 && schema.fields(jIdx).dataType == StringType,
      s"blockfiles requires a STRING json column, got ${schema.catalogString}")
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BlockFilesBatchWrite(dir, hIdx, jIdx)
        override def toStreaming: StreamingWrite =
          new BlockFilesStreamingWrite(dir, hIdx, jIdx)
      }
    }
  }
}

/** Commit message: how many files this task finalized vs skipped. */
case class BlockFilesCommit(written: Long, skipped: Long) extends WriterCommitMessage

class BlockFilesBatchWrite(dir: String, hIdx: Int, jIdx: Int) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BlockFilesWriterFactory(dir, hIdx, jIdx)
  // files were atomically linked into place task-side with deterministic
  // names and content — the job commit has nothing left to move
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class BlockFilesStreamingWrite(dir: String, hIdx: Int, jIdx: Int) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new BlockFilesWriterFactory(dir, hIdx, jIdx)
  // epoch replay rewrites the same deterministic files (skip-if-exists) —
  // idempotent, so offset-log replay gives exactly-once output
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

class BlockFilesWriterFactory(dir: String, hIdx: Int, jIdx: Int)
  extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new BlockFilesWriter(dir, hIdx, jIdx, s"$partitionId-$taskId")
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new BlockFilesWriter(dir, hIdx, jIdx, s"$partitionId-$taskId-$epochId")
}

class BlockFilesWriter(dir: String, hIdx: Int, jIdx: Int, attempt: String)
  extends DataWriter[InternalRow] {

  private var written = 0L
  private var skipped = 0L
  private val pending = scala.collection.mutable.ArrayBuffer.empty[Path]

  override def write(row: InternalRow): Unit = {
    val height = row.getLong(hIdx)
    val json = row.getUTF8String(jIdx).toString
    val target = Paths.get(dir, BlockFilesWriter.relPath(height))
    if (Files.exists(target)) { skipped += 1; return }
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(s"${target.getFileName}.tmp-$attempt")
    Files.write(tmp, json.getBytes("UTF-8"))
    pending += tmp
    try {
      // hard-link the fully-written tmp into place: atomic content AND a
      // race-safe never-overwrite (link throws FileAlreadyExistsException
      // atomically, unlike ATOMIC_MOVE which on POSIX silently REPLACES an
      // existing target — the reference's FileOutput never overwrites)
      Files.createLink(target, tmp)
      written += 1
    } catch {
      // a concurrent attempt finalized the same height first — identical
      // deterministic content, so losing the race is a skip, not an error
      case _: java.nio.file.FileAlreadyExistsException => skipped += 1
    } finally {
      Files.deleteIfExists(tmp)
      pending.clear()
    }
  }

  override def commit(): WriterCommitMessage = BlockFilesCommit(written, skipped)
  override def abort(): Unit = pending.foreach(Files.deleteIfExists(_))
  override def close(): Unit = ()
}

object BlockFilesWriter {
  /** Scala twin of [[BlockSinks.filePath]] (must stay byte-identical). */
  def relPath(height: Long): String = {
    val digest = MessageDigest.getInstance("SHA-256")
      .digest(height.toString.getBytes("UTF-8"))
    val hex = digest.map("%02X".format(_)).mkString
    s"${hex.substring(0, 4)}/${"%010d".format(height)}.json"
  }
}
