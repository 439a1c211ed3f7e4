package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import scala.collection.mutable.ArrayBuffer

/** Spans recorded around every call the benchmark makes into a layer.
  * Held in memory and written once at the end, each with its self time
  * (duration minus the time its child spans cover; children of one span
  * run one after another on the driver thread, so they never overlap).
  * With tracing off, `apply` runs the body and records nothing.
  */
final class Tracer(val on: Boolean, runId: String) {
  private final case class Span(id: Int, parent: Int, name: String,
                                start: Long, end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val origin = System.nanoTime()

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  def write(path: String): Unit = {
    val all = spans.synchronized(spans.toList).sortBy(_.start)
    val childNs = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    val m = Json.mapper
    val arr = m.createArrayNode()
    all.foreach { s =>
      val o = arr.addObject()
      o.put("run", runId).put("id", s.id).put("parent", s.parent)
        .put("name", s.name)
        .put("start_ms", (s.start - origin) / 1e6)
        .put("end_ms", (s.end - origin) / 1e6)
        .put("self_ms", (s.end - s.start - childNs.getOrElse(s.id, 0L)) / 1e6)
    }
    m.writeValue(new java.io.File(path), arr)
  }
}

/** Job/stage/task totals from Spark's listener bus, with executor CPU split
  * by the `perfbench.query` local property the analytics loop sets around
  * each query (an inheritable property, so a streaming query's execution
  * thread carries it too).
  */
final class TaskTotals extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val cpuNs, schedDelayMs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill = new AtomicLong
  private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  val cpuNsByQuery = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stages.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.query")))
      .foreach(q => stageQuery.put(e.stageInfo.stageId, q))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      schedDelayMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime))
      Option(stageQuery.get(e.stageId)).foreach { q =>
        cpuNsByQuery.computeIfAbsent(q, _ => new AtomicLong).addAndGet(m.executorCpuTime)
      }
    }
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "sched_ms" -> schedDelayMs.get,
    "gc_ms" -> gcMs.get, "shuffle_read" -> shuffleRead.get,
    "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get)

  /** Wait until no task has ended for 300 ms (the listener bus is
    * asynchronous), at most 5 s.
    */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1L
    while (tasks.get != last && System.currentTimeMillis() < deadline) {
      last = tasks.get
      Thread.sleep(300)
    }
  }
}

/** Every streaming progress event, for trigger durations and the
  * state operators of the streaming-gate queries.
  */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    buf.synchronized { buf += e.progress; () }
  def all: Seq[StreamingQueryProgress] = buf.synchronized(buf.toList)
}
