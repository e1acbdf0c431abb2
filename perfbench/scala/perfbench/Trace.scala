package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FSInputStream,
  FileStatus, LocalFileSystem, Path, PositionedReadable, Seekable}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` ties the spans of one
  * user-visible operation together; `fsNanos` is the file-system time
  * spent (on any thread) while the span was open.
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
                      start: Long, var end: Long = 0L, var fsNanos: Long = 0L)

/** In-memory span recorder. With tracing off every call is a plain
  * passthrough, so the untraced run executes exactly the same engine calls.
  * Jobs started inside a span are tagged with its id through a Spark local
  * property, which [[LayerListener]] reads back to attribute task metrics.
  */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = sc = context

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, parent.map(_.id).getOrElse(0L), name,
        if (op >= 0) op else parent.map(_.op).getOrElse(-1L), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      val fs0 = FsClock.nanos.get()
      setSpanProperty(s.id)
      try body
      finally {
        s.end = System.nanoTime()
        s.fsNanos = FsClock.nanos.get() - fs0
        stack = stack.tail
        setSpanProperty(stack.headOption.map(_.id).getOrElse(0L))
      }
    }

  private def setSpanProperty(id: Long): Unit =
    if (sc != null && !sc.isStopped)
      sc.setLocalProperty(LayerListener.SpanKey, if (id == 0L) null else id.toString)
}

/** Task-metric totals for one span. */
final class Counters {
  var jobs, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
  var inBytes, inRows, outBytes, outRows = 0L

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "tasks" -> tasks, "tasks_failed" -> tasksFailed,
    "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "input_bytes" -> inBytes, "input_rows" -> inRows,
    "output_bytes" -> outBytes, "output_rows" -> outRows)
}

/** Attributes every finished task to the span whose thread started its job,
  * records the RDDs each span's jobs touch, and keeps per-stage task
  * durations for the skew ratio.
  */
final class LayerListener extends SparkListener {
  val bySpan = mutable.Map.empty[Long, Counters]
  /** Ids of the RDDs each span's jobs compute or read. */
  val rddsBySpan = mutable.Map.empty[Long, mutable.Set[Int]]
  val stageSpan = mutable.Map.empty[Int, Long]
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def counters(span: Long) = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(LayerListener.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    counters(span).jobs += 1
    rddsBySpan.getOrElseUpdate(span, mutable.Set.empty) ++=
      e.stageInfos.flatMap(_.rddInfos.map(_.id))
    e.stageIds.foreach(id => stageSpan(id) = span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageSpan.getOrElse(e.stageId, 0L))
    c.tasks += 1
    if (e.reason != Success) c.tasksFailed += 1
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRows += m.outputMetrics.recordsWritten
    }
  }

  /** Worst max/median task-duration ratio over stages with ≥ 2 tasks. */
  def worstSkew: Double = synchronized {
    stageTaskMs.valuesIterator.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }.foldLeft(1.0)(math.max)
  }
}

object LayerListener {
  val SpanKey = "perfbench.span"
}

/** File-system clock shared by every [[TimedLocalFileSystem]] instance. */
object FsClock {
  val nanos = new AtomicLong
  val parquetCreates = new AtomicLong

  def time[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally nanos.addAndGet(System.nanoTime() - t0)
  }
}

/** `file:` scheme wrapper installed by the traced run: times listings,
  * status calls, opens and stream reads (footer and page reads) and counts
  * parquet files created. It changes no behaviour of the local file system.
  */
class TimedLocalFileSystem extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] = FsClock.time(super.listStatus(f))
  override def getFileStatus(f: Path): FileStatus = FsClock.time(super.getFileStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    FsClock.time(new FSDataInputStream(new TimedInputStream(super.open(f, bufferSize))))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    if (f.getName.endsWith(".parquet")) FsClock.parquetCreates.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

private final class TimedInputStream(in: FSDataInputStream)
    extends FSInputStream with Seekable with PositionedReadable {
  override def read(): Int = FsClock.time(in.read())
  override def read(b: Array[Byte], off: Int, len: Int): Int = FsClock.time(in.read(b, off, len))
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
    FsClock.time(in.read(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit =
    FsClock.time(in.readFully(pos, b, off, len))
  override def readFully(pos: Long, b: Array[Byte]): Unit = FsClock.time(in.readFully(pos, b))
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(targetPos: Long): Boolean = in.seekToNewSource(targetPos)
  override def available(): Int = in.available()
  override def skip(n: Long): Long = in.skip(n)
  override def close(): Unit = in.close()
}
