package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One wall clock for everything a run records: epoch milliseconds with
  * nanoTime resolution, so harness spans line up with the engine's
  * progress timestamps. */
object Clock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms(nano: Long): Double = wall0 + (nano - nano0) / 1e6
  def nowMs: Double = ms(System.nanoTime())
}

/** Spans around calls into a layer. A span has a name, start, end and
  * parent; spans of one operation share `op`. Kept in memory and written
  * out when the run ends. With tracing off only top-level spans are kept
  * (they are the end-to-end samples); child spans are dropped. */
final class Tracer(val on: Boolean) {
  import Tracer.Span

  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack = List.empty[Long]

  /** Time `body` as span `name` of operation `op`, nested under the span
    * currently open on this thread. Returns the body's value and seconds. */
  def span[A](op: String, name: String)(body: => A): (A, Double) = {
    val parent = stack.headOption.getOrElse(0L)
    val id = nextId
    nextId += 1
    stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val a = body
      val t1 = System.nanoTime()
      if (on || parent == 0L) spans += Span(id, op, name, parent, Clock.ms(t0), Clock.ms(t1))
      (a, (t1 - t0) / 1e9)
    } finally stack = stack.tail
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "op" -> s.op, "name" -> s.name, "parent" -> s.parent,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

object Tracer {
  final case class Span(id: Long, op: String, name: String, parent: Long,
      startMs: Double, endMs: Double)
}

/** Spark job and task counters per operation. An operation is named by the
  * local property `perfbench.op` set around a harness call, or by the query
  * and micro-batch ids the streaming engine sets on its jobs. */
final class JobStats extends SparkListener {
  final class OpAgg {
    var jobs = 0
    var tasks = 0
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var inputRecords = 0L
    val stageTaskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]
  }
  private val stageOp = mutable.Map.empty[Int, String]
  val ops = mutable.LinkedHashMap.empty[String, OpAgg]

  private def opOf(props: java.util.Properties): String =
    Option(props).flatMap { p =>
      Option(p.getProperty(JobStats.OpKey)).orElse(
        Option(p.getProperty("streaming.sql.batchId")).map(b =>
          s"batch-${p.getProperty("sql.streaming.queryId")}-$b"))
    }.getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = opOf(e.properties)
    ops.getOrElseUpdate(op, new OpAgg).jobs += 1
    e.stageIds.foreach(stageOp(_) = op)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = ops.getOrElseUpdate(stageOp.getOrElse(e.stageId, "other"), new OpAgg)
    a.tasks += 1
    a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.gcMs += m.jvmGCTime
      a.inputBytes += m.inputMetrics.bytesRead
      a.inputRecords += m.inputMetrics.recordsRead
    }
  }

  def toJson: Map[String, Any] = synchronized {
    ops.map { case (op, a) => op -> Map(
      "jobs" -> a.jobs, "tasks" -> a.tasks,
      "shuffle_write_bytes" -> a.shuffleWrite, "shuffle_read_bytes" -> a.shuffleRead,
      "spill_bytes" -> a.spill, "gc_ms" -> a.gcMs,
      "input_bytes" -> a.inputBytes, "input_records" -> a.inputRecords,
      "stage_task_ms" -> a.stageTaskMs.toSeq.sortBy(_._1).map(_._2.toSeq))
    }.toMap
  }
}

object JobStats {
  val OpKey = "perfbench.op"
}

/** Progress of every micro-batch, as the engine reports it, plus a sink
  * listing taken when each progress event arrives (traced runs only). */
final class ProgressLog(onProgress: () => Map[String, Any]) extends StreamingQueryListener {
  /** (query id, progress JSON, sink listing) per reported batch. */
  val events = ArrayBuffer.empty[(String, String, Map[String, Any])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val listing = onProgress()
    synchronized { events += ((e.progress.id.toString, e.progress.json, listing)) }
  }
}

/** File listings of a sink's directory, for bytes written and buckets
  * touched between two points in time. */
object Listing {
  /** path -> (bytes, mtime ms, rows) for every parquet file under `root`. */
  def parquetFiles(root: String, rows: Boolean, conf: Configuration): Map[String, (Long, Long, Long)] = {
    val base = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(base)) return Map.empty
    val it = java.nio.file.Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      it.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet") &&
          !base.relativize(p).toString.split('/').exists(_.startsWith("_")))
        .flatMap { p =>
          try {
            val size = java.nio.file.Files.size(p)
            val mtime = java.nio.file.Files.getLastModifiedTime(p).toMillis
            val n = if (rows) footerRows(p.toString, conf) else -1L
            Some(base.relativize(p).toString -> (size, mtime, n))
          } catch { case _: java.io.IOException => None } // swapped away mid-listing
        }.toMap
    } finally it.close()
  }

  private def footerRows(path: String, conf: Configuration): Long = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(path), conf))
    try r.getRecordCount finally r.close()
  }

  def toJson(l: Map[String, (Long, Long, Long)]): Map[String, Any] =
    l.map { case (p, (b, m, n)) => p -> Seq(b, m, n) }
}
