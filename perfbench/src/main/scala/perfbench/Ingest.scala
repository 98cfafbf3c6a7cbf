package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.Sources
import graft.streaming.{KvUpsertSink, StreamJobs, TopicTableSink}

/** `ingest_summary`: the reference's main job, `StreamJobs.summaryPipeline`,
  * fed from a file stream in `Sources.kafkaWireSchema` (the stream
  * `Sources.kafkaShapedStream` builds accepts a single `events.parquet`).
  *
  *  - set-up: start the query on fresh directories and run its first batch
  *    (one staged file); repeated, the median is `setup_s`.
  *  - drain: a backlog of equal files is staged and drained at one file per
  *    batch (`maxFilesPerTrigger` 1). It runs while the JVM is still warming
  *    up; after it, the open loop's batches finish inside the trigger
  *    instead of building a backlog.
  *  - open loop: one generator thread moves pre-encoded files into the
  *    watched directory on a fixed schedule while the query runs with the
  *    reference's 2 s processing-time trigger; the source takes every file
  *    that has arrived. The engine fires that trigger on multiples of 2 s of
  *    wall-clock time.
  */
object Ingest {
  private final case class Dirs(root: String) {
    val watch = s"$root/watch"
    val topic = s"$root/topic"
    val kv = s"$root/kv"
    val ckpt = s"$root/checkpoint"
  }

  private def fresh(root: String): Dirs = {
    Harness.rmTree(root)
    val d = Dirs(root)
    Files.createDirectories(Paths.get(d.watch))
    d
  }

  private def start(spark: SparkSession, d: Dirs, trigger: Trigger,
      maxFiles: Option[Int]): StreamingQuery = {
    val reader = spark.readStream.schema(Sources.kafkaWireSchema)
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toString))
    StreamJobs.summaryPipeline(reader.parquet(d.watch), "page_visits", "summary",
      new TopicTableSink(d.topic), new KvUpsertSink(d.kv), trigger, Some(d.ckpt))
  }

  private def move(src: String, dstDir: String): Unit = {
    val s = Paths.get(src)
    Files.move(s, Paths.get(dstDir).resolve(s.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Outputs of one query: its summary lines and its KV table. */
  private def outputs(spark: SparkSession, d: Dirs): Map[String, Any] = Map(
    "summary" -> Harness.rows(new TopicTableSink(d.topic).read(spark)
      .select("value", "ts")),
    "kv" -> Harness.rows(new KvUpsertSink(d.kv).read(spark)
      .select("rowkey", "cf", "qualifier", "cell_value", "ts")))

  def run(spark: SparkSession, plan: Harness.Plan, tracer: Tracer,
      out: mutable.Map[String, Any]): Unit = {
    val work = plan.str("work")
    val inputs = plan.str("inputs")
    val triggerMs = plan.int("trigger_ms")
    val conf = spark.sparkContext.hadoopConfiguration

    // Traced runs list the KV sink each time the engine reports a batch.
    var listDir: Option[String] = None
    val progress = new ProgressLog(() =>
      listDir.map(d => Listing.toJson(Listing.parquetFiles(d, rows = true, conf)))
        .getOrElse(Map.empty))
    if (tracer.on) spark.streams.addListener(progress)

    def phaseRecord(q: StreamingQuery, d: Dirs): Map[String, Any] = {
      val progressJson =
        if (tracer.on) {
          org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
          progress.synchronized {
            progress.events.filter(_._1 == q.id.toString).toSeq
          }.map { case (_, j, l) => Map("progress" -> j, "kv_listing" -> l) }
        } else q.recentProgress.toSeq.map(p => Map("progress" -> p.json))
      Map("batches" -> progressJson) ++ outputs(spark, d) ++ Map(
        "topic_files" -> Listing.parquetFiles(d.topic, rows = false, conf).size,
        "kv_table_end" -> Listing.toJson(Listing.parquetFiles(d.kv, rows = false, conf)))
    }

    // set-up: start -> first batch committed, on fresh state each time
    val setupFiles = plan.strs("setup_files")
    out("setup_s") = setupFiles.zipWithIndex.map { case (f, i) =>
      val d = fresh(s"$work/setup-$i")
      move(s"$inputs/setup/$f", d.watch)
      val (q, s) = tracer.span(s"setup-$i", "ingest.setup") {
        val q = start(spark, d, Trigger.ProcessingTime(triggerMs.toLong), None)
        q.processAllAvailable()
        q
      }
      q.stop()
      s
    }

    // drain: backlog staged before start, one file per batch
    val drain = fresh(s"$work/drain")
    listDir = Some(drain.kv)
    val drainFiles = plan.strs("drain_files")
    drainFiles.foreach(f => move(s"$inputs/drain/$f", drain.watch))
    val dq = start(spark, drain, Trigger.AvailableNow(), Some(1))
    dq.awaitTermination()
    out("drain") = phaseRecord(dq, drain) ++ Map("files" -> drainFiles)

    // open loop: a primer file is staged before start so the query's first
    // batch (sink creation) is over before the schedule begins; the schedule
    // then starts just after a trigger boundary, so every batch takes the
    // same number of files
    val open = fresh(s"$work/open")
    listDir = Some(open.kv)
    val openFiles = plan.strs("open_files")
    val intervalNs = (plan.num("interval_s") * 1e9).toLong
    move(s"$inputs/primer/${plan.str("primer_file")}", open.watch)
    val q = start(spark, open, Trigger.ProcessingTime(triggerMs.toLong), None)
    q.processAllAvailable()
    val due = new Array[Double](openFiles.size)
    val moved = new Array[Double](openFiles.size)
    val gen = new Thread(() => {
      val nowMs = Clock.nowMs
      val firstMs = math.ceil((nowMs + 300) / triggerMs) * triggerMs + 50
      val t0 = System.nanoTime() + ((firstMs - nowMs) * 1e6).toLong
      openFiles.zipWithIndex.foreach { case (f, i) =>
        val dueNs = t0 + i * intervalNs
        var now = System.nanoTime()
        while (now < dueNs) {
          val wait = dueNs - now
          Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          now = System.nanoTime()
        }
        move(s"$inputs/open/$f", open.watch)
        due(i) = Clock.ms(dueNs)
        moved(i) = Clock.nowMs
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q.processAllAvailable()
    q.stop()
    out("open") = phaseRecord(q, open) ++ Map(
      "due_ms" -> due.toSeq, "moved_ms" -> moved.toSeq,
      "files" -> (plan.str("primer_file") +: openFiles))

    if (tracer.on) spark.streams.removeListener(progress)
  }
}
