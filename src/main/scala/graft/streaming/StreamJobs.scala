package graft.streaming

import org.apache.spark.sql.{DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The Kafka wire schema (FIXTURES.md §B) — what
  * `spark.readStream.format("kafka")` yields and what the reference consumed
  * as (String, String) pairs (Streamer.scala:120, KafkaStreamerToHbase.scala:83).
  * No Kafka jar/broker ships in this image, so sources are MemoryStream /
  * file streams projecting this schema; a real Kafka source is a one-line
  * `.format("kafka")` swap (SURVEY.md §7.5).
  */
case class KafkaShaped(
    key: String,
    value: String,
    topic: String,
    partition: Int,
    offset: Long,
    timestamp: java.sql.Timestamp)

/** An admitted event from [[StreamJobs.rateLimitPerKey]]. Top-level so the
  * generated Dataset deserializer can reach it (the [[ReplayOps.Ev]]
  * lesson). */
case class Admitted(key: Long, eid: Long, us: Long)

/** The [[StreamJobs.rateLimitPerKey]] processor: per-key (window, count)
  * in a single ValueState. Serializable — it ships to executors whole. */
class RateLimitProcessor(maxPer: Int, windowUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long), Admitted] {
  import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var st: ValueState[(Long, Long)] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long)]("win_count",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[Admitted] = {
    // deterministic admission: order the batch's rows by event time then id
    // (iterator order is task-dependent); window ids are then non-decreasing
    val sorted = rows.toArray.sortBy(r => (r._3, r._2))
    var (w0, c0) = if (st.exists()) st.get() else (Long.MinValue, 0L)
    val out = Array.newBuilder[Admitted]
    sorted.foreach { case (k, eid, us) =>
      val w = Math.floorDiv(us, windowUs)
      if (w != w0) { w0 = w; c0 = 0L }
      c0 += 1
      if (c0 <= maxPer) out += Admitted(k, eid, us)
    }
    st.update((w0, c0))
    out.result().iterator
  }
}

/** A closed session from [[StreamJobs.sessionizeTws]]. Top-level for the
  * Dataset deserializer, like [[Admitted]]. */
case class ClosedSession(key: Long, startUs: Long, lastUs: Long, n: Long)

/** The [[StreamJobs.sessionizeTws]] processor: event-time-timer
  * sessionization on transformWithState — the API's flagship shape (state
  * variables + EVENT-TIME timers, the part mapGroupsWithState's
  * EventTimeTimeout did with opaque per-key juggling). Per key, ONE open
  * session (start_us, last_us, n) in a ValueState; rows are folded in
  * (ts, eid) order so a gap ≥ `gapUs` INSIDE a batch closes the session
  * inline (deterministic under any task/arrival order), and the
  * cross-batch close is an event-time timer at last + gap: when the
  * WATERMARK passes it, [[handleExpiredTimer]] emits the session and
  * clears the state. Timer hygiene: each batch deletes the key's previous
  * timer before registering the new one, and the expiry guard ignores any
  * stale timer that survived (fires are at-least-once across restarts).
  * Timers are ms-granularity while event time is µs, so the expiry is
  * CEIL(last+gap in ms) — a timer can then only fire once every row that
  * could still MERGE (ts < last+gap, under a 0-delay watermark) has
  * arrived; anything later starts a new session by the gap rule anyway.
  */
class TwsSessionProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, java.sql.Timestamp), ClosedSession] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues,
    TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var st: ValueState[(Long, Long, Long)] = _

  private def expiryMs(lastUs: Long): Long =
    Math.floorDiv(lastUs + gapUs + 999L, 1000L)

  override def init(outputMode: streaming.OutputMode,
      timeMode: streaming.TimeMode): Unit =
    st = getHandle.getValueState[(Long, Long, Long)]("open_session",
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
        Encoders.scalaLong), TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[ClosedSession] = {
    // (key, eid, us, ts): order by event time then id — iterator order is
    // task-dependent, the session walk must not be
    val sorted = rows.toArray.sortBy(r => (r._3, r._2))
    val out = Array.newBuilder[ClosedSession]
    var open = if (st.exists()) Some(st.get()) else None
    open.foreach { case (_, last, _) => getHandle.deleteTimer(expiryMs(last)) }
    sorted.foreach { case (k, _, us, _) =>
      open match {
        case Some((start, last, n)) if us - last < gapUs =>
          open = Some((start, math.max(last, us), n + 1))
        case Some((start, last, n)) => // gap ≥ threshold: close inline
          out += ClosedSession(k, start, last, n)
          open = Some((us, us, 1L))
        case None =>
          open = Some((us, us, 1L))
      }
    }
    open.foreach { case s @ (_, last, _) =>
      st.update(s); getHandle.registerTimer(expiryMs(last))
    }
    out.result().iterator
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
    if (st.exists()) {
      val (start, last, n) = st.get()
      // stale-timer guard: only the expiry the CURRENT state implies closes
      if (expiryMs(last) == expiredTimerInfo.getExpiryTimeInMs) {
        st.clear()
        return Iterator.single(ClosedSession(key, start, last, n))
      }
    }
    Iterator.empty
  }
}

/** One enriched row from [[StreamJobs.trailStatsTws]]. Top-level for the
  * Dataset deserializer, like [[Admitted]]. */
case class TrailOut(key: Long, eid: Long, typeRank: Long,
    trailMaxCents: Option[Long])

/** The [[StreamJobs.trailStatsTws]] processor — the transformWithState
  * composite-state surface ([[TwsSessionProcessor]] covers ValueState +
  * event-time timers; this covers the other two variable kinds plus TTL):
  *
  *  - `ListState[Long]` "trail": the key's last ≤ `trailN` centi-quantized
  *    values in event-time order — the bounded trailing buffer every
  *    per-entity feature pipeline keeps (prior-behavior features without
  *    O(history) state). Each row is emitted with the max of the buffer
  *    BEFORE itself, i.e. a cross-batch `ROWS BETWEEN trailN PRECEDING AND
  *    1 PRECEDING` window the oracle replays exactly.
  *  - `MapState[String, Long]` "type_counts": per-event-type running
  *    counts under ONE key's state — the composite-key layout that makes a
  *    map variable different from a wider ValueState (point lookups and
  *    per-entry expiry instead of whole-blob rewrites). Each row is
  *    emitted with its type's running rank = a per-(key, type) row_number.
  *  - The map carries a 1-hour [[TTLConfig]] — exercising the TTL storage
  *    path (per-entry expiration metadata in RocksDB). TTL expiry is
  *    PROCESSING-time and hence unreplayable by design; a replay lasts
  *    seconds, so nothing expires and the hash channel stays deterministic
  *    (the TTL plumbing, not an eviction schedule, is what's under test).
  *
  * Rows are folded in (us, eid) order (iterator order is task-dependent);
  * values are centi-quantized with round-half-away-from-zero to match both
  * engines' ROUND (the repo-wide pin — Math.round would round -12.5 UP).
  */
class TwsTrailProcessor(trailN: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, String, Long, Long, Long), TrailOut] {
  import org.apache.spark.sql.streaming.{ListState, MapState, TimerValues,
    TTLConfig}
  import org.apache.spark.sql.{Encoders, streaming}

  @transient private var trail: ListState[Long] = _
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: streaming.OutputMode,
      timeMode: streaming.TimeMode): Unit = {
    trail = getHandle.getListState[Long]("trail", Encoders.scalaLong,
      TTLConfig.NONE)
    counts = getHandle.getMapState[String, Long]("type_counts",
      Encoders.STRING, Encoders.scalaLong,
      TTLConfig(java.time.Duration.ofHours(1)))
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, String, Long, Long, Long)],
      timerValues: TimerValues): Iterator[TrailOut] = {
    val sorted = rows.toArray.sortBy(r => (r._4, r._3))
    val buf = scala.collection.mutable.ArrayBuffer[Long]()
    if (trail.exists()) trail.get().foreach(buf += _)
    // Batch the MapState traffic (round 13, guide §4.5 applied to the state
    // store): the original fold did containsKey + getValue + updateValue per
    // ROW — three store round-trips (RocksDB JNI + encoder each) times 50k
    // rows/batch dominated this operator's micro-batch (ProfileJobs: addBatch
    // 2.5 s of a 2.8 s trigger). Read each type's count once at first touch,
    // accumulate in a local map, write once per type after the fold. Per-row
    // ranks and the final MapState content are identical; the map's TTL is
    // processing-time and cannot fire inside a seconds-long batch either way.
    val local = scala.collection.mutable.HashMap.empty[String, Long]
    val out = Array.newBuilder[TrailOut]
    sorted.foreach { case (k, etype, eid, _, cents) =>
      val rank = local.getOrElse(etype,
        if (counts.containsKey(etype)) counts.getValue(etype) else 0L) + 1L
      local(etype) = rank
      out += TrailOut(k, eid, rank,
        if (buf.isEmpty) None else Some(buf.max))
      buf += cents
      if (buf.length > trailN) buf.remove(0)
    }
    local.foreach { case (etype, n) => counts.updateValue(etype, n) }
    trail.put(buf.toArray)
    out.result().iterator
  }
}

/** Append-only "topic table" modeling a Kafka producer sink
  * (KafkaProducer.scala:8-11): parquet rows (topic, key, value, ts). */
final class TopicTableSink(path: String) extends Serializable {
  def append(df: DataFrame): Unit =
    df.write.mode("append").parquet(path)
  /** Idempotent per-batch write: the batch's rows land in their own
    * `batch=<id>` subdir with overwrite semantics, so a checkpoint replay
    * of the same micro-batch rewrites the same files instead of appending
    * duplicates. Use from foreachBatch sinks that claim exactly-once.
    * (Don't mix with `append` on one path: read() discovers `batch` as a
    * partition column only when every file lives under a batch= dir.)
    */
  def appendBatch(df: DataFrame, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$path/batch=$batchId")
  def read(spark: SparkSession): DataFrame = spark.read.parquet(path)
}

/** KV-upsert sink with HBase cell semantics (HbaseWriter.scala:22-31):
  * rows (rowkey, cf, qualifier, cell_value, ts); last write per
  * (rowkey, cf, qualifier) wins — the observable rowkey-collision behavior of
  * Streamer.scala:163 / KafkaStreamerToHbase.scala:154-158 as a deterministic
  * relational rule (ties on ts broken so the survivor is
  * partitioning-independent).
  *
  * MERGE semantics (streaming-incremental): a batch may carry an `op` column
  * ('upsert' | 'delete'); absent means 'upsert'. Per cell the latest-ts op
  * wins (tie: delete beats upsert, then max cell_value) — so a batch is the
  * standard three-branch MERGE: new key inserts, existing key updates,
  * 'delete' removes. Deletes persist as TOMBSTONES rather than dropping the
  * row, which is what makes the fold incremental: any split of a batch
  * stream into micro-batches converges to the same table (an older upsert
  * arriving after a newer delete must still lose — without the tombstone
  * the delete would be forgotten). `read()` filters tombstones out.
  * (A compaction pass could drop tombstones older than a lateness bound;
  * not needed at this table's scale.)
  *
  * Scale posture: the table is laid out as `bucket=hash(rowkey)%N` parquet
  * partitions. An upsert touches ONLY the buckets present in the batch:
  * read the touched `bucket=k` dirs, merge, write the merged buckets to a
  * staging dir, then a per-bucket rename-aside swap. Every read goes
  * through one reader that is handed the bucket dirs and the sink's fixed
  * cell schema, so listing and parquet footer reads are O(touched buckets)
  * and no schema-inference job runs; untouched buckets' files are never
  * listed, opened or rewritten (asserted in StreamJobsSpec). Cost per
  * micro-batch is O(touched buckets), not O(table) — the same shape as a
  * Delta/Hudi MERGE or an HBase regionserver write path.
  *
  * A batch must carry exactly the cell columns (rowkey, cf, qualifier,
  * cell_value, ts), with or without `op`; any other column set is rejected
  * before anything is written.
  */
final class KvUpsertSink(path: String, numBuckets: Int = 16) extends Serializable {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def withBucket(df: DataFrame): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col("rowkey")), lit(numBuckets)).cast("int"))

  /** Check the batch's columns and normalize the op column so plain-put
    * batches and MERGE batches share one merge path; columns come out in
    * the table's order. */
  private def withOp(df: DataFrame): DataFrame = {
    val cells = KvUpsertSink.cellColumns
    if (df.columns.toSet != cells.toSet && df.columns.toSet != (cells :+ "op").toSet)
      throw new IllegalArgumentException(
        s"KvUpsertSink: batch columns [${df.columns.mkString(", ")}] must be " +
          s"[${cells.mkString(", ")}] with or without op")
    val withOpCol = if (df.columns.contains("op")) df else df.withColumn("op", lit("upsert"))
    withOpCol.select((cells :+ "op").map(col): _*)
  }

  /** The table's only read path: the `bucket=k` dirs of `buckets` that
    * exist, read with the fixed cell schema — nothing else is listed and no
    * schema-inference job runs. A missing or null `op` (tables written
    * before the MERGE extension) reads as 'upsert'. None when none of the
    * buckets exists. */
  private def readBuckets(spark: SparkSession, fs: FileSystem, base: Path,
      buckets: Seq[Int]): Option[DataFrame] = {
    val dirs = buckets.map(k => new Path(base, s"bucket=$k")).filter(fs.exists)
    if (dirs.isEmpty) None
    else Some(spark.read.schema(KvUpsertSink.tableSchema)
      .option("basePath", base.toString)
      .parquet(dirs.map(_.toString): _*)
      .withColumn("op", coalesce(col("op"), lit("upsert"))))
  }

  /** Every bucket id with a live dir: one listing of the table root. */
  private def liveBuckets(fs: FileSystem, base: Path): Seq[Int] =
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt).sorted

  /** The distinct `bucket` values of `df`: deduplicated inside each
    * partition, then on the driver — one stage, no shuffle, and each
    * partition returns at most numBuckets ints, so it is driver-safe. */
  private def bucketsOf(df: DataFrame): Array[Int] = {
    import df.sparkSession.implicits._
    df.select(col("bucket")).as[Int].mapPartitions(_.toSet.iterator)
      .collect().distinct.sorted
  }

  /** Heal a swap that died mid-flight: an `_aside_<k>` dir with no live
    * `bucket=<k>` means the crash hit between moving the old bucket aside
    * and moving the staging copy in — the aside copy is the surviving
    * authority, restore it. If the live bucket exists the swap completed
    * and the aside is garbage. '_'-prefixed dirs are invisible to parquet
    * readers, so a crashed state never corrupts concurrent reads. */
  private def recoverAsides(fs: FileSystem, base: Path): Unit =
    if (fs.exists(base))
      fs.listStatus(base).filter(_.getPath.getName.startsWith("_aside_")).foreach { st =>
        val k = st.getPath.getName.stripPrefix("_aside_")
        val dst = new Path(base, s"bucket=$k")
        if (!fs.exists(dst)) {
          if (!fs.rename(st.getPath, dst))
            throw new java.io.IOException(
              s"KvUpsertSink: recovery rename ${st.getPath} -> $dst failed")
        } else fs.delete(st.getPath, true)
      }

  def upsert(spark: SparkSession, batch: DataFrame): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new Path(path)
    val fs = FileSystem.get(base.toUri, hconf)
    // column check first: a rejected batch leaves the table untouched
    val cells = withOp(batch)
    recoverAsides(fs, base)

    val b = withBucket(cells).cache()
    try {
      val touched = bucketsOf(b)
      if (touched.isEmpty) return
      // None on the first write: the sink creates the table (O7 DDL-on-write)
      val all = readBuckets(spark, fs, base, touched).fold(b)(_.unionAll(b))
      // latest op per cell; ts tie: 'delete' < 'upsert' so op ASC lets the
      // delete win (a MERGE's delete branch dominates same-instant updates)
      val w = Window.partitionBy(col("rowkey"), col("cf"), col("qualifier"))
        .orderBy(col("ts").desc, col("op").asc, col("cell_value").desc)
      val merged = all
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
      writeBuckets(fs, base, merged, touched)
    } finally b.unpersist()
    ()
  }

  /** Stage `rows` (already carrying a `bucket` column) and swap the
    * `touched` buckets in via rename-aside. The old bucket is MOVED aside
    * (not deleted), so every failure point leaves a recoverable state —
    * before the second rename the aside copy survives (recoverAsides
    * restores it); after, the new bucket is live. A failed rename still
    * fails the caller (micro-batch retries from the checkpoint), but no
    * state is lost at any point. A touched bucket with NO staged rows
    * (compaction dropped everything in it) is removed the same
    * recoverable way. Untouched buckets are neither read nor written. */
  private def writeBuckets(fs: FileSystem, base: Path,
      rows: DataFrame, touched: Array[Int]): Unit = {
    val staging = new Path(base.toString + "_staging")
    fs.delete(staging, true)
    rows.write.partitionBy("bucket").mode("overwrite").parquet(staging.toString)
    fs.mkdirs(base)
    touched.foreach { k =>
      val src = new Path(staging, s"bucket=$k")
      val dst = new Path(base, s"bucket=$k")
      val aside = new Path(base, s"_aside_$k")
      fs.delete(aside, true)
      if (fs.exists(dst) && !fs.rename(dst, aside))
        throw new java.io.IOException(s"KvUpsertSink: rename $dst -> $aside failed")
      if (fs.exists(src) && !fs.rename(src, dst))
        throw new java.io.IOException(s"KvUpsertSink: rename $src -> $dst failed")
      fs.delete(aside, true)
    }
    fs.delete(staging, true)
  }

  /** Tombstone COMPACTION — the maintenance pass the class doc promised.
    *
    * A tombstone at ts_d exists to make a LATE upsert with event time
    * ≤ ts_d lose (without it the delete would be forgotten and the old
    * cell would resurrect). Once the caller can bound lateness — no future
    * arrival carries event time < `watermark` — every tombstone with
    * ts < watermark is unreachable: a future upsert either has
    * ts ≥ watermark > ts_d (beats the tombstone whether or not it exists)
    * or is excluded by the bound. Dropping them is therefore
    * result-invariant under the stated contract, and `read()` is
    * byte-identical before/after (it filters tombstones anyway).
    *
    * Cost is O(buckets containing droppable tombstones), via the same
    * staged rename-aside swap as `upsert` — a crash mid-compaction
    * recovers to either the compacted or the pre-compaction bucket, both
    * correct. Pass the stream's watermark (event-time), not wall clock.
    */
  def compact(spark: SparkSession, watermark: java.sql.Timestamp): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new Path(path)
    val fs = FileSystem.get(base.toUri, hconf)
    recoverAsides(fs, base)
    val all = readBuckets(spark, fs, base, liveBuckets(fs, base)) match {
      case Some(df) => df
      case None => return
    }
    val droppable = col("op") === "delete" && col("ts") < lit(watermark)
    val touched = bucketsOf(all.filter(droppable))
    if (touched.isEmpty) return
    val kept = all
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      // null-safe complement: a delete row with NULL ts makes `droppable`
      // NULL, and plain !droppable would silently drop it regardless of the
      // watermark bound — keep every row not PROVEN droppable
      .filter(!(droppable <=> lit(true)))
    writeBuckets(fs, base, kept, touched)
  }

  /** Read the live table: heal any crashed swap first (an `_aside_` bucket
    * is invisible to the parquet reader — without recovery a read between
    * the two renames of a died swap would silently miss that bucket), and
    * normalize `op` so tables written before the MERGE extension still read.
    */
  def read(spark: SparkSession): DataFrame = {
    val base = new Path(path)
    val fs = FileSystem.get(base.toUri, spark.sparkContext.hadoopConfiguration)
    recoverAsides(fs, base)
    readBuckets(spark, fs, base, liveBuckets(fs, base))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], KvUpsertSink.tableSchema))
      .filter(col("op") =!= "delete").drop("bucket", "op")
  }
}

object KvUpsertSink {
  import org.apache.spark.sql.types._

  /** The columns every batch carries, in table order; `op` is optional. */
  val cellColumns: Seq[String] = Seq("rowkey", "cf", "qualifier", "cell_value", "ts")

  /** The on-disk schema: cell columns, `op`, and the `bucket` partition. */
  private[streaming] val tableSchema: StructType = StructType(
    cellColumns.map(c => StructField(c, if (c == "ts") TimestampType else StringType)) ++
      Seq(StructField("op", StringType), StructField("bucket", IntegerType)))
}

/** Structured Streaming rebuilds of the reference's two pipelines.
  * Batch-form equivalents of every transformation are the oracle-checked
  * queries in graft.operators.CoreOps; here the same expressions run
  * incrementally with foreachBatch/batchId — restart-safe where the
  * reference's driver `var counter` was not (SURVEY.md §2.3 A4).
  */
object StreamJobs {

  /** ≈ Streamer.main (Streamer.scala:120-202): per micro-batch, compute the
    * record count and distinct messages, emit one formatted summary line to
    * the topic table, upsert the summary cell, and bulk-write distinct
    * messages. batchId replaces the driver-side counter (exactly-once).
    *
    * Per-batch Spark jobs are the cost that dominates a micro-batch, so the
    * batch runs only the ones that do work: one stats action (count and max
    * event time fused), the topic append, and the sink's upsert.
    */
  def summaryPipeline(
      input: DataFrame,
      topics: String,
      outTopic: String,
      topicSink: TopicTableSink,
      kvSink: KvUpsertSink,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None): StreamingQuery = {
    val base = input.writeStream
      .trigger(trigger)
      .outputMode("append")
    checkpoint.foreach(base.option("checkpointLocation", _))
    base
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        val spark = df.sparkSession
        val cached = df.cache()
        try {
          // ONE action for both stats. Batch time = max event time,
          // deterministic (the reference used wall clock).
          val stats = cached.agg(count(lit(1)), max(col("timestamp"))).head()
          val n = stats.getLong(0)
          val batchTs = stats.getTimestamp(1)
          if (batchTs != null) {
            // floorDiv, not /: Java integer division truncates toward zero,
            // which disagrees with unix_timestamp/epoch-floor for pre-1970
            // timestamps (hostile fixtures carry them)
            val epochSec = Math.floorDiv(batchTs.getTime, 1000L)
            val fmt = new java.text.SimpleDateFormat("yyyy/MM/dd HH:mm")
            fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
            val summary = s"Spark - date:${fmt.format(batchTs)} from topic: " +
              s"$topics - number of RDD (batches): ${batchId + 1} - number of message $n"
            import spark.implicits._
            topicSink.append(
              Seq((outTopic, null: String, summary, batchTs))
                .toDF("topic", "key", "value", "ts"))
            // bulk table: distinct messages, rowkey = epochSec-key (O6 intent).
            // Cell ts is the BATCH time, not the row's event time — what the
            // reference effectively did (puts stamped at write time ≈ batch
            // wall clock) — so a colliding rowkey (one key, several values)
            // resolves by the sink's cell_value tiebreak, deterministically.
            //
            // No dropDuplicates("key", "value") before the upsert: with one
            // ts for every bulk cell, duplicate (key, value) pairs become
            // identical cells, and the sink's LWW max per cell is idempotent,
            // so they collapse in the merge. The dedup was a shuffle (and a
            // Spark job) that changed no output byte.
            //
            // ONE upsert per batch, not two (round 13, guide §2.4/§6): the
            // summary cell and the bulk cells used to go through separate
            // upsert() calls, i.e. two full read-merge-write cycles of the
            // bucketed table per micro-batch. The sink's LWW merge is a fold
            // over a total order (ts DESC, op ASC, cell_value DESC) — a
            // commutative/associative/idempotent max per cell — so
            // upsert(A); upsert(B) ≡ upsert(A ∪ B) exactly; rowkey spaces
            // are disjoint anyway ("<sec>" vs "<sec>-<key>"). Halves the
            // table-merge jobs per batch; driver-verified hash-identical.
            val summaryCell =
              Seq((epochSec.toString, "cf1", "messages", summary, batchTs))
                .toDF("rowkey", "cf", "qualifier", "cell_value", "ts")
            kvSink.upsert(spark,
              summaryCell.unionAll(cached
                .select(
                  concat(lit(epochSec.toString), lit("-"), coalesce(col("key"), lit("null")))
                    .as("rowkey"),
                  lit("cf1").as("cf"),
                  lit("content").as("qualifier"),
                  when(col("key").isNull, lit("kafka empty message"))
                    .otherwise(concat(col("key"), lit("--|--"), col("value")))
                    .as("cell_value"),
                  lit(batchTs).as("ts"))))
          }
        } finally cached.unpersist()
        ()
      }
      .start()
  }

  /** ≈ KafkaStreamerToHbase.main (KafkaStreamerToHbase.scala:87-167):
    * per-record KV writes where every record in a partition shares the
    * rowkey (epoch second) — so last-write-wins leaves ≤1 surviving cell per
    * second, expressed relationally instead of via executor-side mutation.
    */
  def perRecordPipeline(
      input: DataFrame,
      kvSink: KvUpsertSink,
      trigger: Trigger = Trigger.AvailableNow(),
      checkpoint: Option[String] = None): StreamingQuery = {
    val base = input.writeStream
      .trigger(trigger)
      .outputMode("append")
    checkpoint.foreach(base.option("checkpointLocation", _))
    base
      .foreachBatch { (df: DataFrame, _: Long) =>
        kvSink.upsert(df.sparkSession,
          df.select(
            (unix_timestamp(col("timestamp"))).cast("string").as("rowkey"),
            lit("cf1").as("cf"),
            lit("message").as("qualifier"),
            when(col("key").isNull, lit("kafka empty message"))
              .otherwise(concat(col("key"), lit("--|--"), col("value")))
              .as("cell_value"),
            col("timestamp").as("ts")))
        ()
      }
      .start()
  }

  /** Declarative event-time SESSION windows with a watermark — the
    * built-in `session_window(col, gap)` streaming aggregation (the
    * `sessionize` mapGroupsWithState pipeline below is its arbitrary-state
    * complement; the batch catalog query `session_windows` is the exact
    * same operator over static data and serves as per-session ground
    * truth in StreamJobsSpec). Sessions merge while events keep arriving
    * within `gap` of the open session; append mode emits each session
    * exactly once, in the micro-batch where the watermark passes its end,
    * and rows older than the watermark are dropped by the aggregation —
    * they can never reopen or extend a closed session. State is one
    * (start, end, n) per in-flight session, watermark-evicted.
    */
  def sessionWindowCounts(input: DataFrame, gap: String,
      watermark: String): DataFrame =
    input
      .withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("key"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"))

  /** Continuous per-key counts with event-time window + watermark — the
    * streaming form of CoreOps.countPerKey/batchCount, with late-data drop
    * the reference never had. Append mode requires the watermark.
    */
  def windowedCounts(input: DataFrame, window_ : String, watermark: String): DataFrame =
    input
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("key"), col("n"))

  /** Trending items per event-time window: per-(window, key) counts with a
    * watermark, top-k per CLOSED window — the "what's hot right now" query
    * every streaming analytics user asks for first.
    *
    * The windowed aggregation is incremental (state = one count per
    * in-flight (window, key), watermark-evicted). Append mode emits a
    * window's counts exactly once — all in the micro-batch where the
    * watermark passes the window's end — so the foreachBatch rank sees
    * every count of each closed window together and the emitted ranks are
    * FINAL. Rows later than the watermark are dropped by the aggregation
    * itself and can never reopen a closed window. Ranking happens after
    * aggregation over per-window partitions (no global sort, no raw-event
    * state): state is bounded by watermark horizon × active keys, output
    * by k × windows per trigger.
    */
  def windowedTopK(
      input: DataFrame,
      window_ : String,
      watermark: String,
      k: Int,
      out: TopicTableSink,
      trigger: Trigger = Trigger.ProcessingTime(0),
      checkpoint: Option[String] = None): StreamingQuery = {
    val counts = windowedCounts(input, window_, watermark)
    val base = counts.writeStream.outputMode("append").trigger(trigger)
    checkpoint.foreach(base.option("checkpointLocation", _))
    base.foreachBatch { (df: DataFrame, batchId: Long) =>
      if (!df.isEmpty) {
        val w = Window.partitionBy(col("window_start"))
          .orderBy(col("n").desc, col("key"))
        // batch-keyed overwrite: a post-crash replay of this batch rewrites
        // the same batch=<id> dir instead of appending duplicate rank rows
        out.appendBatch(df.withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= k), batchId)
      }
      ()
    }.start()
  }

  /** Streaming distribution-drift monitor — the batch `hellinger_drift`
    * readout as a continuous per-window alarm: per-(window, key) counts
    * with a watermark, and for each CLOSED window the Hellinger distance
    * of its key mix against a static baseline distribution, flagged when
    * H² crosses `alarmPico` (picos of squared distance). Append mode emits
    * a window's counts exactly once (all in the micro-batch where the
    * watermark passes window end), so the foreachBatch distance is FINAL
    * per window — late rows are dropped by the aggregation and can never
    * revise an emitted alarm. Same exact arithmetic as the batch query
    * (per-cell terms quantized to picos before the order-free long sum;
    * sqrt only on exact integers), so the monitor and the batch readout
    * agree bit-for-bit. State = one count per in-flight (window, key);
    * the baseline is a tiny broadcast.
    */
  def streamingDriftMonitor(
      input: DataFrame,
      window_ : String,
      watermark: String,
      baseline: DataFrame, // static (key, qc) counts
      out: TopicTableSink,
      alarmPico: Long,
      trigger: Trigger = Trigger.ProcessingTime(0),
      checkpoint: Option[String] = None): StreamingQuery = {
    val counts = windowedCounts(input, window_, watermark)
    val base = counts.writeStream.outputMode("append").trigger(trigger)
    checkpoint.foreach(base.option("checkpointLocation", _))
    base.foreachBatch { (df: DataFrame, batchId: Long) =>
      if (!df.isEmpty) {
        val bl = baseline.select(col("key"), col("qc").cast("long").as("qc"))
        val keys = bl.select(col("key"))
          .union(df.select(col("key"))).distinct()
        val windows = df.groupBy(col("window_start"))
          .agg(sum(col("n")).cast("long").as("nd"))
        val baseTot = bl.agg(sum(col("qc")).cast("long").as("nq"))
        val diff =
          sqrt(col("n").cast("double") / col("nd").cast("double")) -
            sqrt(col("qc").cast("double") / col("nq").cast("double"))
        val scored = windows.crossJoin(broadcast(keys))
          .join(df.select(col("window_start"), col("key"), col("n")),
            Seq("window_start", "key"), "left")
          .withColumn("n", coalesce(col("n"), lit(0L)))
          .join(broadcast(bl), Seq("key"), "left")
          .withColumn("qc", coalesce(col("qc"), lit(0L)))
          .crossJoin(broadcast(baseTot))
          .withColumn("term_pico", round(diff * diff * 1e12).cast("long"))
          .groupBy(col("window_start"))
          .agg(sum(col("term_pico")).cast("long").as("h2_pico"),
            max(col("nd")).as("n_events"))
          .withColumn("hellinger", sqrt(col("h2_pico").cast("double") / 2e12))
          .withColumn("alarm", col("h2_pico") >= alarmPico)
        out.appendBatch(scored, batchId)
      }
      ()
    }.start()
  }

  /** Cross-batch streaming dedup with watermark (D1 generalized). */
  def streamingDedup(input: DataFrame, watermark: String): DataFrame =
    input
      .withWatermark("timestamp", watermark)
      .dropDuplicates("key", "value")

  /** Watermark-bounded dedup (Spark 3.5+ `dropDuplicatesWithinWatermark`,
    * SURVEY.md §2.4): unlike [[streamingDedup]], dedup state for a key is
    * EVICTED once the watermark passes its event time — so state is bounded
    * by the watermark window (the at-scale requirement), and a re-arrival
    * after eviction is treated as new. D1 with the state-lifetime contract a
    * 100 TB/day stream actually needs.
    */
  def streamingDedupWithinWatermark(input: DataFrame, watermark: String): DataFrame =
    input
      .withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("key", "value")

  /** Stream-stream interval join: right-side events joined to left-side
    * events with the same key within [left.ts, left.ts + window]. Watermarks
    * on both sides bound the join state (no unbounded buffering — the
    * at-scale requirement for stream-stream joins). No reference analog.
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
      window_ : String, watermark: String): DataFrame = {
    val l = left.withWatermark("timestamp", watermark)
      .select(col("key").as("l_key"), col("value").as("l_value"),
        col("timestamp").as("l_ts"))
    val r = right.withWatermark("timestamp", watermark)
      .select(col("key").as("r_key"), col("value").as("r_value"),
        col("timestamp").as("r_ts"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $window_"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[streamStreamJoin]] but
    * left rows with no in-window match are emitted null-padded once the
    * watermark guarantees no match can still arrive. Both watermarks + the
    * interval condition bound the buffered state (mandatory for outer
    * stream-stream joins — Spark rejects the query otherwise).
    */
  def streamStreamLeftOuterJoin(left: DataFrame, right: DataFrame,
      window_ : String, watermark: String): DataFrame = {
    val l = left.withWatermark("timestamp", watermark)
      .select(col("key").as("l_key"), col("value").as("l_value"),
        col("timestamp").as("l_ts"))
    val r = right.withWatermark("timestamp", watermark)
      .select(col("key").as("r_key"), col("value").as("r_value"),
        col("timestamp").as("r_ts"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $window_"),
      "left_outer")
  }

  /** Stream-stream FULL OUTER interval join: both sides emit null-padded
    * once the watermark guarantees no match can still arrive — the
    * "reconcile two feeds and surface orphans on EITHER side" shape
    * (payments vs ledger, views vs purchases). Same watermark + interval
    * bounds as [[streamStreamLeftOuterJoin]]; Spark rejects the query
    * without them, which is exactly the unbounded-state guard a 100 TB/day
    * stream needs.
    */
  def streamStreamFullOuterJoin(left: DataFrame, right: DataFrame,
      window_ : String, watermark: String): DataFrame = {
    val l = left.withWatermark("timestamp", watermark)
      .select(col("key").as("l_key"), col("value").as("l_value"),
        col("timestamp").as("l_ts"))
    val r = right.withWatermark("timestamp", watermark)
      .select(col("key").as("r_key"), col("value").as("r_value"),
        col("timestamp").as("r_ts"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"interval $window_"),
      "full_outer")
  }

  /** CHAINED stateful operators in one streaming query (Spark 3.4+): a
    * watermarked cross-batch dedup feeding a tumbling-window count — the
    * "dedupe the at-least-once feed, then aggregate it" pipeline that
    * previously needed two queries with an intermediate topic. Both
    * operators share one watermark; state is dedup keys + in-flight
    * window counts, each watermark-bounded.
    */
  def dedupThenWindowCounts(input: DataFrame, window_ : String,
      watermark: String): DataFrame =
    input
      .withWatermark("timestamp", watermark)
      .dropDuplicates("key", "value", "timestamp")
      .groupBy(window(col("timestamp"), window_), col("key"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("key"), col("n"))

  /** Per-key event-time rate limiter on the `transformWithState` API
    * (Spark 4's arbitrary-stateful-processing successor to
    * mapGroupsWithState: typed state variables, TTL, timers): admit at
    * most `maxPer` events per key per `windowUs`-microsecond event-time
    * window, state = ONE (window, admitted-count) pair per key in a
    * ValueState — O(keys), not O(events). Rows within a micro-batch are
    * ordered (ts, eid) before admission so the decision is deterministic
    * under any task/arrival order; windows are floor(us / windowUs), so a
    * key's window ids are non-decreasing in that order and the sequential
    * reset is exactly a per-(key, window) row_number — which is what the
    * oracle replays. Requires the RocksDB state store provider (the only
    * backend transformWithState supports in 4.1); callers pin it for the
    * query and restore after.
    */
  def rateLimitPerKey(input: DataFrame, maxPer: Int, windowUs: Long): DataFrame = {
    import input.sparkSession.implicits._
    input
      .select(col("key").cast("long"), col("eid").cast("long"),
        col("us").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RateLimitProcessor(maxPer, windowUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF()
  }

  /** Per-key trailing-window feature enrichment on `transformWithState`
    * composite state (ListState trailing buffer + MapState per-type counts
    * + TTL — see [[TwsTrailProcessor]]). Emits one row per input row with
    * its type's running rank and the max of the key's previous ≤ `trailN`
    * centi-values. Requires the RocksDB state store provider. */
  def trailStatsTws(input: DataFrame, trailN: Int): DataFrame = {
    import input.sparkSession.implicits._
    input
      .select(col("key").cast("long"), col("value").cast("string"),
        col("eid").cast("long"), col("us").cast("long"),
        round(col("dval") * 100).cast("long").as("cents"))
      .as[(Long, String, Long, Long, Long)]
      .groupByKey(_._1)
      // ProcessingTime, not None: TTL'd state is only assignable in
      // processing-time mode (the expiry clock IS processing time). The
      // processor registers no timers, so outputs stay batch-deterministic.
      .transformWithState(new TwsTrailProcessor(trailN),
        org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF()
  }

  /** Event-time sessionization on `transformWithState`
    * (TimeMode.EventTime + per-key timers — see [[TwsSessionProcessor]]):
    * sessions close when the WATERMARK passes last-event + gap, so state is
    * one (start, last, n) triple per key with a live session — O(active
    * keys), bounded by the watermark exactly as the built-in
    * session_window aggregation is. Input needs `key`, `eid` and a
    * `timestamp` column the watermark rides on. Requires the RocksDB state
    * store provider (the only transformWithState backend in 4.1). */
  def sessionizeTws(input: DataFrame, gapUs: Long,
      watermark: String): DataFrame = {
    import input.sparkSession.implicits._
    input
      // the event-time column must survive into the stateful operator —
      // EventTime mode filters late rows against it and rides the watermark
      .select(col("key").cast("long"), col("eid").cast("long"),
        unix_micros(col("timestamp")).as("us"), col("timestamp"))
      .withWatermark("timestamp", watermark)
      .as[(Long, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new TwsSessionProcessor(gapUs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF()
  }

  /** Stream-static enrichment join: the streaming side joined to a bounded
    * dimension table, explicitly broadcast — every micro-batch re-plans the
    * join, so a 1000-executor cluster ships the dim once per batch instead
    * of shuffling the stream. Unmatched keys fall back to a sentinel rather
    * than dropping (the reference's null-key fallback flavor,
    * HbaseWriter.scala:54-66). Stateless: no watermark needed, state size
    * zero regardless of stream volume.
    */
  def streamStaticEnrich(input: DataFrame, dim: DataFrame): DataFrame =
    input.join(
        org.apache.spark.sql.functions.broadcast(dim), Seq("key"), "left_outer")
      .withColumn("tier", coalesce(col("tier"), lit("unknown")))
      .select(col("key"), col("value"), col("timestamp"), col("tier"))

  /** Cross-batch per-key running counts via mapGroupsWithState — the
    * reference's driver-side `var counter` (A4, Streamer.scala:122,128)
    * generalized to per-key, fault-tolerant state: checkpointed by the state
    * store instead of lost on restart. Output mode: update.
    */
  def runningCountsPerKey(input: org.apache.spark.sql.Dataset[KafkaShaped])
      : org.apache.spark.sql.Dataset[(String, Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val outEnc: Encoder[(String, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.scalaLong)
    input.groupByKey(r => if (r.key == null) "" else r.key)
      .mapGroupsWithState[Long, (String, Long)](GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (key, n)
      }
  }

  /** Streaming heavy hitters with BOUNDED state — Misra-Gries summaries
    * per key over the value stream via `flatMapGroupsWithState` (multi-row
    * emission: one output row per tracked slot per trigger): state is at
    * most `capacity` (value, counter) slots plus the processed total,
    * however many distinct values flow through — the state-store
    * complement of the batch CMS sketch. MG's deterministic guarantee
    * (independent of arrival order, which streaming cannot promise):
    * every estimate obeys true − n/(capacity+1) ≤ est ≤ true, so any
    * value with frequency above n/(capacity+1) is GUARANTEED present —
    * exactly the property the spec asserts against a batch recount.
    * Emits one row per tracked slot per trigger in update mode.
    */
  def streamingHeavyHitters(input: org.apache.spark.sql.Dataset[KafkaShaped],
      capacity: Int): org.apache.spark.sql.Dataset[(String, String, Long, Long)] = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val stateEnc: Encoder[(Map[String, Long], Long)] =
      Encoders.product[(Map[String, Long], Long)]
    implicit val rowEnc: Encoder[(String, String, Long, Long)] =
      Encoders.tuple(Encoders.STRING, Encoders.STRING,
        Encoders.scalaLong, Encoders.scalaLong)
    input.groupByKey(r => if (r.key == null) "" else r.key)
      .flatMapGroupsWithState[(Map[String, Long], Long),
        (String, String, Long, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (key, rows, state) =>
          val st0 = state.getOption.getOrElse((Map.empty[String, Long], 0L))
          var slots: Map[String, Long] = st0._1
          var n: Long = st0._2
          rows.foreach { r =>
            val v = if (r.value == null) "" else r.value
            n += 1
            slots.get(v) match {
              case Some(c) => slots = slots.updated(v, c + 1)
              case None if slots.size < capacity => slots = slots.updated(v, 1L)
              case None =>
                slots = slots.view.mapValues(_ - 1L).filter(_._2 > 0L).toMap
            }
          }
          state.update((slots, n))
          val total = n
          slots.toSeq.sortBy { case (v, c) => (-c, v) }
            .map { case (v, c) => (key, v, c, total) }.iterator
      }
  }

  /** One tagged row of the merged dim-update/event stream. */
  case class TemporalTagged(key: String, kind: String, value: String, tsMs: Long)
  /** An event enriched with the dim version in force at its event time. */
  case class EnrichedEvent(key: String, value: String,
      dim_value: String, tsMs: Long)

  /** Streaming temporal (backward as-of) enrichment — the state-store form
    * of the batch `org.apache.spark.sql.graft.AsOfJoin`: a dim-update
    * stream and an event stream share a key; each event picks up the dim
    * version with the largest update time at-or-before its own event time,
    * among updates seen so far (processing order across micro-batches,
    * event-time order within one — rows are sorted per group per batch,
    * updates before events on ties so a same-instant update applies).
    *
    * State per key: the last `maxVersions` (ts, value) dim versions — a
    * bounded mini history, so an out-of-order event inside the retained
    * horizon still gets its correct version, and state is O(keys ×
    * maxVersions) regardless of stream volume. Events with no version
    * at-or-before them emit a null dim (left-outer, like the batch
    * operator).
    */
  def temporalEnrich(
      updates: DataFrame,
      events: DataFrame,
      maxVersions: Int = 32): org.apache.spark.sql.Dataset[EnrichedEvent] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val tagEnc: Encoder[TemporalTagged] = Encoders.product[TemporalTagged]
    implicit val outEnc: Encoder[EnrichedEvent] = Encoders.product[EnrichedEvent]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    implicit val stEnc: Encoder[Seq[(Long, String)]] =
      Encoders.kryo[Seq[(Long, String)]]
    def tag(df: DataFrame, kind: String) = df.select(
        coalesce(col("key"), lit("")).as("key"), lit(kind).as("kind"),
        // unix_millis, NOT unix_timestamp*1000: the latter truncates to
        // whole seconds, which would let an update from later in the same
        // second tie with — and apply to — an earlier event
        col("value"), unix_millis(col("timestamp")).as("tsMs"))
      .as[TemporalTagged]
    tag(updates, "u").union(tag(events, "e"))
      .groupByKey(_.key)
      .flatMapGroupsWithState[Seq[(Long, String)], EnrichedEvent](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[Seq[(Long, String)]]) =>
          var versions = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[EnrichedEvent]
          // event-time order within the batch; updates beat events on ties.
          // value is the final tiebreak so two same-instant updates resolve
          // identically on every run (max value wins via last-write below)
          // instead of by shuffle arrival order.
          rows.toSeq.sortBy(r => (r.tsMs, if (r.kind == "u") 0 else 1, r.value))
            .foreach { r =>
              if (r.kind == "u") {
                versions = ((r.tsMs, r.value) +: versions.filterNot(_._1 == r.tsMs))
                  .sortBy(_._1).takeRight(maxVersions)
              } else {
                val dim = versions.reverseIterator.find(_._1 <= r.tsMs)
                out += EnrichedEvent(key, r.value, dim.map(_._2).orNull, r.tsMs)
              }
            }
          state.update(versions)
          out.result().iterator
      }
  }

  /** One closed user session: bounded by a processing-time gap timeout. */
  case class SessionSummary(key: String, n_events: Long,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

  /** Custom sessionization via flatMapGroupsWithState — the arbitrary-state
    * form of session windows (the declarative `session_window` form is the
    * batch query `session_windows`). Per key, events accumulate into an open
    * session; when the group sees no data for `gapMs` (processing-time
    * timeout), the session CLOSES and exactly one summary row is emitted.
    * Unlike mapGroupsWithState, a single timeout invocation can emit zero
    * rows — the flatMap contract. State is one (count, first, last) triple
    * per open session: O(active keys), checkpointed by the state store.
    */
  def sessionize(input: org.apache.spark.sql.Dataset[KafkaShaped], gapMs: Long)
      : org.apache.spark.sql.Dataset[SessionSummary] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val stateEnc: Encoder[(Long, Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[SessionSummary] = Encoders.product[SessionSummary]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    input.groupByKey(r => if (r.key == null) "" else r.key)
      .flatMapGroupsWithState[(Long, Long, Long), SessionSummary](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.ProcessingTimeTimeout()) {
        (key, rows, state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, first, last) = state.get
            state.remove()
            Iterator.single(SessionSummary(key, n,
              new java.sql.Timestamp(first), new java.sql.Timestamp(last)))
          } else {
            val times = rows.map(_.timestamp.getTime).toSeq
            val (n0, f0, l0) = state.getOption.getOrElse((0L, Long.MaxValue, Long.MinValue))
            state.update((n0 + times.size,
              math.min(f0, times.min), math.max(l0, times.max)))
            state.setTimeoutDuration(gapMs)
            Iterator.empty
          }
      }
  }

  /** One observed metric sample on a keyed stream. */
  case class MetricPoint(key: String, tsMs: Long, value: Double)
  /** An emitted anomaly: the sample plus the state it violated. */
  case class AnomalyFlag(key: String, tsMs: Long, value: Double,
      mean: Double, stddev: Double, n_prior: Long)

  /** Streaming per-key anomaly detection via flatMapGroupsWithState — the
    * online z-score monitor every metrics pipeline runs. State per key is
    * the Welford triple (n, mean, M2): O(keys), independent of stream
    * volume, numerically stable (no catastrophic Σx² − (Σx)² cancellation),
    * and mergeable enough to checkpoint-restart. A sample is flagged when
    * the key has ≥ `minPrior` prior samples and |x − μ| > `k`·σ against the
    * PRIOR state; every sample then folds into the state (flagged ones
    * included — the monitor adapts rather than latching). Rows are folded
    * in event-time order within each micro-batch (sorted per group), so
    * replaying the same batch boundaries is deterministic.
    */
  def anomalyDetect(input: org.apache.spark.sql.Dataset[MetricPoint],
      k: Double = 3.0, minPrior: Long = 5L)
      : org.apache.spark.sql.Dataset[AnomalyFlag] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val stateEnc: Encoder[(Long, Double, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble)
    implicit val outEnc: Encoder[AnomalyFlag] = Encoders.product[AnomalyFlag]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    input.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Double, Double), AnomalyFlag](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[(Long, Double, Double)]) =>
          var (n, mean, m2) = state.getOption.getOrElse((0L, 0.0, 0.0))
          val out = Seq.newBuilder[AnomalyFlag]
          rows.toSeq.sortBy(r => (r.tsMs, r.value)).foreach { r =>
            if (n >= minPrior) {
              val sd = math.sqrt(m2 / n)
              if (math.abs(r.value - mean) > k * sd)
                out += AnomalyFlag(key, r.tsMs, r.value, mean, sd, n)
            }
            n += 1
            val d = r.value - mean
            mean += d / n
            m2 += d * (r.value - mean)
          }
          state.update((n, mean, m2))
          out.result().iterator
      }
  }

  /** A pre-quantized metric sample: `centi` is ROUND(value·100) computed by
    * the CALLER with Spark's `round` expression, so both engines quantize
    * the raw double identically (half-away, even exactly ON a boundary). */
  case class ExactMetricPoint(key: String, tsUs: Long, centi: Long)
  /** An exact-arithmetic anomaly flag: the sample plus the prior count. */
  case class ExactAnomaly(key: String, tsUs: Long, centi: Long, n_prior: Long)

  /** Streaming per-key anomaly detection in EXACT integer arithmetic — the
    * reproducible complement of [[anomalyDetect]]: |x − μ| > k·σ against
    * the prior state is evaluated as (n·x − S1)² > k²·(n·S2 − S1²), with
    * (n, S1 = Σx, S2 = Σx²) kept in BigInt so the comparison is exact at
    * ANY n (S2 ~ n·x² overflows a long at n ≈ 1e9 cents-scale rows; BigInt
    * state is a few dozen bytes per key, still O(keys)). Every flag
    * decision is therefore bit-reproducible across partitionings, reruns,
    * AND engines — an oracle-checkable property Welford doubles cannot
    * give, and the one a production alerting pipeline needs to replay an
    * incident. Zero-variance priors flag ANY deviation (strict >, so a
    * repeat of the constant never flags). Rows fold in (tsUs, centi) order
    * per micro-batch; same-instant same-value rows are interchangeable, so
    * the emitted multiset is deterministic.
    */
  def anomalyDetectExact(input: org.apache.spark.sql.Dataset[ExactMetricPoint],
      k: Long = 3L, minPrior: Long = 5L)
      : org.apache.spark.sql.Dataset[ExactAnomaly] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val stateEnc: Encoder[(Long, BigInt, BigInt)] =
      Encoders.kryo[(Long, BigInt, BigInt)]
    implicit val outEnc: Encoder[ExactAnomaly] = Encoders.product[ExactAnomaly]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    input.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, BigInt, BigInt), ExactAnomaly](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[(Long, BigInt, BigInt)]) =>
          var (n, s1, s2) = state.getOption
            .getOrElse((0L, BigInt(0), BigInt(0)))
          val k2 = BigInt(k * k)
          val out = Seq.newBuilder[ExactAnomaly]
          rows.toSeq.sortBy(r => (r.tsUs, r.centi)).foreach { r =>
            val x = BigInt(r.centi)
            if (n >= minPrior) {
              val lhs = BigInt(n) * x - s1
              if (lhs * lhs > k2 * (BigInt(n) * s2 - s1 * s1))
                out += ExactAnomaly(key, r.tsUs, r.centi, n)
            }
            n += 1; s1 += x; s2 += x * x
          }
          state.update((n, s1, s2))
          out.result().iterator
      }
  }

  case class DebouncedEvent(key: String, tsMs: Long, value: Double)

  /** Streaming debounce via flatMapGroupsWithState: per key, emit an event
    * only when it arrives more than `quietMs` after the previously KEPT
    * event — the CHAINED form (each kept event opens a fresh quiet window),
    * which a lag() window cannot express and which must survive micro-batch
    * boundaries. State per key is ONE long (last kept ts): O(keys),
    * independent of stream volume. Rows fold in event-time order within
    * each micro-batch, so replaying the same batch boundaries is
    * deterministic; an event inside the quiet window of a PREVIOUS batch's
    * kept event is correctly dropped (the cross-batch case the spec pins).
    */
  def debounce(input: org.apache.spark.sql.Dataset[MetricPoint],
      quietMs: Long): org.apache.spark.sql.Dataset[DebouncedEvent] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val stateEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[DebouncedEvent] = Encoders.product[DebouncedEvent]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    input.groupByKey(_.key)
      .flatMapGroupsWithState[Long, DebouncedEvent](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[Long]) =>
          var lastKept = state.getOption.getOrElse(Long.MinValue)
          val out = Seq.newBuilder[DebouncedEvent]
          rows.toSeq.sortBy(r => (r.tsMs, r.value)).foreach { r =>
            if (lastKept == Long.MinValue || r.tsMs > lastKept + quietMs) {
              out += DebouncedEvent(key, r.tsMs, r.value)
              lastKept = r.tsMs
            }
          }
          state.update(lastKept)
          out.result().iterator
      }
  }

  /** A streamed document for online near-dup detection. */
  case class StreamDoc(docId: Long, text: String, ts: java.sql.Timestamp)
  /** One LSH band row of a streamed document. */
  case class BandRow(band: Int, key: String, docId: Long, ts: java.sql.Timestamp)
  /** A band collision: `docId` hit the bucket `dupOf` already owns. */
  case class NearDupHit(docId: Long, dupOf: Long, band: Int, key: String)

  /** MinHash band keys for streaming near-dup: 16 md5-derived min-hashes
    * over 3-token shingles, banded 4×4 — the same signature family as the
    * batch LSH (operators.DedupOps), computed here in closed Scala form so
    * the streaming job needs no session-registered SQL machinery. */
  private[graft] def minhashBandKeys(text: String): Seq[(Int, String)] = {
    val toks = text.split(" ").filter(_.nonEmpty)
    val shingles: Seq[String] =
      if (toks.length < 3) Seq(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSeq
    val md = java.security.MessageDigest.getInstance("MD5")
    val mh = Array.fill(16)(Long.MaxValue)
    // distinct: a repeated shingle cannot change any MIN (the oracle's
    // DISTINCT shx); the numeric fold below IS parseLong(hex.take(15), 16)
    // — the first 15 hex digits are the top 60 bits big-endian — without
    // the per-byte format/parse round-trip that made this loop the single
    // most expensive stage of the sf0.1 bench (16 digests per shingle
    // stand; they define the signature family the oracle replays)
    shingles.distinct.foreach { sh =>
      var i = 0
      while (i < 16) {
        md.reset()
        val d = md.digest(s"mh:$i:$sh".getBytes("UTF-8"))
        var be = 0L
        var j = 0
        while (j < 8) { be = (be << 8) | (d(j) & 0xffL); j += 1 }
        val h = be >>> 4
        if (h < mh(i)) mh(i) = h
        i += 1
      }
    }
    (0 until 4).map(b => (b, (0 until 4).map(r => mh(b * 4 + r)).mkString(":")))
  }

  /** Streaming near-duplicate detection — the online form of the batch
    * MinHash-LSH dedup an ingest pipeline runs on "today's crawl"
    * (operators.DedupOps.incrementalDedup), here as a CONTINUOUS query:
    * each document's 4 LSH band keys probe a stateful bucket index; a
    * band whose bucket is already owned by an earlier document emits a
    * [[NearDupHit]] (the downstream near-dup verdict is "any band hit").
    *
    * State per occupied bucket is ONE (docId, ts) owner — O(distinct
    * buckets), never O(corpus text) — and is EVICTED once the event-time
    * watermark passes the owner's timestamp plus `ttl` (the bucket then
    * re-admits, exactly the bounded-state contract of
    * `dropDuplicatesWithinWatermark`). Within each micro-batch, rows fold
    * in (ts, docId) order so replays of the same batch boundaries are
    * deterministic; the first arrival claims the bucket, matching the
    * batch formulation's lowest-earliest canonical.
    */
  def streamingNearDup(input: org.apache.spark.sql.Dataset[StreamDoc],
      watermark: String, ttlMs: Long)
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    import org.apache.spark.sql.{Encoder, Encoders}
    implicit val bandEnc: Encoder[BandRow] = Encoders.product[BandRow]
    implicit val outEnc: Encoder[NearDupHit] = Encoders.product[NearDupHit]
    implicit val keyEnc: Encoder[(Int, String)] =
      Encoders.tuple(Encoders.scalaInt, Encoders.STRING)
    implicit val stateEnc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    input
      .flatMap(d => minhashBandKeys(d.text).map {
        case (b, k) => BandRow(b, k, d.docId, d.ts)
      })
      .withWatermark("ts", watermark)
      .groupByKey(r => (r.band, r.key))
      .flatMapGroupsWithState[(Long, Long), NearDupHit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (bucket, rows, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val out = Seq.newBuilder[NearDupHit]
            var owner = state.getOption
            rows.toSeq.sortBy(r => (r.ts.getTime, r.docId)).foreach { r =>
              owner match {
                case Some((ownerId, _)) if ownerId != r.docId =>
                  out += NearDupHit(r.docId, ownerId, bucket._1, bucket._2)
                case Some(_) => () // replayed owner row
                case None => owner = Some((r.docId, r.ts.getTime))
              }
            }
            owner.foreach { o =>
              state.update(o)
              // a timeout in the watermark's past throws; clamp forward so
              // an owner admitted from a nearly-expired row still evicts
              state.setTimeoutTimestamp(
                math.max(o._2 + ttlMs, state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Streaming benchmark decontamination — the `bloom_decontaminate`
    * two-phase shape as a CONTINUOUS ingest filter. The benchmark bloom is
    * built ONCE from the static shingle table at query-construction time
    * (a bounded driver round-trip: the filter binary, never the data) and
    * baked into the streaming plan as a literal, so every micro-batch
    * probes its shingles AT THE SCAN with no state and no shuffle of
    * non-candidates; bloom survivors are exact-verified by a broadcast
    * stream-static semi-join. Emits the confirmed (docId, sh) hit stream
    * in append mode — stateless, so no watermark is required; a flagged
    * docId set identical to the batch operator's is the spec's invariant.
    */
  def streamingDecontaminate(input: org.apache.spark.sql.Dataset[StreamDoc],
      bench: DataFrame): DataFrame = {
    val spark = input.sparkSession
    graft.functions.BloomFunctions.register(spark)
    val benchSh = bench.select(col("sh")).distinct()
    val bloom = benchSh
      .agg(call_function("bloom_agg", col("sh"), lit(100000L)))
      .head.getAs[Array[Byte]](0)
    input.toDF()
      .withColumn("toks", split(col("text"), " "))
      .select(col("docId"), col("ts"),
        explode(when(size(col("toks")) >= 3,
          transform(sequence(lit(1), size(col("toks")) - 2),
            i => concat_ws(" ",
              element_at(col("toks"), i),
              element_at(col("toks"), i + 1),
              element_at(col("toks"), i + 2))))
          .otherwise(array())).as("sh"))
      .filter(call_function("bloom_might_contain", lit(bloom), col("sh")))
      .join(broadcast(benchSh), Seq("sh"), "left_semi")
      .select(col("docId"), col("sh"))
  }

  /** The reference's foreachPartition open/write/close lifecycle
    * (KafkaStreamerToHbase.scala:88-167) as a real ForeachWriter; sinks each
    * record into a per-JVM buffer keyed by a test-supplied id. */
  final class BufferForeachWriter(bufferId: String) extends ForeachWriter[Row] {
    override def open(partitionId: Long, epochId: Long): Boolean = true
    override def process(row: Row): Unit =
      BufferForeachWriter.append(bufferId, row.mkString("|"))
    override def close(errorOrNull: Throwable): Unit = ()
  }
  object BufferForeachWriter {
    private val buffers =
      new java.util.concurrent.ConcurrentHashMap[String, java.util.Queue[String]]()
    def append(id: String, s: String): Unit =
      buffers.computeIfAbsent(id, _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
        .add(s)
    def get(id: String): Seq[String] = {
      val q = buffers.get(id)
      if (q == null) Seq.empty
      else { val it = q.iterator(); val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next(); b.result() }
    }
    def clear(id: String): Unit = buffers.remove(id)
  }
}
