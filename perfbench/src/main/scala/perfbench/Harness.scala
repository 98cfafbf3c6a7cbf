package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark inside one JVM and writes what it
  * measured as JSON; `perfbench/run.py` turns that into metrics and checks
  * the outputs.
  *
  * Usage: Harness <plan.json> <result.json>
  *
  * The plan names the workload, the generated inputs, the run length and
  * whether tracing is on. The program under test receives only those
  * inputs. Every call into a layer is timed from outside, through the
  * layer's public functions.
  */
object Harness {
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final class Plan(m: Map[String, Any]) {
    def str(k: String): String = m(k).toString
    def num(k: String): Double = m(k).asInstanceOf[java.lang.Number].doubleValue
    def int(k: String): Int = num(k).toInt
    def bool(k: String): Boolean = m(k).asInstanceOf[Boolean]
    def strs(k: String): Seq[String] = m(k).asInstanceOf[Seq[Any]].map(_.toString)
  }

  /** Fixed CPU work timed before and after the workload, so a stalled
    * machine shows in the run record. Reported, never used to drop or
    * repeat a measurement. */
  @volatile private var canarySink = 0L
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    canarySink = x
    (System.nanoTime() - t0) / 1e9
  }

  def session(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.RowNumberTopKRewrite.install(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val plan = new Plan(mapper.readValue(Files.readString(Paths.get(args(0))),
      classOf[Map[String, Any]]))
    val out = mutable.LinkedHashMap.empty[String, Any]
    val tracer = new Tracer(plan.bool("trace"))
    val canaryBefore = Seq.fill(3)(canary())
    val t0 = System.nanoTime()
    val spark = session(plan.int("cpus"), plan.str("spark_local_dir"))
    out("session_s") = (System.nanoTime() - t0) / 1e9
    val jobs = new JobStats
    if (tracer.on) spark.sparkContext.addSparkListener(jobs)
    try {
      plan.str("workload") match {
        case "ingest_summary" => Ingest.run(spark, plan, tracer, out)
        case "catalog_heavy"  => Catalog.run(spark, plan, tracer, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      if (tracer.on) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        out("jobs") = jobs.toJson
      }
    } finally {
      out("spans") = tracer.toJson
      out("canary_before_s") = canaryBefore
      out("canary_after_s") = Seq.fill(3)(canary())
      out("heap_max_bytes") = Runtime.getRuntime.maxMemory
      out("spark_master") = spark.sparkContext.master
      Files.writeString(Paths.get(args(1)), mapper.writeValueAsString(out))
      spark.stop()
    }
  }

  /** Run `body` with its Spark jobs tagged as operation `op`. */
  def tagged[A](spark: SparkSession, op: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobStats.OpKey, op)
    try body finally sc.setLocalProperty(JobStats.OpKey, null)
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val it = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      } finally it.close()
    }
  }

  def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case v => v
    })
}
