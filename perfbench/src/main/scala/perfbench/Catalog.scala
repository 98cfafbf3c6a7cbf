package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.operators._

/** `catalog_heavy`: a fixed list of heavy `SparkEntry.queries`, one query at
  * a time, in the run's seeded order.
  *
  *  - set-up: a new session on the shared context, the engine extension
  *    installed and every table resolved; repeated, the median is
  *    `setup_s`, and the last session runs the queries.
  *  - dump pass: each result written to parquet with the settings
  *    `graft.Verify` uses, for the oracle check; it is also the warm-up, and
  *    its times are recorded but are not a metric.
  *  - timed pass: `Q.fn`, then `executedPlan`, then a noop write, each
  *    timed; the cache is cleared between queries as `graft.Bench` does.
  */
object Catalog {
  val modules: Seq[(String, graft.QueryModule)] = Seq(
    "CoreOps" -> CoreOps, "RelationalOps" -> RelationalOps,
    "TimeWindowOps" -> TimeWindowOps, "TextOps" -> TextOps, "DedupOps" -> DedupOps,
    "SimilarityOps" -> SimilarityOps, "MultimodalOps" -> MultimodalOps,
    "AdvancedOps" -> AdvancedOps, "StatsOps" -> StatsOps, "FilterOps" -> FilterOps)

  def run(base: SparkSession, plan: Harness.Plan, tracer: Tracer,
      out: mutable.Map[String, Any]): Unit = {
    val tables = plan.str("tables")
    val order = plan.strs("order")
    val dump = plan.str("dump")
    val fns = graft.SparkEntry.queries

    var spark = base
    out("setup_s") = (0 until plan.int("setup_reps")).map { r =>
      tracer.span(s"setup-$r", "catalog.setup") {
        spark = base.newSession()
        org.apache.spark.sql.graft.RowNumberTopKRewrite.install(spark)
        graft.Tables.names.foreach(graft.Tables.t(spark, tables, _))
      }._2
    }

    val failed = ArrayBuffer.empty[String]
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    out("dump_s") = order.map { q =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      try fns(q)(spark, tables).write.mode("overwrite").parquet(s"$dump/$q")
      catch { case e: Throwable =>
        failed += q
        System.err.println(s"[perfbench] $q failed in the dump pass: $e") }
      (System.nanoTime() - t0) / 1e9
    }
    spark.conf.unset("spark.sql.parquet.outputTimestampType")
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => order.contains(k) }
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), Harness.mapper.writeValueAsString(oracle))

    val times = ArrayBuffer.empty[Map[String, Any]]
    order.foreach { q =>
      spark.catalog.clearCache()
      val op = s"q-$q"
      try {
        val (_, s) = tracer.span(op, "query") {
          Harness.tagged(spark, op) {
            val (df, _) = tracer.span(op, "Q.fn")(fns(q)(spark, tables))
            tracer.span(op, "executedPlan")(df.queryExecution.executedPlan)
            tracer.span(op, "noop write")(df.write.format("noop").mode("overwrite").save())
          }
        }
        times += Map("query" -> q, "s" -> s)
      } catch { case e: Throwable =>
        failed += q
        System.err.println(s"[perfbench] $q failed in the timed pass: $e") }
    }
    spark.catalog.clearCache()
    out("queries") = times.toSeq
    out("failed") = failed.distinct.toSeq
    out("module_of") = modules.flatMap { case (m, mod) => mod.queries.map(_.name -> m) }
      .toMap.filter { case (k, _) => order.contains(k) }
  }
}
