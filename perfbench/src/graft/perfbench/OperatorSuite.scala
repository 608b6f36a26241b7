package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The operator suite, run as a probe after a traced recipient window:
  * each `SparkEntry.queries` entry once, cold (persisted frames released,
  * cache cleared), in the seeded order, plus the codegen kernels over the
  * suite's text column. Results are written out so `run.py` can compare
  * each with its DuckDB oracle.
  */
class OperatorSuite(ctx: Ctx, spark: SparkSession, trace: Trace, plan: PlanStats) {
  private val order = ctx.seq("suite").map(_.toString)
  private val dir = ctx.data

  private def runQuery(q: String): (StructType, Array[Row]) = {
    graft.ops.Dedup.releasePersisted()
    spark.catalog.clearCache()
    val df = SparkEntry.queries(q)(spark, dir)
    (df.schema, df.collect())
  }

  /** Time one codegen kernel over the suite's text column into `noop`. */
  private def kernel(name: String, f: Column => Column): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    (0 until 3).foreach { _ =>
      trace.span(name)(docs.select(f(col("text")).as("k"))
        .write.format("noop").mode("overwrite").save())
    }
  }

  private def expr(c: Column) = GraftSqlBridge.expression(c)

  def layers(): Map[String, Double] = {
    val out = ctx.str("outputs")
    trace.enabled = true
    try {
      val ops = order.flatMap { q =>
        Thread.sleep(100) // let the listener bus deliver earlier task ends
        val before = plan.delta()
        val t0 = System.nanoTime()
        val (schema, rows) = trace.span(s"ops.$q")(runQuery(q))
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(100)
        val after = plan.delta()
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$q")
        Seq(s"ops.$q.wall_s" -> wall,
          s"ops.$q.cpu_s" -> (after("cpu_ns") - before("cpu_ns")) / 1e9,
          s"ops.$q.jobs" -> (after("jobs") - before("jobs")),
          s"ops.$q.shuffle_mb" -> (after("shuffle_read") - before("shuffle_read") +
            after("shuffle_write") - before("shuffle_write")) / 1048576.0)
      }
      val oracles = order.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
        graft.model.JsonUtils.toJson(oracles).getBytes("UTF-8"))
      kernel("functions.repetition_stats", t =>
        GraftSqlBridge.column(graft.functions.RepetitionStats(expr(split(t, " ")), 2)))
      kernel("functions.char_ngrams", t =>
        GraftSqlBridge.column(graft.functions.CharNgramsDistinct(expr(t), 5)))
      kernel("functions.md5_grams", t =>
        GraftSqlBridge.column(graft.functions.Md5Grams(expr(t), 5)))
      kernel("functions.winnowing", t =>
        GraftSqlBridge.column(graft.functions.WinnowingFingerprints(expr(t), 5, 4)))
      ops.toMap ++ Seq("repetition_stats", "char_ngrams", "md5_grams", "winnowing")
        .map(k => s"functions.${k}_ms" -> trace.medianMs(s"functions.$k"))
    } finally trace.enabled = false
  }
}
