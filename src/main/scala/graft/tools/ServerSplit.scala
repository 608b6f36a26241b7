package graft.tools

import org.apache.spark.sql.functions._

/** Server-path bench split (round-12 verdict task #7): the remote-
  * relation bench queries time client+server together, so a REST-layer
  * regression could hide inside Spark scan noise. This probe runs the
  * e2e remote reads at a given scale factor and splits the wall time
  * into the server's /query phases — snapshot resolution, listing
  * pipeline (sort/prune/limit), and line render+sign (the O(files-
  * returned) cost) — against the remaining Spark scan+shuffle time.
  *
  * The per-phase counters are [[graft.server.GraftServer.phaseNanos]],
  * accumulated across every request the read issues (ServerSpec pins
  * the companion invariant that signing is O(files-returned) per page).
  *
  * Usage: tools/run.sh graft.tools.ServerSplit [sfDir] [reps]
  */
object ServerSplit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.Harness.session()

    val url = graft.server.LocalShareServer.ensure(spark, sfDir)
    val server = graft.server.LocalShareServer.instance

    def remote(table: String) = spark.read.format("graft")
      .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
      .option("table", s"share1.default.$table").load()

    val cases: Seq[(String, () => Long)] = Seq(
      "lineitem_full_scan" -> (() => remote("lineitem").count()),
      "lineitem_filtered_agg" -> (() => remote("lineitem")
        .filter(col("l_orderkey") < 1000 && col("l_discount") > 0.05)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)), sum(col("l_quantity"))).count()),
      "orders_version_pinned" -> (() => remote("orders_versioned")
        .groupBy(col("o_orderstatus")).agg(count(lit(1))).count()),
      "events_projection" -> (() => remote("events")
        .select(col("event_type")).distinct().count()))

    // warm-up (fixture caches, codegen, connection pools)
    cases.foreach(_._2())

    cases.foreach { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        server.resetPhases()
        server.signCount.set(0L)
        val e2eMs = graft.Harness.timed(spark)(fn()) * 1e3
        val p = server.phaseNanos.map { case (k, v) => k -> v.get() / 1e6 }
        (e2eMs, p.getOrElse("snapshot", 0.0), p.getOrElse("listing", 0.0),
          p.getOrElse("render", 0.0), server.signCount.get())
      }
      val m = runs.sortBy(_._1)(Ordering.Double.TotalOrdering)(runs.size / 2)
      val serverMs = m._2 + m._3 + m._4
      // `residual_ms` (not "spark_ms"): phaseNanos sums per-REQUEST
      // durations, so when a read issues overlapping /query requests the
      // sum is CPU-time, not wall-time — subtracting it from wall e2e is
      // only an upper bound on the non-server share (and could go
      // negative under heavy request concurrency). The per-phase columns
      // are the regression signal; the residual is context.
      println(graft.model.JsonUtils.toJson(Map(
        "query" -> name, "e2e_ms" -> m._1.round,
        "server_ms" -> serverMs.round,
        "snapshot_ms" -> m._2.round, "listing_ms" -> m._3.round,
        "render_sign_ms" -> m._4.round,
        "residual_ms" -> (m._1 - serverMs).round,
        "files_signed" -> m._5)))
    }
    spark.stop()
  }
}
