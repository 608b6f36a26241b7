package graft.perfbench

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.client.GraftRestClient
import graft.log.{GraftCatalog, GraftLog, TableBuilder}
import graft.server.{GraftServer, ServerConfig}

/** recipient_read: one closed-loop client; each op is a 4-core Spark job
  * reading a shared table over REST (`spark.read.format("graft")`). Every
  * result is compared with the same op over the local parquet, computed by
  * `run.py` in DuckDB before the JVM starts.
  */
class RecipientRead(ctx: Ctx, sparkF: => SparkSession, trace: Trace) extends Workload {
  private lazy val spark = sparkF
  private val token = "perfbench-token"
  private val population = ctx.seq("population").map(_.asInstanceOf[Map[String, Any]])
    .map(o => o("id").toString -> o).toMap
  private val ops = ctx.seq("ops").map(o =>
    population(o.asInstanceOf[Map[String, Any]]("id").toString)).toIndexedSeq
  private val expected = ctx.map("expected")
  private var root: String = _
  private var server: GraftServer = _
  private var plan: PlanStats = _
  private var opIndex = 0
  private var opsRun = 0
  private var base0: Map[String, Long] = Map.empty
  private var signedOps, activeOps = 0L
  private lazy val activeFiles: Map[String, Long] = TABLES.map { t =>
    t -> new GraftLog(s"$root/$t", conf).snapshot(None).files.size.toLong
  }.toMap
  private def conf: Configuration = spark.sessionState.newHadoopConf()

  private val TABLES = Seq("lineitem", "orders", "orders_versioned", "orders_cdf", "nation_dv")

  /** The shared tables, laid out like the repository's sharing fixtures. */
  private def buildTables(root: String): Unit = {
    val d = ctx.data
    val before = lit("1997-01-01").cast("timestamp")
    val after = lit("1999-01-01").cast("timestamp")
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    TableBuilder.create(spark, li.repartitionByRange(8, col("l_orderkey")),
      s"$root/lineitem", name = "lineitem")
    val o = spark.read.parquet(s"$d/orders.parquet")
    TableBuilder.create(spark, o.withColumn("o_year", year(col("o_orderdate"))),
      s"$root/orders", partitionCols = Seq("o_year"), name = "orders")
    val ov = s"$root/orders_versioned"
    TableBuilder.create(spark, o.filter(col("o_orderdate") < before).repartition(2), ov,
      name = "orders_versioned")
    TableBuilder.append(spark, o.filter(col("o_orderdate") >= before &&
      col("o_orderdate") < after).repartition(2), ov, timestamp = 1000L)
    TableBuilder.append(spark, o.filter(col("o_orderdate") >= after).repartition(2), ov,
      timestamp = 2000L)
    val oc = s"$root/orders_cdf"
    TableBuilder.create(spark, o.filter(col("o_orderdate") < before).repartition(2), oc,
      name = "orders_cdf", configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark, o.filter(col("o_orderdate") >= before &&
      col("o_orderdate") < after).repartition(2), oc, timestamp = 1000L)
    TableBuilder.deleteWhere(spark, oc, col("o_orderstatus") === "F" &&
      col("o_orderdate") < lit("1996-01-01").cast("timestamp"), timestamp = 2000L)
    TableBuilder.updateWhere(spark, oc, col("o_totalprice") > 400000,
      Seq("o_orderpriority" -> lit("9-UPDATED")), timestamp = 3000L)
    val n = spark.read.parquet(s"$d/nation.parquet")
    TableBuilder.create(spark, n.repartition(2), s"$root/nation_dv", name = "nation_dv")
    TableBuilder.deleteWhereDV(spark, s"$root/nation_dv", col("n_regionkey") === 2,
      timestamp = 1000L)
  }

  /** The tables are a pure function of the fixtures and the program
    * build, so they are built once per build and reused by later runs.
    */
  override def prepare(): Unit = {
    root = ctx.str("share_cache")
    if (!new java.io.File(root).isDirectory) {
      val tmp = s"$root.tmp${ProcessHandle.current().pid()}"
      buildTables(tmp)
      java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(root))
    }
  }

  def setup(rep: Int): Unit = {
    close()
    if (plan == null) plan = new PlanStats(spark)
    TABLES.foreach(t => GraftLog.invalidateListing(s"$root/$t"))
    TABLES.foreach(t => GraftCatalog.register(s"share1.default.$t", s"$root/$t"))
    server = new GraftServer(ServerConfig(bearerToken = Some(token)), conf).start()
    // warm-up: every op kind once, unchecked
    ops.groupBy(_("kind")).values.map(_.head).foreach(o => run(o))
  }

  private def remote(table: String, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft").option("url", server.url)
      .option("token", token).option("table", s"share1.default.$table")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  private def lng(o: Map[String, Any], k: String): Long = o(k).asInstanceOf[Number].longValue()

  private def nums(r: Row): Seq[Double] =
    (0 until r.length).map(i => if (r.isNullAt(i)) 0.0 else r.get(i).asInstanceOf[Number].doubleValue())

  /** Run one op; returns its result as numbers in the order run.py expects. */
  private def run(o: Map[String, Any]): Seq[Double] = o("kind") match {
    case "scan" =>
      nums(remote("lineitem").select(col("l_orderkey"), col("l_extendedprice"))
        .agg(count(lit(1)), sum(col("l_orderkey")), sum(col("l_extendedprice"))).head())
    case "range_agg" =>
      nums(remote("lineitem").filter(col("l_orderkey") >= lng(o, "lo") &&
        col("l_orderkey") < lng(o, "hi") && col("l_discount") > 0.05)
        .agg(count(lit(1)), sum(col("l_quantity"))).head())
    case "partition" =>
      nums(remote("orders").filter(col("o_year") === lng(o, "year"))
        .agg(count(lit(1)), sum(col("o_totalprice"))).head())
    case "limit" =>
      nums(remote("lineitem").limit(lng(o, "n").toInt).agg(count(lit(1))).head())
    case "timetravel" =>
      nums(remote("orders_versioned", "versionAsOf" -> lng(o, "version").toString)
        .agg(count(lit(1)), sum(col("o_orderkey"))).head())
    case "cdf" =>
      changeCounts(remote("orders_cdf", "readChangeFeed" -> "true", "startingVersion" -> "0")
        .groupBy(col("_change_type")).count().collect())
    case "dv" =>
      nums(remote("nation_dv").agg(count(lit(1)), sum(col("n_nationkey"))).head())
    case "stream" =>
      val name = s"perfbench_stream_${System.nanoTime()}"
      val q = spark.readStream.format("graft").option("url", server.url)
        .option("token", token).option("table", "share1.default.orders_cdf")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .option("queryTableVersionIntervalSeconds", "0").load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", s"${ctx.work}/checkpoints/$name")
        .trigger(Trigger.AvailableNow()).start()
      try {
        if (!q.awaitTermination(120000)) throw new IllegalStateException("stream drain timed out")
      } finally q.stop()
      val n = spark.table(name).count()
      spark.catalog.dropTempView(name)
      Seq(n.toDouble)
  }

  private def changeCounts(rows: Array[Row]): Seq[Double] = {
    val m = rows.map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    Seq("insert", "delete", "update_preimage", "update_postimage").map(m.getOrElse(_, 0.0))
  }

  def window(seconds: Double, log: OpLog, checks: Checks): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline) {
      val o = ops(opIndex % ops.size)
      opIndex += 1
      trace.beginOp()
      val e0 = PlanStats.epochNs()
      val t0 = System.nanoTime()
      val signed0 = server.signCount.get()
      val got = try Some(trace.span(s"recipient.${o("kind")}")(run(o)))
        catch { case e: Exception => System.err.println(s"op ${o("id")} failed: $e"); None }
      val t1 = System.nanoTime()
      plan.op(e0, PlanStats.epochNs())
      val want = expected(o("id").toString).asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[Number].doubleValue())
      val ok = got.exists(Checks.close(_, want))
      log.add(o("kind").toString, t0, t1,
        checks(ok, s"recipient op ${o("id")} (${o("kind")}) got $got, expected $want"))
      if (log.traced) {
        signedOps += server.signCount.get() - signed0
        activeOps += activeFiles(tableOf(o))
      }
      opsRun += 1
    }
  }

  private def tableOf(o: Map[String, Any]): String = o("kind") match {
    case "scan" | "range_agg" | "limit" => "lineitem"
    case "partition" => "orders"
    case "timetravel" => "orders_versioned"
    case "cdf" | "stream" => "orders_cdf"
    case "dv" => "nation_dv"
  }

  private def graftFs(): (Long, Long) =
    (CountingGraftFileSystem.bytes.get(), CountingGraftFileSystem.opens.get())

  private def counters(): Map[String, Long] = {
    val (b, r) = graftFs()
    Map("snapshot" -> phase("snapshot"), "listing" -> phase("listing"),
      "render" -> phase("render"), "signed" -> server.signCount.get(),
      "ops" -> opsRun.toLong, "graft_bytes" -> b, "graft_reads" -> r)
  }

  private def phase(n: String): Long = server.phaseNanos.get(n).map(_.get()).getOrElse(0L)

  override def beginTraced(): Unit = {
    base0 = counters()
    plan.begin()
    signedOps = 0; activeOps = 0
  }

  def layers(): Map[String, Double] = {
    val d = counters().map { case (k, v) => k -> (v - base0(k)).toDouble }
    val n = math.max(1.0, d("ops"))
    val p = plan.delta()
    val planLayers = plan.layers(d("ops").toInt)
    val c = conf
    val li = s"$root/lineitem"
    val client = new GraftRestClient(server.url, Some(token))
    trace.enabled = true
    try (0 until 5).foreach { _ =>
      trace.span("client.metadata")(client.metadata("share1", "default", "lineitem"))
      val snap = new GraftLog(li, c).snapshot(None)
      trace.span("sources.list_files")(
        new graft.sources.GraftFileIndex(spark, li, snap).listFiles(Nil, Nil))
    } finally trace.enabled = false
    planLayers ++ new OperatorSuite(ctx, spark, trace, plan).layers() ++
      Probes.log(li, c, trace, Seq(0L)) ++
      Probes.predicates(li, c, trace, ctx.str("probe_json"), "l_orderkey >= 0")
        .filter(_._1 == "predicates.skip_eval_ms") ++
      Probes.predicates(s"$root/orders", c, trace, ctx.str("probe_json"), "o_year = 1996")
        .filter(_._1 == "predicates.hint_prune_ms") ++ Map(
        "predicates.files_kept_ratio" -> signedOps.toDouble / math.max(1L, activeOps),
        "server.snapshot_ms" -> d("snapshot") / 1e6 / n,
        "server.listing_ms" -> d("listing") / 1e6 / n,
        "server.render_sign_ms" -> d("render") / 1e6 / n,
        "server.files_signed" -> d("signed") / n,
        "server.sign_us_per_file" -> d("render") / 1e3 / math.max(1.0, d("signed")),
        "client.metadata_ms" -> trace.meanMs("client.metadata"),
        "sources.graft_read_mb" -> d("graft_bytes") / 1048576.0 / n,
        "sources.graft_read_ops" -> d("graft_reads") / n,
        "sources.bytes_per_row" -> d("graft_bytes") / math.max(1.0, p("records")),
        "sources.list_files_ms" -> trace.medianMs("sources.list_files"))
  }

  override def properties: Map[String, Any] = {
    val (b, _) = graftFs()
    val recs = plan.listener.recordsRead.get()
    // graft:// bytes are counted in traced runs only
    (if (ctx.traced) Map("bytes_per_row" -> b.toDouble / math.max(1L, recs)) else Map.empty[String, Any]) ++ Map(
      "op_kinds" -> ops.map(_("kind").toString).distinct.sorted,
      "active_files" -> activeFiles)
  }

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}
