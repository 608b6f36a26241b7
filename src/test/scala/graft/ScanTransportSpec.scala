package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{GraftCatalog, TableBuilder}
import graft.server.{GraftServer, ServerConfig}
import graft.sources.{GraftFileIndex, GraftScanRelation}

/** The batch scan core over every transport: one table shape at a time
  * (plain, partitioned, deletion vectors, column mapping, both), read by
  * local `path`, over `url` (the parquet dialect, or the delta dialect the
  * server negotiates for DV and column-mapped tables) and by SQL name in
  * the local catalog. Each read must return the same rows, prune the same
  * partitions, and honor a limit on live rows.
  */
class ScanTransportSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.graft", classOf[graft.sources.GraftSparkCatalog].getName)
    .getOrCreate()

  private var server: GraftServer = _
  private val registered = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Rows the scans read from files, summed over finished tasks. */
  private val recordsRead = new AtomicLong()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => recordsRead.addAndGet(m.inputMetrics.recordsRead))
    })
    server = new GraftServer(ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
  }

  override def afterAll(): Unit = {
    registered.foreach(GraftCatalog.unregister)
    if (server != null) server.stop()
    spark.stop()
  }

  /** One table shape. Rows: ids 1..40 in four single-task batches of ten;
    * with `dv`, every id not divisible by 5 is deleted by deletion
    * vector, so each unpartitioned file keeps 2 live rows of 10.
    */
  private case class Shape(
      name: String, partitioned: Boolean = false, mapped: Boolean = false, dv: Boolean = false) {
    def fqn: String = s"share1.default.transport_$name"
    def liveIds: Seq[Long] = (1L to 40L).filter(i => !dv || i % 5 == 0)
  }

  private val shapes = Seq(
    Shape("plain"),
    Shape("partitioned", partitioned = true),
    Shape("dv", dv = true),
    Shape("mapped", partitioned = true, mapped = true),
    Shape("dv_mapped", mapped = true, dv = true))

  private def create(s: Shape): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_transport").toString
    def batch(k: Int): DataFrame =
      (k * 10 + 1 to k * 10 + 10).map(i => (i.toLong, s"g${i % 4}", i * 1.5))
        .toDF("id", "grp", "v").repartition(1)
    val partitionCols = if (s.partitioned) Seq("grp") else Nil
    if (s.mapped) TableBuilder.createColumnMapped(spark, batch(0), dir, partitionCols)
    else TableBuilder.create(spark, batch(0), dir, partitionCols)
    (1 to 3).foreach(k => TableBuilder.append(spark, batch(k), dir))
    if (s.dv) TableBuilder.deleteWhereDV(spark, dir, col("id") % 5 =!= 0)
    GraftCatalog.register(s.fqn, dir)
    registered += s.fqn
  }

  /** The transports, as (name, reader of a shape). */
  private val transports: Seq[(String, Shape => DataFrame)] = Seq(
    "path" -> (s => spark.read.format("graft").option("path", GraftCatalog.location(s.fqn)).load()),
    "url" -> (s => spark.read.format("graft")
      .option("url", server.url).option("token", "tkn").option("table", s.fqn).load()),
    "sql" -> (s => spark.table(s"graft.${s.fqn}")))

  private def rows(df: DataFrame): Seq[Row] =
    df.select("id", "grp", "v").collect().toSeq.sortBy(_.getLong(0))

  /** Rows the scan of `df` reads from files. */
  private def scanned(df: DataFrame): Long = {
    ListenerBusBridge.drain(spark.sparkContext)
    val before = recordsRead.get()
    df.collect()
    ListenerBusBridge.drain(spark.sparkContext)
    recordsRead.get() - before
  }

  /** The limit hint the optimizer pushed into the scan, if any. */
  private def pushedLimit(df: DataFrame): Option[Long] =
    df.queryExecution.optimizedPlan.collectFirst {
      case LogicalRelation(HadoopFsRelation(index: GraftFileIndex, _, _, _, _, _), _, _, _, _) =>
        index.limitHint
      case LogicalRelation(rel: GraftScanRelation, _, _, _, _) => rel.limitHint
    }.flatten

  for (shape <- shapes) {
    test(s"${shape.name}: every transport reads the same live rows") {
      create(shape)
      val expected = shape.liveIds.map(i => Row(i, s"g${i % 4}", i * 1.5))
      for ((transport, read) <- transports)
        assert(rows(read(shape)) === expected, s"transport $transport")
    }

    if (shape.partitioned)
      test(s"${shape.name}: every transport prunes the same partitions") {
        val read = transports.map { case (t, r) =>
          t -> scanned(r(shape).filter(col("grp") === "g1"))
        }
        // one partition of four holds ids 1, 5, 9, ... 37: ten rows
        read.foreach { case (t, n) => assert(n === 10L, s"transport $t read $n rows") }
      }

    if (shape.dv)
      test(s"${shape.name}: limit counts live rows, not physical ones") {
        // each file holds 10 physical rows but 2 live ones: a cut on
        // physical numRecords lists one file and returns 2 rows
        for ((transport, read) <- transports) {
          val limited = read(shape).limit(5)
          if (transport != "sql")
            assert(pushedLimit(limited) === Some(5L), s"transport $transport")
          assert(limited.collect().length === 5, s"transport $transport")
        }
      }
  }

  test("plain over url: a limit under a column-pruning projection reaches the listing") {
    val shape = shapes.head
    if (!registered.contains(shape.fqn)) create(shape)
    val s0 = server.signCount.get()
    // count(lit(1)) reads no column: the optimizer puts an empty Project
    // between the limit and the relation
    val counted = transports.toMap.apply("url")(shape).limit(3).agg(count(lit(1)))
    assert(pushedLimit(counted) === Some(3L))
    assert(counted.collect().head.getLong(0) === 3L)
    // one 10-row file of four covers 3 rows
    assert(server.signCount.get() - s0 === 1L)
  }
}
