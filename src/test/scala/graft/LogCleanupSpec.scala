package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Expired-log cleanup (`delta.logRetentionDuration`): commits below the
  * newest checkpoint and past the horizon disappear, snapshot replay and
  * later time travel keep working from the checkpoint, sub-horizon time
  * travel refuses, and the v2 layout collects its sidecars.
  */
class LogCleanupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_log_cleanup"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def fresh(sub: String): String = {
    val p = s"$root/$sub"
    GraftLog.invalidateListing(p)
    p
  }

  private def logFiles(p: String, logDirName: String): Seq[String] = {
    val dir = new java.io.File(s"$p/$logDirName")
    Option(dir.listFiles()).toSeq.flatten.map(_.getName).sorted
  }

  test("duration parsing: delta spellings, loud refusal on junk") {
    assert(LogCleanup.parseDurationMs("interval 30 days") === 30L * 24 * 3600 * 1000)
    assert(LogCleanup.parseDurationMs("interval 1 week") === 7L * 24 * 3600 * 1000)
    assert(LogCleanup.parseDurationMs("12 hours") === 12L * 3600 * 1000)
    assert(LogCleanup.parseDurationMs("90 minutes") === 90L * 60 * 1000)
    assert(intercept[IllegalArgumentException] {
      LogCleanup.parseDurationMs("eventually")
    }.getMessage.contains("cannot parse"))
    assert(intercept[IllegalArgumentException] {
      LogCleanup.parseDurationMs("3 fortnights")
    }.getMessage.contains("unknown unit"))
  }

  test("graft format: expired commits below the checkpoint are collected " +
    "at checkpoint time; replay and history keep working") {
    import spark.implicits._
    val p = fresh("graft")
    // synthetic commit timestamps near epoch → everything is 'ancient'
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t",
      configuration = Map(LogCleanup.RETENTION_KEY -> "interval 1 hours"))
    (1 to 10).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    // the v10 checkpoint triggered cleanup: commits 0-9 gone, 10 kept
    val names = logFiles(p, GraftLog.LOG_DIR)
    assert(!names.contains(GraftLog.versionFileName(0L)), names.mkString(","))
    assert(!names.contains(GraftLog.versionFileName(9L)))
    assert(names.contains(GraftLog.versionFileName(10L)))
    assert(names.exists(_.endsWith(".checkpoint.json")))
    // current state replays fully from the checkpoint
    val got = spark.read.format("graft").option("path", p).load()
    assert(got.count() === 11L)
    // later commits still append and time-travel at-or-after the horizon
    TableBuilder.append(spark, Seq((100L, "z")).toDF("id", "v"), p,
      timestamp = 20000L)
    GraftLog.invalidateListing(p)
    assert(spark.read.format("graft").option("path", p)
      .option("versionAsOf", "10").load().count() === 11L)
    // below the horizon refuses (the commits are gone)
    val e = intercept[Exception] {
      spark.read.format("graft").option("path", p)
        .option("versionAsOf", "3").load().count()
    }
    assert(e.getMessage.contains("not found") || e.getMessage.contains("3"))
  }

  test("delta format: commits + crc collected, the checkpoint anchors replay") {
    import spark.implicits._
    val p = fresh("delta")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t",
      deltaFormat = true,
      configuration = Map(LogCleanup.RETENTION_KEY -> "interval 1 hours"))
    (1 to 10).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    val names = logFiles(p, DeltaLogCompat.LOG_DIR)
    assert(!names.contains("00000000000000000000.json"))
    assert(!names.exists(_.matches("0{19}[0-9]\\.crc")), names.mkString(","))
    assert(names.contains("00000000000000000010.json"))
    assert(names.contains("00000000000000000010.checkpoint.parquet"))
    assert(names.contains("_last_checkpoint"))
    assert(spark.read.format("graft").option("path", p).load().count() === 11L)
  }

  test("disabled or unconfigured: nothing is deleted") {
    import spark.implicits._
    val p = fresh("off")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t")
    (1 to 10).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    // no retention configured → the automatic checkpoint cleaned nothing
    assert(logFiles(p, GraftLog.LOG_DIR)
      .contains(GraftLog.versionFileName(0L)))
    // explicit off wins even with a retention configured
    TableBuilder.setProperties(spark, p, Map(
      LogCleanup.RETENTION_KEY -> Some("interval 1 hours"),
      LogCleanup.ENABLED_KEY -> Some("false")))
    assert(LogCleanup.cleanUp(spark, p, System.currentTimeMillis()) === 0)
    assert(logFiles(p, GraftLog.LOG_DIR)
      .contains(GraftLog.versionFileName(0L)))
  }

  test("RESTORE below the horizon refuses cleanly after cleanup") {
    import spark.implicits._
    val p = fresh("restore")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t",
      configuration = Map(LogCleanup.RETENTION_KEY -> "interval 1 hours"))
    (1 to 10).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    // commits 0-9 are gone; restoring to v3 needs v3's snapshot — refuse
    // with a real error, never a silent wrong-state restore
    val e = intercept[Exception] {
      Restore.restore(spark, p, 3L, timestamp = 99000L)
    }
    assert(e.getMessage != null && e.getMessage.nonEmpty)
    // the table is untouched by the failed restore
    GraftLog.invalidateListing(p)
    assert(spark.read.format("graft").option("path", p).load().count() === 11L)
    // restoring to the checkpointed version still works
    Restore.restore(spark, p, 10L, timestamp = 100000L)
    GraftLog.invalidateListing(p)
    assert(spark.read.format("graft").option("path", p).load().count() === 11L)
  }

  test("REST version-range queries below the horizon refuse cleanly") {
    import spark.implicits._
    val p = fresh("rest")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t",
      configuration = Map(LogCleanup.RETENTION_KEY -> "interval 1 hours"))
    (1 to 10).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    graft.log.GraftCatalog.register("share1.default.cleaned", p)
    val server = new graft.server.GraftServer(
      graft.server.ServerConfig(), spark.sessionState.newHadoopConf()).start()
    try {
      val http = java.net.http.HttpClient.newHttpClient()
      def post(body: String) = http.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"${server.url}/shares/share1/schemas/default/tables/cleaned/query"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      // the current snapshot serves from the checkpoint
      assert(post("{}").statusCode() === 200)
      // a range starting below the horizon (commits collected) is a
      // clean client error, not a 500 from a missing-file read
      val gone = post("""{"startingVersion": 2, "endingVersion": 5}""")
      assert(gone.statusCode() === 400, gone.body().take(200))
    } finally {
      server.stop()
      graft.log.GraftCatalog.unregister("share1.default.cleaned")
    }
  }

  test("v2 checkpointPolicy: an expired UUID checkpoint takes its sidecars") {
    import spark.implicits._
    val p = fresh("v2")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t",
      deltaFormat = true,
      configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        LogCleanup.RETENTION_KEY -> "interval 1 hours"))
    (1 to 20).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    val names = logFiles(p, DeltaLogCompat.LOG_DIR)
    // the v20 checkpoint is newest; v10's UUID checkpoint is gone
    assert(!names.exists(_.matches("0{18}10\\.checkpoint\\..*")), names.mkString(","))
    assert(names.exists(_.matches("0{18}20\\.checkpoint\\..*")))
    // exactly the LIVE checkpoint's sidecars remain (ignore the local
    // filesystem's dot-prefixed checksum shadows)
    val sidecars = logFiles(p, s"${DeltaLogCompat.LOG_DIR}/_sidecars")
      .filterNot(_.startsWith("."))
    val live = names.filter(_.matches("0{18}20\\.checkpoint\\..*"))
    assert(sidecars.nonEmpty)
    val refs = DeltaLogCompat.sidecarRefs(spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(s"$p/${DeltaLogCompat.LOG_DIR}", live.head))
    assert(sidecars.toSet === refs.toSet,
      s"sidecars=$sidecars live-refs=$refs")
    assert(spark.read.format("graft").option("path", p).load().count() === 21L)
  }

  test("v2 shared sidecars: cleanup never takes a sidecar a retained " +
    "checkpoint references") {
    import spark.implicits._
    val p = fresh("v2shared")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v"), p, name = "t",
      deltaFormat = true,
      configuration = Map(
        "delta.checkpointPolicy" -> "v2",
        LogCleanup.ENABLED_KEY -> "false",
        LogCleanup.RETENTION_KEY -> "interval 1 hours"))
    (1 to 20).foreach { i =>
      TableBuilder.append(spark, Seq((i + 1L, s"r$i")).toDF("id", "v"), p,
        timestamp = i * 1000L)
    }
    GraftLog.invalidateListing(p)
    val logDir = s"$p/${DeltaLogCompat.LOG_DIR}"
    val conf = spark.sessionState.newHadoopConf()
    val live = logFiles(p, DeltaLogCompat.LOG_DIR)
      .filter(_.matches("0{18}20\\.checkpoint\\..*"))
    assert(live.nonEmpty)
    val liveRefs = DeltaLogCompat.sidecarRefs(conf,
      new org.apache.hadoop.fs.Path(logDir, live.head))
    assert(liveRefs.nonEmpty)
    val shared = liveRefs.head
    // a (foreign-writer style) expired checkpoint that carried the live
    // checkpoint's sidecar forward, plus one of its own
    val own = "00-own-sidecar.parquet"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$logDir/_sidecars/$own"), Array[Byte](1, 2, 3))
    val fakeName = f"${5L}%020d.checkpoint." +
      java.util.UUID.randomUUID().toString + ".json"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$logDir/$fakeName"),
      (s"""{"sidecar":{"path":"$shared"}}""" + "\n" +
        s"""{"sidecar":{"path":"$own"}}""" + "\n").getBytes("UTF-8"))
    val deleted = LogCleanup.cleanUpWithRetention(
      p, conf, retentionMs = 3600L * 1000, nowMs = System.currentTimeMillis())
    assert(deleted > 0)
    val after = logFiles(p, DeltaLogCompat.LOG_DIR)
    assert(!after.contains(fakeName), "expired checkpoint must be collected")
    val sidecarsAfter = logFiles(p, s"${DeltaLogCompat.LOG_DIR}/_sidecars")
      .filterNot(_.startsWith("."))
    assert(!sidecarsAfter.contains(own), "unshared sidecar goes with its checkpoint")
    assert(sidecarsAfter.contains(shared),
      "a sidecar the live checkpoint references must survive")
    GraftLog.invalidateListing(p)
    assert(spark.read.format("graft").option("path", p).load().count() === 21L)
  }
}
