package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Log checkpoints: automatic cadence, snapshot equality with full replay,
  * time travel across and below checkpoints, CDF/changes indifference, and
  * corrupt-checkpoint fallback (accelerator, never a source of truth).
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_checkpoint"
  val base = s"$root/appends"

  private def conf = spark.sessionState.newHadoopConf()
  private def logDir = new java.io.File(base, GraftLog.LOG_DIR)

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    GraftLog.invalidateListing(base)
    import spark.implicits._
    // 26 versions: create + 25 appends, CDF on so changes() is exercised
    TableBuilder.create(spark, Seq((0L, "v0")).toDF("id", "tag"), base,
      name = "appends", configuration = Map("enableChangeDataFeed" -> "true"))
    (1 to 25).foreach { v =>
      TableBuilder.append(spark,
        Seq((v.toLong, s"v$v")).toDF("id", "tag"), base, timestamp = v * 1000L)
    }
  }
  override def afterAll(): Unit = spark.stop()

  test("auto-checkpoints appear every CHECKPOINT_INTERVAL commits") {
    val cps = logDir.list().filter(_.endsWith(".checkpoint.json")).sorted
    assert(cps.toSeq === Seq(
      GraftLog.checkpointFileName(10), GraftLog.checkpointFileName(20)))
    assert(new java.io.File(logDir, GraftLog.LAST_CHECKPOINT).exists())
  }

  test("snapshot from checkpoint equals full replay") {
    val log = new GraftLog(base, conf)
    val viaCp = log.snapshot(None)
    assert(viaCp.version === 25)
    // force full replay by hiding checkpoints + marker
    val hidden = logDir.listFiles()
      .filter(f => f.getName.contains("checkpoint"))
      .map { f =>
        val to = new java.io.File(f.getParentFile, s"hidden_${f.getName}")
        assert(f.renameTo(to)); (to, f)
      }
    GraftLog.invalidateListing(base)
    try {
      val full = new GraftLog(base, conf).snapshot(None)
      assert(full.files.map(_.path).sorted === viaCp.files.map(_.path).sorted)
      assert(full.metadata.schemaString === viaCp.metadata.schemaString)
      assert(new GraftLog(base, conf).versionTimestamps() ===
        log.versionTimestamps())
    } finally {
      hidden.foreach { case (hid, orig) => assert(hid.renameTo(orig)) }
      GraftLog.invalidateListing(base)
    }
  }

  test("time travel below and between checkpoints stays exact") {
    val log = new GraftLog(base, conf)
    // below the first checkpoint (full replay of a short prefix)
    assert(log.snapshot(Some(5)).files.size === 6)
    // between checkpoints: starts from cp@10, replays 11..15
    assert(log.snapshot(Some(15)).files.size === 16)
    // exactly at a checkpoint: no commit replay at all
    assert(log.snapshot(Some(20)).files.size === 21)
    // timestamp travel across the checkpointed prefix
    assert(log.versionAtOrBefore(15500L) === 15L)
    assert(log.versionAtOrAfter(15500L) === 16L)
  }

  test("changes() and CDF ignore checkpoints (commit files are the truth)") {
    val log = new GraftLog(base, conf)
    val ch = log.changes(8, 12)
    assert(ch.map(_.version) === (8L to 12L))
    val cdf = GraftCDF.tableChanges(spark, base, 8, Some(12))
    assert(cdf.count() === 5) // one inserted row per version
  }

  test("a corrupt checkpoint degrades to full replay, never a wrong answer") {
    val cp20 = new java.io.File(logDir, GraftLog.checkpointFileName(20))
    val orig = java.nio.file.Files.readAllBytes(cp20.toPath)
    java.nio.file.Files.writeString(cp20.toPath, "{ not json")
    GraftLog.invalidateListing(base)
    try {
      val snap = new GraftLog(base, conf).snapshot(None)
      // falls back through cp@10 (marker load fails for 20, lister finds 10)
      assert(snap.files.size === 26)
    } finally {
      java.nio.file.Files.write(cp20.toPath, orig)
      GraftLog.invalidateListing(base)
    }
  }

  test("checkpointed table reads identically through the datasource") {
    val df = spark.read.format("graft").option("path", base).load()
    assert(df.count() === 26)
    assert(df.agg(max("id")).collect().head.getLong(0) === 25L)
  }

  test("racing same-version commits: exactly one wins") {
    import spark.implicits._
    val t = s"$root/race"
    TableBuilder.create(spark, Seq((1L, "x")).toDF("id", "v"), t, name = "race")
    val v = new GraftLog(t, conf).latestVersion() + 1
    val meta = new GraftLog(t, conf).snapshot(None).metadata
    val latch = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger
    val threads = (1 to 8).map(_ => new Thread(() => {
      latch.await()
      try { GraftLog.commit(t, v, Seq(meta), conf); wins.incrementAndGet(); () }
      catch { case _: Exception => () }
    }))
    threads.foreach(_.start()); latch.countDown(); threads.foreach(_.join())
    assert(wins.get === 1, s"exactly one committer of version $v may win, got ${wins.get}")
    assert(new GraftLog(t, conf).latestVersion() === v)
  }

  test("append refuses an incompatible schema up front") {
    import spark.implicits._
    val t = s"$root/drift"
    TableBuilder.create(spark, Seq((1L, "x")).toDF("id", "v"), t, name = "drift")
    // renamed column
    val e1 = intercept[IllegalStateException](
      TableBuilder.append(spark, Seq((2L, "y")).toDF("id", "renamed"), t))
    assert(e1.getMessage.contains("append to"))
    // type change
    val e2 = intercept[IllegalStateException](
      TableBuilder.append(spark, Seq((2L, 3.5)).toDF("id", "v"), t))
    assert(e2.getMessage.contains("append to"))
    // compatible append still lands
    TableBuilder.append(spark, Seq((2L, "y")).toDF("id", "v"), t)
    assert(spark.read.format("graft").option("path", t).load().count() === 2L)
  }

  test("log cleanup below the newest checkpoint keeps current reads exact") {
    // base has 26 versions with checkpoints at 10 and 20; graft-format
    // cleanup deletes old COMMITS only — graft checkpoints CHAIN their
    // timestamp prefixes (each loads `prevCheckpoint` for the earlier
    // history), so superseded checkpoints must survive
    val before = spark.read.format("graft").option("path", base).load().count()
    val deleted = TableBuilder.cleanupLogs(spark, base, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 3600000L)
    assert(deleted === 20, s"expected commits 0..19 gone, deleted $deleted")
    assert(new java.io.File(s"$base/_graft_log/${GraftLog.checkpointFileName(10L)}")
      .exists(), "chained graft checkpoints must survive cleanup")
    assert(new java.io.File(s"$base/_graft_log/${GraftLog.checkpointFileName(20L)}")
      .exists())
    assert(spark.read.format("graft").option("path", base).load().count() === before)
    val log = new GraftLog(base, conf)
    assert(log.listVersions().head === 20L)
    // timestamps survive via the chained checkpoint prefixes
    assert(log.versionTimestamps().map(_._1) === (0L to 25L))
    // history below the horizon fails loudly
    intercept[Exception](GraftCDF.tableChanges(spark, base, 5, Some(8)).count())
  }
}
