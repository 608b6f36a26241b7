package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** OPTIMIZE-style compaction: row-for-row equality, dataChange=false
  * commit shape, stream/CDF indifference, time travel to pre-compaction
  * versions, partitioned binning, and no-op convergence.
  */
class CompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_compact"
  val flat = s"$root/flat"
  val parted = s"$root/parted"

  private def conf = spark.sessionState.newHadoopConf()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    Seq(flat, parted).foreach(GraftLog.invalidateListing)
    import spark.implicits._
    // flat: CDF-enabled, 4 appends of 2 files each = 9 small files
    TableBuilder.create(spark,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(1),
      flat, name = "flat", configuration = Map("enableChangeDataFeed" -> "true"))
    (1 to 4).foreach { k =>
      TableBuilder.append(spark,
        (0 until 10).map(i => ((k * 100 + i).toLong, s"r$k$i")).toDF("id", "v")
          .repartition(2),
        flat, timestamp = k * 1000L)
    }
    // parted: two partitions, several files each
    TableBuilder.create(spark,
      (0 until 20).map(i => (i.toLong, if (i % 2 == 0) "a" else "b")).toDF("id", "p")
        .repartition(4),
      parted, partitionCols = Seq("p"), name = "parted")
    TableBuilder.append(spark,
      (20 until 30).map(i => (i.toLong, if (i % 2 == 0) "a" else "b")).toDF("id", "p")
        .repartition(2),
      parted, timestamp = 1000L)
  }
  override def afterAll(): Unit = spark.stop()

  test("compaction preserves rows exactly and reduces file count") {
    val log = new GraftLog(flat, conf)
    val beforeSnap = log.snapshot(None)
    val beforeRows = spark.read.format("graft").option("path", flat).load()
      .orderBy("id").collect()
    val v = TableBuilder.compact(spark, flat, timestamp = 9000L)
    val afterSnap = new GraftLog(flat, conf).snapshot(None)
    assert(afterSnap.version === v)
    assert(afterSnap.files.size < beforeSnap.files.size)
    val afterRows = spark.read.format("graft").option("path", flat).load()
      .orderBy("id").collect()
    assert(afterRows.toSeq === beforeRows.toSeq)
    // swap is entirely dataChange=false
    val actions = log.readVersion(v)
    assert(actions.nonEmpty)
    actions.foreach {
      case a: graft.model.AddFile    => assert(!a.dataChange)
      case r: graft.model.RemoveFile => assert(!r.dataChange)
      case other => fail(s"unexpected action in compaction commit: $other")
    }
  }

  test("streams skip the compaction commit; CDF reports no changes for it") {
    // stream from version 0: only data-change rows arrive — 50, never the
    // compacted duplicates
    val q = spark.readStream.format("graft").option("path", flat).load()
      .groupBy().count()
      .writeStream.format("memory").queryName("t_compact")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    assert(spark.table("t_compact").collect().head.getLong(0) === 50L)
    // CDF over the compaction version alone is empty
    val log = new GraftLog(flat, conf)
    val cv = log.latestVersion()
    assert(GraftCDF.tableChanges(spark, flat, cv, Some(cv)).count() === 0L)
  }

  test("time travel below the compaction still reads the original files") {
    val log = new GraftLog(flat, conf)
    val cv = log.latestVersion()
    val preSnap = log.snapshot(Some(cv - 1))
    assert(preSnap.files.size > log.snapshot(None).files.size)
    val preRows = spark.read.format("graft").option("path", flat)
      .option("versionAsOf", (cv - 1).toString).load().count()
    assert(preRows === 50L)
  }

  test("partitioned compaction bins within partitions and keeps values typed") {
    val before = new GraftLog(parted, conf).snapshot(None)
    val beforeByPart = before.files.groupBy(_.partitionValues.get("p"))
    assert(beforeByPart.forall(_._2.size >= 2), "fixture should be fragmented")
    val beforeRows = spark.read.format("graft").option("path", parted).load()
      .orderBy("id").collect()
    TableBuilder.compact(spark, parted, timestamp = 2000L)
    val after = new GraftLog(parted, conf).snapshot(None)
    // one file per partition now
    val byPart = after.files.groupBy(_.partitionValues.get("p"))
    assert(byPart.keySet === Set(Some("a"), Some("b")))
    assert(byPart.forall(_._2.size === 1))
    val afterRows = spark.read.format("graft").option("path", parted).load()
      .orderBy("id").collect()
    assert(afterRows.toSeq === beforeRows.toSeq)
    // partition pruning still works on the compacted table
    val onlyA = spark.read.format("graft").option("path", parted).load()
      .filter(col("p") === "a").count()
    assert(onlyA === beforeRows.count(_.getString(1) == "a"))
  }

  test("compaction is convergent: a second run is a no-op without a commit") {
    val log = new GraftLog(flat, conf)
    val v1 = log.latestVersion()
    val v2 = TableBuilder.compact(spark, flat, timestamp = 9500L)
    assert(v2 === v1, "fully compacted table must not commit again")
  }

  test("compact applies deletion vectors and drops the descriptors") {
    import spark.implicits._
    val dir = s"$root/dv_compact"
    GraftLog.invalidateListing(dir)
    TableBuilder.create(spark,
      (1 to 300).map(i => (i.toLong, s"r$i")).toDF("id", "v"), dir, numFiles = 3)
    TableBuilder.deleteWhereDV(spark, dir, col("id") % 3 === 0)
    val log = new GraftLog(dir, conf)
    assert(log.snapshot(None).files.exists(_.deletionVector.isDefined))

    val expected = (1L to 300L).filterNot(_ % 3 == 0).toArray
    val v = TableBuilder.compact(spark, dir, timestamp = 9000L)
    val snap = new GraftLog(dir, conf).snapshot(None)
    assert(snap.version === v)
    assert(snap.files.forall(_.deletionVector.isEmpty), "descriptors dropped")
    val rows = spark.read.format("graft").option("path", dir).load()
      .select("id").as[Long].collect().sorted
    assert(rows === expected, "DV-deleted rows stay deleted, survivors intact")
    // layout-only commit shape holds on the DV purge too
    log.readVersion(v).foreach {
      case a: graft.model.AddFile    => assert(!a.dataChange)
      case r: graft.model.RemoveFile => assert(!r.dataChange)
      case other => fail(s"unexpected action: $other")
    }
    // time travel below the purge still serves the DV view
    assert(spark.read.format("graft").option("path", dir)
      .option("versionAsOf", "1").load().count() === expected.length.toLong)

    // a SINGLE DV'd file (no sibling to bin with) is still purged
    val solo = s"$root/dv_solo"
    GraftLog.invalidateListing(solo)
    TableBuilder.create(spark,
      (1 to 50).map(i => (i.toLong, s"s$i")).toDF("id", "v"), solo, numFiles = 1)
    TableBuilder.deleteWhereDV(spark, solo, col("id") > 40)
    TableBuilder.compact(spark, solo, timestamp = 9100L)
    val soloSnap = new GraftLog(solo, conf).snapshot(None)
    assert(soloSnap.files.forall(_.deletionVector.isEmpty))
    assert(spark.read.format("graft").option("path", solo).load().count() === 40L)
  }

  test("zorder applies deletion vectors during the clustered rewrite") {
    import spark.implicits._
    val dir = s"$root/dv_zorder"
    GraftLog.invalidateListing(dir)
    TableBuilder.create(spark,
      (0 until 400).map(i => (i.toLong, (i % 17).toLong, (i % 23).toLong))
        .toDF("id", "x", "y"), dir, numFiles = 4)
    TableBuilder.deleteWhereDV(spark, dir, col("id") >= 350)
    TableBuilder.zorder(spark, dir, Seq("x", "y"), numFiles = 4, timestamp = 9000L)
    val snap = new GraftLog(dir, conf).snapshot(None)
    assert(snap.files.forall(_.deletionVector.isEmpty))
    val ids = spark.read.format("graft").option("path", dir).load()
      .select("id").as[Long].collect().sorted
    assert(ids === (0L until 350L).toArray)
  }

  test("compaction and zorder rewrite column-mapped tables physically") {
    import spark.implicits._
    // partitioned + column-mapped compact: physical dirs, logical reads
    val cmDir = s"$root/cm_compact"
    TableBuilder.createColumnMapped(spark,
      (0 until 40).map(i => (i.toLong, s"r$i", s"g${i % 2}")).toDF("id", "v", "grp"),
      cmDir, partitionCols = Seq("grp"), numFiles = 6)
    val before = new GraftLog(cmDir, conf).snapshot(None).files.size
    TableBuilder.compact(spark, cmDir, timestamp = 1000L)
    val snap = new GraftLog(cmDir, conf).snapshot(None)
    assert(snap.files.size < before)
    val rows = spark.read.format("graft").option("path", cmDir).load()
    assert(rows.columns.toSeq === Seq("id", "v", "grp"))
    assert(rows.select("id").as[Long].collect().sorted === (0L until 40L).toArray)
    assert(rows.filter(col("grp") === "g1").count() === 20)

    // unpartitioned column-mapped zorder with a DV: clustering on logical
    // names, deleted rows dropped, stats usable for pruning
    val czDir = s"$root/cm_zorder"
    TableBuilder.createColumnMapped(spark,
      (0 until 100).map(i => (i.toLong, (i % 10).toLong)).toDF("x", "y"),
      czDir, numFiles = 4)
    TableBuilder.deleteWhereDV(spark, czDir, col("x") >= 90L, timestamp = 500L)
    TableBuilder.zorder(spark, czDir, Seq("x", "y"), numFiles = 4, timestamp = 1000L)
    val zsnap = new GraftLog(czDir, conf).snapshot(None)
    assert(zsnap.files.forall(_.deletionVector.isEmpty))
    val zrows = spark.read.format("graft").option("path", czDir).load()
    assert(zrows.select("x").as[Long].collect().sorted === (0L until 90L).toArray)
  }

  test("vacuum respects retention: recent tombstones protect their files") {
    // compaction tombstones carry ts=9000; cutoff 10000-5000=5000 < 9000
    val deleted = TableBuilder.vacuum(spark, flat, retentionMs = 5000L, nowMs = 10000L)
    assert(deleted === 0)
    // time travel below the compaction still works
    val cv = new GraftLog(flat, conf).latestVersion()
    assert(spark.read.format("graft").option("path", flat)
      .option("versionAsOf", (cv - 1).toString).load().count() === 50L)
  }

  test("vacuum past retention deletes exactly the unreferenced files") {
    val log = new GraftLog(flat, conf)
    val activeBefore = log.snapshot(None).files.map(_.path).toSet
    val onDisk = new java.io.File(flat).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    assert(onDisk.size > activeBefore.size, "pre-vacuum disk must hold orphans")

    // nowMs must be real wall-clock: the untracked-file retention rule
    // keeps files whose mtime is at/after the horizon (an in-flight
    // writer's data), so the horizon must lie above the fixtures' real
    // modification times for the orphans to be deletable
    val deleted = TableBuilder.vacuum(spark, flat, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 60000L)
    assert(deleted === onDisk.size - activeBefore.size)

    // the current snapshot is untouched...
    assert(spark.read.format("graft").option("path", flat).load().count() === 50L)
    // ...but history below the horizon is no longer servable: both time
    // travel and CDF ranges over vacuumed adds fail at scan time (the
    // Delta vacuum trade — the log describes them, the bytes are gone)
    val cv = log.latestVersion()
    val pre = spark.read.format("graft").option("path", flat)
      .option("versionAsOf", (cv - 1).toString).load()
    intercept[Exception](pre.count())
    intercept[Exception](GraftCDF.tableChanges(spark, flat, 0).count())
  }

  test("vacuum keeps untracked files newer than the retention horizon") {
    // an orphan parquet with a fresh mtime models an in-flight writer's
    // not-yet-committed data file: vacuum must keep it regardless of the
    // log (Delta's untracked-file retention rule), else the writer's
    // commit would reference deleted data
    val orphan = new java.io.File(flat, "inflight-orphan.parquet")
    java.nio.file.Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    val now = System.currentTimeMillis()
    val kept = TableBuilder.vacuum(spark, flat, retentionMs = 3600_000L, nowMs = now)
    assert(kept === 0 && orphan.exists(), "fresh untracked file must survive vacuum")
    // once the horizon passes its mtime, it is garbage like any orphan
    val deleted = TableBuilder.vacuum(spark, flat, retentionMs = 0L, nowMs = now + 60000L)
    assert(deleted === 1 && !orphan.exists())
  }
}
