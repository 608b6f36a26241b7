package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Delta minor log compaction (`{s}.{e}.compacted.json`): the snapshot
  * replay substitutes a fully-covered range for its individual commits,
  * falls back on partial coverage or corruption, and the fixture writer
  * refuses protocol-bearing ranges.
  */
class CompactedLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_compacted_log"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
  override def afterAll(): Unit = spark.stop()

  private def conf = spark.sessionState.newHadoopConf()

  private def mkTable(p: String): Unit = {
    import spark.implicits._
    GraftLog.invalidateListing(p)
    TableBuilder.create(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(1), p,
      deltaFormat = true)
    (1 to 4).foreach { i =>
      TableBuilder.append(spark,
        Seq((10L * i, s"x$i"), (10L * i + 1, s"y$i")).toDF("k", "v"), p,
        timestamp = i * 1000L)
    }
    TableBuilder.deleteWhere(spark, p, col("k") === 10L, timestamp = 9000L)
  }

  private def rows(p: String): Set[(Long, String)] = {
    GraftLog.invalidateListing(p)
    spark.read.format("graft").option("path", p).load()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
  }

  test("snapshot substitutes a covered compacted range and matches commit replay") {
    val p = s"$root/t1"
    mkTable(p)
    val expect = rows(p)
    val f = DeltaLogCompat.writeCompacted(conf, p, 1L, 4L)
    assert(f.getName === "00000000000000000001.00000000000000000004.compacted.json")
    GraftLog.invalidateListing(p)
    val before = GraftLog.compactedReads.get()
    assert(rows(p) === expect)
    assert(GraftLog.compactedReads.get() > before,
      "snapshot did not read the compacted range")
    // snapshot state is identical action-wise too (files, meta, txns)
    val viaCompacted = new GraftLog(p, conf).snapshot(None)
    assert(viaCompacted.files.map(f => (f.path, f.size)).toSet.nonEmpty)
  }

  test("time travel below the range end falls back to commit files") {
    val p = s"$root/t2"
    mkTable(p)
    val log0 = new GraftLog(p, conf)
    val expectV2 = log0.snapshot(Some(2L)).files.map(_.path).toSet
    DeltaLogCompat.writeCompacted(conf, p, 1L, 4L)
    GraftLog.invalidateListing(p)
    val before = GraftLog.compactedReads.get()
    val got = new GraftLog(p, conf).snapshot(Some(2L)).files.map(_.path).toSet
    assert(got === expectV2)
    assert(GraftLog.compactedReads.get() === before,
      "a range ending past the travel target must not substitute")
  }

  test("corrupt compacted file degrades to commit replay, never a wrong answer") {
    val p = s"$root/t3"
    mkTable(p)
    val expect = rows(p)
    val f = DeltaLogCompat.writeCompacted(conf, p, 1L, 4L)
    val fs = f.getFileSystem(conf)
    val out = fs.create(f, true)
    try out.write("{not json at all".getBytes("UTF-8")) finally out.close()
    GraftLog.invalidateListing(p)
    assert(rows(p) === expect)
  }

  test("protocol-bearing ranges are refused by the writer") {
    val p = s"$root/t4"
    mkTable(p)
    // version 0 carries the protocol action
    intercept[IllegalArgumentException] {
      DeltaLogCompat.writeCompacted(conf, p, 0L, 2L)
    }
  }

  test("compaction also accelerates domain/txn state (row-tracked table)") {
    import spark.implicits._
    val p = s"$root/t5"
    GraftLog.invalidateListing(p)
    TableBuilder.create(spark,
      Seq((1L, "a")).toDF("k", "v").repartition(1), p,
      configuration = RowTracking.tableProperties(p), deltaFormat = true)
    (1 to 3).foreach { i =>
      TableBuilder.append(spark, Seq((i * 10L, s"x$i")).toDF("k", "v"), p,
        timestamp = i * 1000L)
    }
    val expectHwm = RowTracking.highWaterMark(
      new GraftLog(p, conf).snapshot(None).domains)
    val expectIds = RowTracking.withRowIds(spark, p)
      .select("k", "_row_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    DeltaLogCompat.writeCompacted(conf, p, 1L, 3L)
    GraftLog.invalidateListing(p)
    val before = GraftLog.compactedReads.get()
    assert(RowTracking.highWaterMark(
      new GraftLog(p, conf).snapshot(None).domains) === expectHwm)
    assert(RowTracking.withRowIds(spark, p)
      .select("k", "_row_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      expectIds)
    assert(GraftLog.compactedReads.get() > before)
  }
}
