package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._
import graft.model._

/** NATIVE Delta-format writes: TableBuilder.create(deltaFormat = true)
  * plus every subsequent builder operation commit genuine Delta Lake
  * transactions — commitInfo lines, Delta action JSON, feature-gated
  * protocol upgrades, parquet checkpoints every 10 commits written
  * Spark-free with the parquet Group API, mtime-based history. A real
  * Delta reader consumes what graft writes; graft reads it all back
  * through the same DeltaLogCompat replay path the interop fixtures use.
  */
class DeltaWriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_delta_write"
  private def conf = spark.sessionState.newHadoopConf()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
  override def afterAll(): Unit = spark.stop()

  private def commitLines(path: String, v: Long): Seq[String] =
    java.nio.file.Files.readAllLines(
      new java.io.File(path, f"_delta_log/$v%020d.json").toPath).asScala.toSeq

  test("create + 12 appends: delta commits, auto-checkpoint at 10, replay") {
    import spark.implicits._
    val path = s"$root/native"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2),
      path, name = "native_delta",
      configuration = Map("enableChangeDataFeed" -> "true"),
      deltaFormat = true)
    assert(!new java.io.File(path, "_graft_log").exists())
    assert(new java.io.File(path, "_delta_log").isDirectory)
    val log0 = new GraftLog(path, conf)
    assert(log0.deltaMode)

    (1 to 12).foreach { k =>
      TableBuilder.append(spark,
        Seq(((1000 + k).toLong, s"a$k")).toDF("id", "v"), path, timestamp = k * 100L)
    }
    // the every-10-commits checkpoint was written by the Group-API writer
    val names = new java.io.File(path, "_delta_log").listFiles().map(_.getName).toSet
    assert(names.contains(f"${10}%020d.checkpoint.parquet"))
    assert(names.contains("_last_checkpoint"))
    val log = new GraftLog(path, conf)
    val cp = log.checkpointAtOrBefore(Long.MaxValue)
    assert(cp.map(_.version) === Some(10L))
    assert(cp.get.files.nonEmpty && cp.get.metadata.schemaString.nonEmpty)
    // v0 golden shape: commitInfo, protocol (1,4), metaData with the real
    // Delta CDF property, adds with stats
    val v0 = commitLines(path, 0)
    assert(v0.head.contains("\"commitInfo\""))
    assert(v0.exists(l => l.contains("\"protocol\"") &&
      l.contains("\"minReaderVersion\":1") && l.contains("\"minWriterVersion\":4")))
    assert(v0.exists(l => l.contains("\"metaData\"") &&
      l.contains("\"delta.enableChangeDataFeed\":\"true\"")))
    assert(v0.exists(l => l.contains("\"add\"") && l.contains("\"stats\"")))
    // full replay (checkpoint + tail)
    assert(spark.read.format("graft").option("path", path).load().count() === 22L)
    // history is monotonic and versions contiguous
    val tss = log.versionTimestamps()
    assert(tss.map(_._1) === (0L to 12L))
    assert(tss.map(_._2) === tss.map(_._2).sorted)
  }

  test("ICT tables: commits carry inCommitTimestamp, history ignores mtimes") {
    import spark.implicits._
    val path = s"$root/ict_native"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 5).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      path, name = "ict_delta",
      configuration = Map(
        "enableInCommitTimestamps" -> "true",
        "enableChangeDataFeed" -> "true"),
      deltaFormat = true)
    (1 to 2).foreach { k =>
      TableBuilder.append(spark,
        Seq(((100 + k).toLong, s"a$k")).toDF("id", "v"), path,
        timestamp = k * 1000L)
    }
    // v0 golden shape: ICT in commitInfo; feature-gated protocol that
    // lists inCommitTimestamp AND changeDataFeed (legacy implications
    // stop applying at minWriterVersion 7), reader version still 1
    val v0 = commitLines(path, 0)
    assert(v0.head.contains("\"commitInfo\"") &&
      v0.head.contains("\"inCommitTimestamp\""))
    val proto = v0.find(_.contains("\"protocol\"")).get
    assert(proto.contains("\"minReaderVersion\":1") &&
      proto.contains("\"minWriterVersion\":7") &&
      proto.contains("\"inCommitTimestamp\"") &&
      proto.contains("\"changeDataFeed\""))
    assert(!proto.contains("\"readerFeatures\""))
    assert(commitLines(path, 2).head.contains("\"inCommitTimestamp\""))

    // sabotage every mtime: ICT must carry history on its own (a copied
    // or rewritten log keeps ICT values, not mtimes)
    GraftLog.invalidateListing(path)
    val logDir = new java.io.File(path, "_delta_log")
    logDir.listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => f.setLastModified(999999999000L))
    val log = new GraftLog(path, conf)
    val tss = log.versionTimestamps()
    assert(tss.map(_._1) === (0L to 2L))
    assert(tss(1)._2 === 1000L && tss(2)._2 === 2000L,
      s"history must come from inCommitTimestamp, got $tss")
    assert(log.versionAtOrBefore(1500L) === 1L)
    // replay + CDF still green through the ICT protocol gate
    assert(spark.read.format("graft").option("path", path).load().count() === 7L)
    val cdf = GraftCDF.tableChanges(spark, path, 1, Some(2))
    assert(cdf.count() === 2L)
  }

  test("row-level delete/update on a native delta table capture CDF") {
    import spark.implicits._
    val path = s"$root/native"
    TableBuilder.deleteWhere(spark, path, col("id") === 1001, timestamp = 5000L)
    TableBuilder.updateWhere(spark, path, col("id") === 1002,
      Seq("v" -> lit("upd")), timestamp = 6000L)
    val latest = new GraftLog(path, conf).latestVersion()
    // cdc actions serialized as delta cdc lines
    assert(commitLines(path, latest).exists(_.contains("\"cdc\"")))
    val cdf = GraftCDF.tableChanges(spark, path, latest - 1)
      .groupBy(col("_change_type")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(cdf === Map("delete" -> 1L, "update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("DV delete on a native delta table injects the protocol upgrade") {
    import spark.implicits._
    val path = s"$root/native_dv"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 30).map(i => (i.toLong, s"n$i")).toDF("k", "name").repartition(2),
      path, name = "native_dv", deltaFormat = true)
    val v = TableBuilder.deleteWhereDV(spark, path, col("k") % 5 === 0, timestamp = 1000L)
    val lines = commitLines(path, v)
    assert(lines.exists(l => l.contains("\"protocol\"") &&
      l.contains("\"minReaderVersion\":3") && l.contains("deletionVectors")),
      "DV introduction must upgrade the protocol in the same commit")
    assert(lines.exists(_.contains("\"deletionVector\"")))
    val log = new GraftLog(path, conf)
    assert(log.snapshot(None).protocol.minReaderVersion === 3)
    assert(spark.read.format("graft").option("path", path).load()
      .select("k").as[Long].collect().toSet ===
      (0 until 30).map(_.toLong).filter(_ % 5 != 0).toSet)
  }

  test("compact and vacuum work on native delta tables") {
    import spark.implicits._
    val path = s"$root/native_compact"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 40).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(6),
      path, name = "native_compact", deltaFormat = true)
    val cv = TableBuilder.compact(spark, path, timestamp = 1000L)
    val lines = commitLines(path, cv)
    assert(lines.exists(l => l.contains("\"add\"") && l.contains("\"dataChange\":false")))
    assert(lines.exists(l => l.contains("\"remove\"") && l.contains("\"dataChange\":false")))
    assert(spark.read.format("graft").option("path", path).load().count() === 40L)

    val deleted = TableBuilder.vacuum(spark, path, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 60000L)
    assert(deleted > 0, "compaction leaves unreferenced originals to vacuum")
    assert(spark.read.format("graft").option("path", path).load().count() === 40L)
  }

  test("DataFrame write surface: save modes, append versions, delta format") {
    import spark.implicits._
    val path = s"$root/write_api"
    val df = (0 until 10).map(i => (i.toLong, s"w$i")).toDF("id", "v")
    df.write.format("graft").option("path", path)
      .option("deltaFormat", "true").option("name", "write_api").save()
    assert(new GraftLog(path, conf).deltaMode)
    def count() = spark.read.format("graft").option("path", path).load().count()
    assert(count() === 10L)
    // default ErrorIfExists refuses; Ignore is a no-op
    intercept[IllegalStateException] {
      df.write.format("graft").option("path", path).save()
    }
    df.write.format("graft").mode("ignore").option("path", path).save()
    assert(count() === 10L)
    // append commits a new (Delta-format) version
    Seq((100L, "x")).toDF("id", "v").write.format("graft").mode("append")
      .option("path", path).option("timestamp", "1000").save()
    assert(count() === 11L)
    assert(new GraftLog(path, conf).latestVersion() === 1L)
    assert(commitLines(path, 1L).head.contains("\"commitInfo\""))
    // overwrite recreates at version 0
    Seq((1L, "y")).toDF("id", "v").write.format("graft").mode("overwrite")
      .option("path", path).option("deltaFormat", "true").save()
    assert(count() === 1L && new GraftLog(path, conf).latestVersion() === 0L)
    // schema drift on append fails loudly (builder contract)
    intercept[Exception] {
      Seq((1, 2.0)).toDF("id", "other").write.format("graft").mode("append")
        .option("path", path).save()
    }
  }

  test("log cleanup removes pre-checkpoint commits; current reads unaffected") {
    import spark.implicits._
    val path = s"$root/native" // 15 commits, checkpoint at 10
    val before = spark.read.format("graft").option("path", path).load().count()
    val deleted = TableBuilder.cleanupLogs(spark, path, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 3600_000L)
    assert(deleted >= 10, s"expected the 10 pre-checkpoint commits gone, got $deleted")
    // snapshot-at-latest replays checkpoint + surviving tail unchanged
    assert(spark.read.format("graft").option("path", path).load().count() === before)
    val log = new GraftLog(path, conf)
    assert(log.listVersions().head === 10L)
    // history below the horizon fails loudly, never answers wrong
    intercept[Exception] {
      spark.read.format("graft").option("path", path)
        .option("versionAsOf", "3").load().count()
    }
  }

  test("native delta tables serve over REST and the kernel scan") {
    import spark.implicits._
    val path = s"$root/native"
    // kernel columnar scan
    val viaKernel = spark.read.format("graft-kernel").option("path", path).load().count()
    val viaLog = spark.read.format("graft").option("path", path).load().count()
    assert(viaKernel === viaLog)
  }

  test("delta.checkpointPolicy=v2 writes V2 checkpoints with sidecars") {
    import spark.implicits._
    val path = s"$root/v2policy"
    TableBuilder.create(spark,
      Seq((1L, "a")).toDF("k", "v").repartition(1), path,
      configuration = Map("delta.checkpointPolicy" -> "v2"),
      deltaFormat = true)
    // the create commit gates readers on the v2Checkpoint feature
    val v0 = commitLines(path, 0L).mkString("\n")
    assert(v0.contains("\"v2Checkpoint\""))
    assert(v0.contains("\"minReaderVersion\":3"))
    (1 to 10).foreach { i =>
      TableBuilder.append(spark, Seq((i * 10L, s"x$i")).toDF("k", "v"), path,
        timestamp = i * 1000L)
    }
    // auto-checkpoint at version 10 used the V2 layout
    val logDir = new java.io.File(path, "_delta_log")
    val names = logDir.listFiles().map(_.getName).toSeq
    assert(names.exists(n =>
      n.startsWith("00000000000000000010.checkpoint.") && n.endsWith(".parquet") &&
        n.length > "00000000000000000010.checkpoint.parquet".length),
      s"no UUID-named v2 checkpoint in $names")
    assert(new java.io.File(logDir, "_sidecars").isDirectory)
    assert(!names.contains("00000000000000000010.checkpoint.parquet"),
      "classic layout must not be written under v2 policy")
    // a fresh reader resolves the snapshot THROUGH the v2 checkpoint
    GraftLog.invalidateListing(path)
    val log = new GraftLog(path, conf)
    assert(log.checkpointAtOrBefore(10L).isDefined)
    assert(spark.read.format("graft").option("path", path).load().count() === 11)
  }

  test("delta-spark interop golden read: the REAL Delta reader consumes a " +
    "graft-written table (runs only when a delta-spark jar is present)") {
    import spark.implicits._
    // Graceful skip: this sandbox resolves no external artifacts
    // (offline coursier, zero egress), so the official reader is absent;
    // drop a delta-spark + delta-storage jar on the test classpath (e.g.
    // into /opt/spark/jars) and this test activates with no code change.
    val hasDelta =
      try { Class.forName("org.apache.spark.sql.delta.DeltaLog"); true }
      catch { case _: Throwable => false }
    assume(hasDelta, "delta-spark not on the classpath — interop read skipped")
    val path = s"$root/interop"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2),
      path, name = "interop",
      configuration = Map("enableChangeDataFeed" -> "true",
        "delta.enableDeletionVectors" -> "true"),
      deltaFormat = true)
    TableBuilder.deleteWhereDV(spark, path, col("id") < 5, timestamp = 1000L)
    TableBuilder.append(spark,
      Seq((100L, "x")).toDF("id", "v"), path, timestamp = 2000L)
    val viaGraft = spark.read.format("graft").option("path", path).load()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val viaDelta = spark.read.format("delta").load(path)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(viaDelta === viaGraft)
    assert(viaDelta.map(_._1) === ((5L until 20L) :+ 100L))
  }
}
