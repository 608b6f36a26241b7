package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Exactly-once streaming sink: txn watermark skip on replay, end-to-end
  * writeStream → graft table, restart resume, Delta-format txn lines, and
  * watermark survival across checkpoint consolidation.
  */
class SinkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_sink"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  override def afterAll(): Unit = spark.stop()

  private def readTable(path: String) =
    spark.read.format("graft").option("path", path).load()

  test("replayed batch ids are skipped: no duplicate rows, watermark advances") {
    import spark.implicits._
    val path = s"$root/replay"
    val sink = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> path, "txnAppId" -> "app1"),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    sink.addBatch(0L, batch)
    sink.addBatch(0L, batch) // replay of the same epoch: must be a no-op
    assert(readTable(path).count() === 2L)
    sink.addBatch(1L, Seq((3L, "c")).toDF("id", "v"))
    assert(readTable(path).count() === 3L)
    // replays of any batch <= watermark are ignored, even out of order
    sink.addBatch(0L, batch)
    sink.addBatch(1L, batch)
    assert(readTable(path).count() === 3L)
    val conf = spark.sessionState.newHadoopConf()
    assert(new GraftLog(path, conf).snapshot(None).transactions === Map("app1" -> 1L))
  }

  test("two appIds keep independent watermarks") {
    import spark.implicits._
    val path = s"$root/two_apps"
    def sinkFor(app: String) = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> path, "txnAppId" -> app),
      org.apache.spark.sql.streaming.OutputMode.Append())
    val df = Seq((1L, "x")).toDF("id", "v")
    sinkFor("a").addBatch(0L, df)
    sinkFor("b").addBatch(0L, df) // different app: NOT a replay
    sinkFor("a").addBatch(0L, df) // replay for a
    assert(readTable(path).count() === 2L)
  }

  test("end-to-end writeStream with restart resumes exactly-once") {
    import spark.implicits._
    val srcPath = s"$root/src_table"
    val dstPath = s"$root/dst_table"
    val ckpt = s"$root/ckpt"
    TableBuilder.create(spark,
      spark.range(0, 100).select(col("id"), (col("id") % 10).as("k")),
      srcPath, name = "src")

    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").option("path", srcPath)
        .option("maxFilesPerTrigger", "2").load()
        .writeStream.format("graft")
        .option("path", dstPath).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(300000); q.stop()
    }
    runOnce()
    assert(readTable(dstPath).count() === 100L)
    // append to the source, restart the same checkpoint: only new rows land
    TableBuilder.append(spark,
      spark.range(100, 120).select(col("id"), (col("id") % 10).as("k")), srcPath)
    GraftLog.invalidateListing(srcPath)
    runOnce()
    assert(readTable(dstPath).count() === 120L)
    assert(readTable(dstPath).agg(sum(col("id"))).collect().head.getLong(0)
      === (0L until 120L).sum)
    // watermark carries the queryId app with the last batch id
    val conf = spark.sessionState.newHadoopConf()
    val txns = new GraftLog(dstPath, conf).snapshot(None).transactions
    assert(txns.size === 1 && txns.values.head >= 0L)
  }

  test("delta-format sink writes real Delta txn lines") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val path = s"$root/delta_sink"
    val sink = new graft.streaming.GraftSink(spark.sqlContext,
      Map("path" -> path, "txnAppId" -> "dapp", "deltaFormat" -> "true"),
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    sink.addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    assert(readTable(path).count() === 1L)
    val commit = new java.io.File(s"$path/_delta_log/${"%020d".format(1)}.json")
    val lines = java.nio.file.Files.readAllLines(commit.toPath).asScala
    assert(lines.exists(l => l.contains("\"txn\"") && l.contains("\"dapp\"")
      && l.contains("\"version\":0")), lines.mkString("\n"))
  }

  test("idempotent batch append via txnAppId/txnVersion options") {
    import spark.implicits._
    val path = s"$root/idem_batch"
    Seq((1L, "a")).toDF("id", "v").write.format("graft")
      .option("path", path).save()
    def append(v: Long): Unit =
      Seq((v + 10, "x")).toDF("id", "v").write.format("graft").mode("append")
        .option("path", path)
        .option("txnAppId", "job1").option("txnVersion", v.toString).save()
    append(1L); append(1L) // retry of the same job version: no-op
    assert(readTable(path).count() === 2L)
    append(2L)
    assert(readTable(path).count() === 3L)
  }

  test("watermark survives checkpoint consolidation (graft and delta logs)") {
    import spark.implicits._
    for ((fmt, delta) <- Seq(("graft", false), ("delta", true))) {
      val path = s"$root/ckpt_surv_$fmt"
      val sink = new graft.streaming.GraftSink(spark.sqlContext,
        Map("path" -> path, "txnAppId" -> "capp", "deltaFormat" -> delta.toString),
        org.apache.spark.sql.streaming.OutputMode.Append())
      // 12 batches: create + 12 appends crosses CHECKPOINT_INTERVAL=10
      (0L until 12L).foreach(b => sink.addBatch(b, Seq((b, "x")).toDF("id", "v")))
      val conf = spark.sessionState.newHadoopConf()
      val log = new GraftLog(path, conf)
      val cp = log.checkpointAtOrBefore(Long.MaxValue)
      assert(cp.isDefined, s"$fmt: expected a checkpoint after 13 commits")
      assert(cp.get.txns === Map("capp" -> (cp.get.version - 1)),
        s"$fmt: checkpoint must carry the txn watermark")
      // a replayed batch below the watermark is still skipped when the
      // snapshot replays FROM the checkpoint
      sink.addBatch(5L, Seq((99L, "dup")).toDF("id", "v"))
      assert(readTable(path).count() === 12L, s"$fmt: replay after checkpoint")
    }
  }
}
