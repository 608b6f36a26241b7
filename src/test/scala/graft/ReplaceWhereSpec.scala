package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Delta `replaceWhere` overwrite: region-scoped atomic replacement on
  * unpartitioned and hive-partitioned tables, out-of-region new rows
  * refused, CDF capture, single-version atomicity, and the DataFrame
  * write-surface option.
  */
class ReplaceWhereSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_replace_where"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
  override def afterAll(): Unit = spark.stop()

  private def conf = spark.sessionState.newHadoopConf()
  private def rows(p: String): Set[(Long, String, String)] = {
    GraftLog.invalidateListing(p)
    spark.read.format("graft").option("path", p).load()
      .select("k", "part", "v")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
  }

  private def mk(p: String, partitioned: Boolean): Unit = {
    import spark.implicits._
    GraftLog.invalidateListing(p)
    val df = Seq(
      (1L, "a", "r1"), (2L, "a", "r2"), (3L, "b", "r3"), (4L, "b", "r4"))
      .toDF("k", "part", "v")
    TableBuilder.create(spark, df.repartition(2), p,
      partitionCols = if (partitioned) Seq("part") else Nil,
      configuration = Map("enableChangeDataFeed" -> "true"))
  }

  test("unpartitioned replaceWhere rewrites only the matched region, atomically") {
    import spark.implicits._
    val p = s"$root/plain"
    mk(p, partitioned = false)
    val v0 = new GraftLog(p, conf).latestVersion()
    val v = TableBuilder.replaceWhere(spark, Seq(
      (10L, "a", "n1"), (11L, "a", "n2")).toDF("k", "part", "v"),
      p, col("part") === "a", timestamp = 1000L)
    assert(v === v0 + 1, "one commit")
    assert(rows(p) === Set(
      (3L, "b", "r3"), (4L, "b", "r4"), (10L, "a", "n1"), (11L, "a", "n2")))
    // CDF: 2 deletes + 2 inserts at that version
    val cdf = spark.read.format("graft").option("path", p)
      .option("readChangeFeed", "true")
      .option("startingVersion", v).option("endingVersion", v).load()
    val byType = cdf.groupBy("_change_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("delete" -> 2L, "insert" -> 2L))
  }

  test("partition-predicate replaceWhere on a partitioned table drops whole files") {
    import spark.implicits._
    val p = s"$root/parts"
    mk(p, partitioned = true)
    TableBuilder.replaceWhere(spark, Seq(
      (20L, "b", "nb")).toDF("k", "part", "v"),
      p, col("part") === "b", timestamp = 1000L)
    assert(rows(p) === Set(
      (1L, "a", "r1"), (2L, "a", "r2"), (20L, "b", "nb")))
    // the a-partition files were untouched (no rewrite outside the region)
    val snap = new GraftLog(p, conf).snapshot(None)
    val aFiles = snap.files.filter(_.partitionValues.get("part").contains("a"))
    assert(aFiles.forall(_.version === 0L), "files outside the region must not rewrite")
  }

  test("new rows outside the declared region are refused; nothing commits") {
    import spark.implicits._
    val p = s"$root/refuse"
    mk(p, partitioned = false)
    val before = new GraftLog(p, conf).latestVersion()
    intercept[Exception] {
      TableBuilder.replaceWhere(spark, Seq(
        (30L, "b", "smuggled")).toDF("k", "part", "v"),
        p, col("part") === "a")
    }
    GraftLog.invalidateListing(p)
    assert(new GraftLog(p, conf).latestVersion() === before)
    assert(rows(p).size === 4)
  }

  test("replaceWhere with no matching rows appends the new region") {
    import spark.implicits._
    val p = s"$root/empty_match"
    mk(p, partitioned = false)
    TableBuilder.replaceWhere(spark, Seq(
      (40L, "c", "nc")).toDF("k", "part", "v"),
      p, col("part") === "c")
    assert(rows(p).size === 5)
  }

  test("DataFrame write surface: mode overwrite + option replaceWhere") {
    import spark.implicits._
    val p = s"$root/surface"
    mk(p, partitioned = false)
    Seq((50L, "a", "via_df")).toDF("k", "part", "v")
      .write.format("graft").mode("overwrite")
      .option("path", p).option("replaceWhere", "part = 'a'").save()
    assert(rows(p) === Set(
      (3L, "b", "r3"), (4L, "b", "r4"), (50L, "a", "via_df")))
    // without the option, overwrite still recreates from scratch
    Seq((60L, "z", "fresh")).toDF("k", "part", "v")
      .write.format("graft").mode("overwrite").option("path", p).save()
    assert(rows(p) === Set((60L, "z", "fresh")))
  }

  test("appendOnly tables refuse replaceWhere") {
    import spark.implicits._
    val p = s"$root/append_only"
    TableBuilder.create(spark,
      Seq((1L, "a", "r")).toDF("k", "part", "v"), p,
      configuration = Map("delta.appendOnly" -> "true"))
    intercept[IllegalArgumentException] {
      TableBuilder.replaceWhere(spark,
        Seq((2L, "a", "n")).toDF("k", "part", "v"), p, col("part") === "a")
    }
  }
}
