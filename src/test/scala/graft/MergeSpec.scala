package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** MERGE INTO semantics: upsert (update+insert), delete clause, clause
  * conditions, duplicate-match rejection, CDF capture, affected-file
  * pruning, and Delta-format commit routing.
  */
class MergeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_merge"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  override def afterAll(): Unit = spark.stop()

  import scala.jdk.CollectionConverters._

  private def fresh(name: String, deltaFormat: Boolean = false): String = {
    import spark.implicits._
    val path = s"$root/$name"
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "name", "score")
    TableBuilder.create(spark, v0.repartition(2), path, name = name,
      configuration = Map("enableChangeDataFeed" -> "true"),
      deltaFormat = deltaFormat)
    path
  }

  private def readTable(path: String) =
    spark.read.format("graft").option("path", path).load()

  test("upsert: matched rows updated, unmatched source rows inserted") {
    import spark.implicits._
    val path = fresh("upsert")
    val src = Seq((2L, "B", 200.0), (5L, "e", 50.0)).toDF("id", "name", "score")
    val r = Merge.merge(spark, path, src,
      condition = "t.id = s.id",
      whenMatchedUpdate = Some(Map("name" -> "s.name", "score" -> "t.score + s.score")),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name", "score" -> "s.score")))
    assert(r.updated === 1L && r.inserted === 1L && r.deleted === 0L)
    val rows = readTable(path).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "B", 220.0), (3L, "c", 30.0),
      (4L, "d", 40.0), (5L, "e", 50.0)))
  }

  test("delete clause runs before update; clause conditions respected") {
    import spark.implicits._
    val path = fresh("clauses")
    val src = Seq((1L, "x", 0.0), (2L, "y", 5.0), (9L, "z", 9.0)).toDF("id", "name", "score")
    val r = Merge.merge(spark, path, src,
      condition = "t.id = s.id",
      whenMatchedUpdate = Some(Map("score" -> "s.score")),
      whenMatchedDeleteIf = Some("s.score = 0.0"),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name", "score" -> "s.score")))
    assert(r.deleted === 1L && r.updated === 1L && r.inserted === 1L)
    val rows = readTable(path).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toSeq
    assert(rows === Seq((2L, 5.0), (3L, 30.0), (4L, 40.0), (9L, 9.0)))
  }

  test("duplicate source matches are rejected") {
    import spark.implicits._
    val path = fresh("dupes")
    val src = Seq((2L, "y1", 1.0), (2L, "y2", 2.0)).toDF("id", "name", "score")
    val e = intercept[IllegalArgumentException](
      Merge.merge(spark, path, src, "t.id = s.id",
        whenMatchedUpdate = Some(Map("score" -> "s.score"))))
    assert(e.getMessage.contains("multiple source rows"))
  }

  test("CDF captures merge as insert/update images/delete rows") {
    import spark.implicits._
    val path = fresh("cdf")
    val src = Seq((1L, "A", 100.0), (4L, "del", 0.0), (7L, "g", 70.0))
      .toDF("id", "name", "score")
    Merge.merge(spark, path, src, "t.id = s.id",
      whenMatchedUpdate = Some(Map("score" -> "s.score")),
      whenMatchedDeleteIf = Some("s.name = 'del'"),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name", "score" -> "s.score")))
    val cdf = GraftCDF.tableChanges(spark, path, 1)
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(byType === Map("insert" -> 1L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    val post = cdf.filter(col("_change_type") === "update_postimage")
      .select("id", "score").collect().head
    assert(post.getLong(0) === 1L && post.getDouble(1) === 100.0)
  }

  test("affected-file pruning: files without matches are not rewritten") {
    import spark.implicits._
    val path = s"$root/pruning"
    // two files with disjoint id ranges: merge touching only ids <= 2
    // must keep the other file's AddFile action untouched
    val v0 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "score")
      .repartition(1)
    TableBuilder.create(spark, v0, path, name = "pruning")
    TableBuilder.append(spark,
      Seq((100L, "z", 1.0), (101L, "w", 2.0)).toDF("id", "name", "score").repartition(1),
      path)
    val conf = spark.sessionState.newHadoopConf()
    val beforeFiles = new GraftLog(path, conf).snapshot(None).files.map(_.path).toSet
    val src = Seq((1L, "A", 11.0)).toDF("id", "name", "score")
    Merge.merge(spark, path, src, "t.id = s.id",
      whenMatchedUpdate = Some(Map("score" -> "s.score")))
    GraftLog.invalidateListing(path)
    val after = new GraftLog(path, conf).snapshot(None).files.map(_.path).toSet
    // the untouched file survives by identity; exactly one original file
    // was replaced
    assert(beforeFiles.intersect(after).size === 1)
    assert(readTable(path).count() === 4L)
  }

  test("merge on a Delta-format table commits a real Delta transaction") {
    import spark.implicits._
    val path = fresh("delta_merge", deltaFormat = true)
    val src = Seq((3L, "C", 300.0), (6L, "f", 60.0)).toDF("id", "name", "score")
    val r = Merge.merge(spark, path, src, "t.id = s.id",
      whenMatchedUpdate = Some(Map("name" -> "s.name", "score" -> "s.score")),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name", "score" -> "s.score")))
    assert(r.updated === 1L && r.inserted === 1L)
    val commit = new java.io.File(s"$path/_delta_log/${"%020d".format(1)}.json")
    assert(commit.isFile)
    val lines = java.nio.file.Files.readAllLines(commit.toPath).asScala
    assert(lines.head.contains("\"commitInfo\""))
    assert(lines.exists(_.contains("\"remove\"")) && lines.exists(_.contains("\"add\"")))
    val rows = readTable(path).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1))).toSeq
    assert(rows === Seq((1L, "a"), (2L, "b"), (3L, "C"), (4L, "d"), (6L, "f")))
  }

  test("merge applies deletion vectors: DV'd rows neither match nor resurrect") {
    import spark.implicits._
    val path = s"$root/dv_merge"
    // ONE data file so the DV'd file is necessarily among the affected
    // files the merge rewrites (an unaffected DV file legally keeps its
    // descriptor — group rewrites only touch matched files)
    TableBuilder.create(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "name", "score").repartition(1),
      path, name = "dv_merge",
      configuration = Map("enableChangeDataFeed" -> "true"))
    // DV-delete row 2, then merge a source that targets rows 2 and 3
    TableBuilder.deleteWhereDV(spark, path, col("id") === 2L)
    val src = Seq((2L, "Z", 999.0), (3L, "C", 300.0)).toDF("id", "name", "score")
    val r = Merge.merge(spark, path, src, "t.id = s.id",
      whenMatchedUpdate = Some(Map("name" -> "s.name", "score" -> "s.score")),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name", "score" -> "s.score")))
    // row 2 is logically deleted: its source row INSERTS instead of matching
    assert(r.updated === 1L && r.inserted === 1L)
    val rows = readTable(path).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "Z", 999.0), (3L, "C", 300.0), (4L, "d", 40.0)))
    val log = new GraftLog(path, spark.sessionState.newHadoopConf())
    assert(log.snapshot(None).files.forall(_.deletionVector.isEmpty),
      "rewritten files drop the DV descriptors")
  }

  test("merge into a column-mapped table resolves logical names both ways") {
    import spark.implicits._
    val path = s"$root/cm_merge"
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
        .toDF("id", "name", "score").repartition(1),
      path, name = "cm_merge",
      configuration = Map("enableChangeDataFeed" -> "true"))
    val src = Seq((2L, "B", 200.0), (9L, "i", 90.0)).toDF("id", "name", "score")
    val r = Merge.merge(spark, path, src, "t.id = s.id",
      whenMatchedUpdate = Some(Map("name" -> "s.name", "score" -> "t.score + s.score")),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "name" -> "s.name", "score" -> "s.score")))
    assert(r.updated === 1L && r.inserted === 1L && r.deleted === 0L)
    val rows = readTable(path).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2))).toSeq
    assert(rows === Seq((1L, "a", 10.0), (2L, "B", 220.0), (3L, "c", 30.0), (9L, "i", 90.0)))
    // CDF reads the physical-named cdc files back as logical columns
    val cdf = GraftCDF.tableChanges(spark, path, 1, Some(1))
      .select("id", GraftCDF.CHANGE_TYPE).as[(Long, String)].collect().toSet
    assert(cdf === Set((2L, "update_preimage"), (2L, "update_postimage"),
      (9L, "insert")))
  }
}
