package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** CDF semantics: insert/delete/update capture, cdc-priority per version,
  * snapshot consistency after rewrites, disabled-table rejection, and
  * boundary validation (reference `DeltaSharedTableCDFSuite` areas).
  */
class CDFSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val base = s"${graft.log.SharedFixtures.targetDir}/test_cdf/people"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(s"${graft.log.SharedFixtures.targetDir}/test_cdf")
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    import spark.implicits._
    // v0: 4 inserts; v1: +2 inserts; v2: delete age<25; v3: double score where name=c
    val v0 = Seq((1L, "a", 30, 10.0), (2L, "b", 20, 20.0), (3L, "c", 40, 30.0), (4L, "d", 22, 40.0))
      .toDF("id", "name", "age", "score")
    TableBuilder.create(spark, v0.repartition(2), base, name = "people",
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark,
      Seq((5L, "e", 50, 50.0), (6L, "f", 60, 60.0)).toDF("id", "name", "age", "score"),
      base, timestamp = 1000L)
    TableBuilder.deleteWhere(spark, base, col("age") < 25, timestamp = 2000L)
    TableBuilder.updateWhere(spark, base, col("name") === "c",
      Seq("score" -> col("score") * 2), timestamp = 3000L)
  }

  override def afterAll(): Unit = spark.stop()

  test("snapshot after delete+update reflects the row-level changes") {
    val rows = spark.read.format("graft").option("path", base).load()
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(2), r.getDouble(3)))
    assert(rows.toSeq === Seq((1L, 30, 10.0), (3L, 40, 60.0), (5L, 50, 50.0), (6L, 60, 60.0)))
  }

  test("cdf captures inserts, deletes, and update pre/post images") {
    val cdf = GraftCDF.tableChanges(spark, base, 0)
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map(
      "insert" -> 6L, "delete" -> 2L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    // update images carry old/new values
    val images = cdf.filter(col("id") === 3 && col("_change_type").startsWith("update"))
      .select("_change_type", "score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(images === Map("update_preimage" -> 30.0, "update_postimage" -> 60.0))
  }

  test("version range slicing + commit version/timestamp columns") {
    val cdf23 = GraftCDF.tableChanges(spark, base, 2, Some(3))
    assert(cdf23.select("_change_type").distinct().collect().map(_.getString(0)).toSet ===
      Set("delete", "update_preimage", "update_postimage"))
    val versions = cdf23.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(versions === Set(2L, 3L))
    // timestamps monotonic with versions
    val ts = GraftCDF.tableChanges(spark, base, 0)
      .select("_commit_version", "_commit_timestamp").distinct()
      .collect().map(r => r.getLong(0) -> r.getTimestamp(1).getTime).sortBy(_._1)
    assert(ts.map(_._2).toSeq === ts.map(_._2).sorted.toSeq)
  }

  test("cdc-priority: rewrite versions do not leak survivor re-inserts") {
    // v2 rewrote a file (survivors re-added) — but CDF for v2 must show
    // ONLY the deleted rows, not survivor inserts.
    val v2 = GraftCDF.tableChanges(spark, base, 2, Some(2))
    assert(v2.select("_change_type").distinct().collect().map(_.getString(0)).toSet ===
      Set("delete"))
    assert(v2.count() === 2)
  }

  test("CDF disabled table is rejected") {
    val plain = s"${graft.log.SharedFixtures.targetDir}/test_cdf/nocdf"
    import spark.implicits._
    TableBuilder.create(spark, Seq((1L, "x")).toDF("id", "v"), plain, name = "nocdf")
    val ex = intercept[IllegalArgumentException] {
      GraftCDF.tableChanges(spark, plain, 0)
    }
    assert(ex.getMessage.contains("enableChangeDataFeed"))
  }

  test("boundary validation: bad version ranges are rejected") {
    assertThrows[IllegalArgumentException] {
      GraftCDF.tableChanges(spark, base, 5, Some(3))
    }
    assertThrows[IllegalArgumentException] {
      GraftCDF.tableChanges(spark, base, 99)
    }
  }

  test("readChangeFeed filter pushdown keeps results exact") {
    val cdf = spark.read.format("graft").option("path", base)
      .option("readChangeFeed", "true").option("startingVersion", "0").load()
    val filtered = cdf.filter(col("_change_type") === "delete" && col("age") < 25)
    assert(filtered.count() === 2)
    assert(cdf.filter(col("id").isin(3L, 5L)).count() ===
      GraftCDF.tableChanges(spark, base, 0).filter(col("id").isin(3L, 5L)).count())
  }

  test("readChangeFeed batch option matches the programmatic API") {
    val viaOption = spark.read.format("graft").option("path", base)
      .option("readChangeFeed", "true").option("startingVersion", "0").load()
    val viaApi = GraftCDF.tableChanges(spark, base, 0)
    assert(viaOption.count() === viaApi.count())
    assert(viaOption.groupBy("_change_type").count().collect().toSet ===
      viaApi.groupBy("_change_type").count().collect().toSet)
    // projection through the PrunedFilteredScan
    assert(viaOption.select("_change_type").distinct().count() === 4)
  }

  test("readChangeFeed timestamp boundaries: start at-or-after, end at-or-before") {
    // commits stamped ts≈0 (v0), 1000 (v1), 2000 (v2), 3000 (v3) —
    // monotonized to strictly increasing values.
    val sliced = spark.read.format("graft").option("path", base)
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "999") // at-or-after → v1
      .option("endingTimestamp", "2500")  // at-or-before → v2
      .load()
    val versions = sliced.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(versions === Set(1L, 2L))
    // start boundary after every commit → error (no version at or after)
    assertThrows[IllegalArgumentException] {
      spark.read.format("graft").option("path", base)
        .option("readChangeFeed", "true")
        .option("startingTimestamp", "99999999999999").load().count()
    }
  }

  test("CDF on a partitioned table carries typed partition values") {
    import spark.implicits._
    val dir = s"${graft.log.SharedFixtures.targetDir}/test_cdf/partitioned"
    TableBuilder.create(spark,
      Seq((1L, "x", "g0"), (2L, "y", "g1")).toDF("id", "v", "grp"),
      dir, partitionCols = Seq("grp"),
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark,
      Seq((3L, "z", "g0"), (4L, "w", "g2")).toDF("id", "v", "grp"),
      dir, timestamp = 1000L)
    val cdf = GraftCDF.tableChanges(spark, dir, 0, None)
    // partition columns come from partitionValues, never NULL
    assert(cdf.schema("grp").dataType === org.apache.spark.sql.types.StringType)
    val got = cdf.select("id", "grp", GraftCDF.CHANGE_TYPE, GraftCDF.COMMIT_VERSION)
      .as[(Long, String, String, Long)].collect().toSet
    assert(got === Set(
      (1L, "g0", "insert", 0L), (2L, "g1", "insert", 0L),
      (3L, "g0", "insert", 1L), (4L, "g2", "insert", 1L)))
    // typed (non-string) partition columns cast correctly too
    val dir2 = s"${graft.log.SharedFixtures.targetDir}/test_cdf/partitioned_int"
    TableBuilder.create(spark,
      Seq((1L, "x", 7), (2L, "y", 8)).toDF("id", "v", "bucket"),
      dir2, partitionCols = Seq("bucket"),
      configuration = Map("enableChangeDataFeed" -> "true"))
    val cdf2 = GraftCDF.tableChanges(spark, dir2, 0, None)
    assert(cdf2.schema("bucket").dataType === org.apache.spark.sql.types.IntegerType)
    assert(cdf2.select("id", "bucket").as[(Long, Int)].collect().toSet ===
      Set((1L, 7), (2L, 8)))
  }

  test("readChangeFeed streaming: atomic per-version batches, counts match batch CDF") {
    val q = spark.readStream.format("graft").option("path", base)
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .option("maxFilesPerTrigger", "1") // versions must still be atomic
      .load()
      .writeStream.format("memory").queryName("t_cdf_stream").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val progress = q.recentProgress
    q.stop()
    val got = spark.table("t_cdf_stream")
    val expected = GraftCDF.tableChanges(spark, base, 0)
    assert(got.count() === expected.count())
    assert(got.groupBy("_change_type").count().collect().toSet ===
      expected.groupBy("_change_type").count().collect().toSet)
    // v3's update_preimage/postimage arrived in ONE batch (atomic commit)
    val perBatchTypes = progress.filter(_.numInputRows > 0)
    assert(perBatchTypes.length === 4) // one batch per version
    val updates = got.filter(col("_change_type").startsWith("update"))
      .select("_commit_version").distinct().collect()
    assert(updates.length === 1)
  }

  test("CDF over a column-mapped table speaks logical names end to end") {
    // physical file columns are col-<uuid>; CDF must read them and hand
    // back LOGICAL names, for whole-file adds and cdc files alike
    val dir = s"${graft.log.SharedFixtures.targetDir}/test_cdf/colmapped"
    import spark.implicits._
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "name", "score"),
      dir, configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark,
      Seq((3L, "c", 30.0)).toDF("id", "name", "score"), dir, timestamp = 1000L)
    TableBuilder.deleteWhere(spark, dir, col("id") === 2L, timestamp = 2000L)
    TableBuilder.updateWhere(spark, dir, col("name") === "a",
      Seq("score" -> (col("score") + 5)), timestamp = 3000L)

    // snapshot reads back logical names and the right survivors
    val snap = spark.read.format("graft").option("path", dir).load()
    assert(snap.columns.toSeq === Seq("id", "name", "score"))
    assert(snap.orderBy("id").as[(Long, String, Double)].collect().toSeq ===
      Seq((1L, "a", 15.0), (3L, "c", 30.0)))

    val cdf = GraftCDF.tableChanges(spark, dir, 0)
    assert(cdf.columns.take(3).toSeq === Seq("id", "name", "score"))
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byType === Map("insert" -> 3L, "delete" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    // values decoded from physical files are correct, not NULL
    assert(cdf.filter(col("_change_type") === "delete")
      .select("id", "name").as[(Long, String)].collect().toSeq === Seq((2L, "b")))
    assert(cdf.filter(col("_change_type") === "update_postimage")
      .select("score").as[Double].collect().toSeq === Seq(15.0))
    // partitioned + column-mapped: partitionValues keys are physical
    val pdir = s"${graft.log.SharedFixtures.targetDir}/test_cdf/colmapped_part"
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "x", "g0"), (2L, "y", "g1")).toDF("id", "v", "grp"),
      pdir, partitionCols = Seq("grp"),
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark, Seq((3L, "z", "g1")).toDF("id", "v", "grp"),
      pdir, timestamp = 1000L)
    val pcdf = GraftCDF.tableChanges(spark, pdir, 0)
    assert(pcdf.select("id", "grp").as[(Long, String)].collect().toSet ===
      Set((1L, "g0"), (2L, "g1"), (3L, "g1")))
  }

  test("CDF derives row changes from deletion-vector commits") {
    // v0: 6 inserts; v1: DV-delete id<=2; v2: DV-delete id<=4 (merged DV —
    // only 3,4 are NEW deletes); v3: remove the file outright (only the 2
    // live rows are deletes)
    val dir = s"${graft.log.SharedFixtures.targetDir}/test_cdf/dv"
    import spark.implicits._
    TableBuilder.create(spark,
      (1L to 6L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1), dir,
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.deleteWhereDV(spark, dir, col("id") <= 2, timestamp = 1000L)
    TableBuilder.deleteWhereDV(spark, dir, col("id") <= 4, timestamp = 2000L)
    TableBuilder.removeFiles(spark, dir, _ => true, timestamp = 3000L)

    val cdf = GraftCDF.tableChanges(spark, dir, 0)
    val got = cdf.select("id", GraftCDF.CHANGE_TYPE, GraftCDF.COMMIT_VERSION)
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set(
      (1L, "insert", 0L), (2L, "insert", 0L), (3L, "insert", 0L),
      (4L, "insert", 0L), (5L, "insert", 0L), (6L, "insert", 0L),
      (1L, "delete", 1L), (2L, "delete", 1L),
      (3L, "delete", 2L), (4L, "delete", 2L),
      (5L, "delete", 3L), (6L, "delete", 3L)))
    // a range starting mid-history seeds DV state from the prior snapshot:
    // v2 alone must NOT re-report v1's deletes
    val v2 = GraftCDF.tableChanges(spark, dir, 2, Some(2))
      .select("id").as[Long].collect().toSet
    assert(v2 === Set(3L, 4L))
    // v3 alone: only live rows of the removed file
    val v3 = GraftCDF.tableChanges(spark, dir, 3, Some(3))
      .select("id", GraftCDF.CHANGE_TYPE).as[(Long, String)].collect().toSet
    assert(v3 === Set(5L -> "delete", 6L -> "delete"))
  }

  test("readChangeFeed streaming without startingVersion tails new changes only") {
    val scratch = s"${graft.log.SharedFixtures.targetDir}/test_cdf/tail"
    import spark.implicits._
    TableBuilder.create(spark, Seq((1L, "x", 1, 1.0)).toDF("id", "name", "age", "score"),
      scratch, name = "tail", configuration = Map("enableChangeDataFeed" -> "true"))
    // stream starts at current version (0) → includes v0 inserts and later
    val q = spark.readStream.format("graft").option("path", scratch)
      .option("readChangeFeed", "true")
      .load()
      .writeStream.format("memory").queryName("t_cdf_tail").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    assert(spark.table("t_cdf_tail").count() === 1)
  }

  test("SET TBLPROPERTIES toggles CDF; ranges police per-version enablement") {
    val scratch = s"${graft.log.SharedFixtures.targetDir}/test_cdf/toggle"
    import spark.implicits._
    // v0 created WITHOUT CDF, v1 appends (uncaptured)
    TableBuilder.create(spark, Seq((1L, "x")).toDF("id", "v"), scratch, name = "toggle")
    TableBuilder.append(spark, Seq((2L, "y")).toDF("id", "v"), scratch,
      timestamp = 1000L)
    // v2 enables CDF via the DDL; v3 appends (captured)
    val parser = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
    parser.parsePlan(
      s"ALTER TABLE '$scratch' SET TBLPROPERTIES('delta.enableChangeDataFeed'='true')")
      .asInstanceOf[graft.sql.SetPropertiesCommand].run(spark)
    TableBuilder.append(spark, Seq((3L, "z")).toDF("id", "v"), scratch,
      timestamp = 2000L)
    // a range from the enabling commit serves
    val ok = GraftCDF.tableChanges(spark, scratch, 2)
    assert(ok.filter(col("_change_type") === "insert")
      .select("id").collect().map(_.getLong(0)).toSeq === Seq(3L))
    // a range covering the pre-enablement append refuses loudly
    val e = intercept[IllegalArgumentException] {
      GraftCDF.tableChanges(spark, scratch, 0).collect()
    }
    assert(e.getMessage.contains("while CDF was disabled"), e.getMessage)
    // UNSET turns it back off: later versions refuse again
    TableBuilder.setProperties(spark, scratch,
      Map("delta.enableChangeDataFeed" -> None), timestamp = 3000L)
    TableBuilder.append(spark, Seq((4L, "w")).toDF("id", "v"), scratch,
      timestamp = 4000L)
    val e2 = intercept[IllegalArgumentException] {
      GraftCDF.tableChanges(spark, scratch, 2).collect()
    }
    assert(e2.getMessage.contains("version 5"), e2.getMessage)
  }
}
