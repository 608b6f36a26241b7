package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.TableBuilder

/** The DeltaTable-style user facade: history/detail introspection and the
  * writer operations routed through one handle.
  */
class GraftTableSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_gtable"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  override def afterAll(): Unit = spark.stop()

  test("full lifecycle through the handle: append/update/delete/merge/optimize/history") {
    import spark.implicits._
    val path = s"$root/life"
    TableBuilder.create(spark,
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "score").repartition(2),
      path, name = "life", configuration = Map("enableChangeDataFeed" -> "true"))
    val t = GraftTable.forPath(spark, path)

    t.append(Seq((4L, 40.0)).toDF("id", "score"))
    t.update(col("id") === 2L, Map("score" -> lit(99.0)))
    t.delete(col("id") === 3L)
    val r = t.merge(Seq((4L, 0.5), (5L, 50.0)).toDF("id", "score"), "t.id = s.id",
      whenMatchedUpdate = Some(Map("score" -> "s.score")),
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "score" -> "s.score")))
    assert(r.updated === 1L && r.inserted === 1L)
    t.optimize(targetBytes = 1L << 30)

    val rows = t.toDF.orderBy("id").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(rows === Seq((1L, 10.0), (2L, 99.0), (4L, 0.5), (5L, 50.0)))

    val h = t.history().collect()
    assert(h.length === 6) // create, append, update, delete, merge, optimize
    assert(h.head.getLong(0) === 5L, "newest first")
    val ops = h.map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(ops(0L) === "CREATE" && ops(1L) === "APPEND")
    assert(ops(2L) === "DELETE/UPDATE/MERGE" && ops(4L) === "DELETE/UPDATE/MERGE")
    assert(ops(5L) === "OPTIMIZE")
    assert(!h.find(_.getLong(0) == 5L).get.getBoolean(6), "optimize is layout-only")

    val d = t.detail().collect().head
    assert(d.getString(2) === "graft" && d.getLong(4) === 5L && d.getLong(5) > 0L)

    // time travel through the handle
    assert(t.asOf(1L).count() === 4L)
  }

  test("forName resolves registered tables; isGraftTable discriminates") {
    import spark.implicits._
    val path = s"$root/named"
    TableBuilder.create(spark, Seq((1L, "x")).toDF("id", "v"), path, name = "named")
    graft.log.GraftCatalog.register("share1.default.gt_named", path)
    assert(GraftTable.forName(spark, "share1.default.gt_named").toDF.count() === 1L)
    assert(GraftTable.isGraftTable(spark, path))
    assert(!GraftTable.isGraftTable(spark, s"$root/nope"))
    graft.log.GraftCatalog.unregister("share1.default.gt_named")
  }

  test("the handle works identically on a Delta-format table") {
    import spark.implicits._
    val path = s"$root/delta"
    TableBuilder.create(spark, Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"),
      path, name = "delta", deltaFormat = true)
    val t = GraftTable.forPath(spark, path)
    t.update(col("id") === 1L, Map("v" -> lit(5.0)))
    assert(t.detail().collect().head.getString(2) === "delta")
    assert(t.toDF.orderBy("id").collect().map(_.getDouble(1)).toSeq === Seq(5.0, 2.0))
    assert(t.history().count() === 2L)
  }

  test("delta-format history reports the RECORDED commitInfo operations") {
    import spark.implicits._
    val path = s"$root/ops_history"
    TableBuilder.create(spark,
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v").repartition(2),
      path, name = "ops", deltaFormat = true)
    val t = GraftTable.forPath(spark, path)
    t.append(Seq((4L, 4.0)).toDF("id", "v"))
    t.delete(col("id") === 2L)
    t.update(col("id") === 1L, Map("v" -> lit(9.0)))
    t.optimize()
    TableBuilder.setProperties(spark, path, Map("k" -> Some("v")))
    // newest first: SET TBLPROPERTIES, OPTIMIZE, UPDATE, DELETE, WRITE,
    // CREATE TABLE — read straight from commitInfo, not inferred
    val ops = t.history().select("operation").collect().map(_.getString(0)).toSeq
    assert(ops === Seq("SET TBLPROPERTIES", "OPTIMIZE", "UPDATE", "DELETE",
      "WRITE", "CREATE TABLE"), ops.mkString(", "))
    // LIMIT scopes to the NEWEST n versions before any commit is read
    assert(t.history(Some(2)).select("operation").collect().map(_.getString(0)).toSeq
      === Seq("SET TBLPROPERTIES", "OPTIMIZE"))
    val limited = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
      .parsePlan(s"DESCRIBE HISTORY '$path' LIMIT 3")
      .asInstanceOf[graft.sql.HistoryCommand]
    assert(limited.limit === Some(3) && limited.run(spark).size === 3)
    // the raw delta commit line carries it for any real delta reader
    val line = scala.io.Source.fromFile(
      s"$path/_delta_log/00000000000000000002.json").getLines().next()
    assert(line.contains("\"operation\":\"DELETE\""), line)
  }
}
