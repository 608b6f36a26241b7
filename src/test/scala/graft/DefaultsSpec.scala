package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Column DEFAULT values (`allowColumnDefaults`): CURRENT_DEFAULT fills
  * partial inserts in the write pipeline; EXISTS_DEFAULT backfills
  * pre-existing rows at read time via Spark's native parquet handling —
  * and the two diverge exactly when ALTER ... SET DEFAULT changes the
  * current default after rows were written.
  */
class DefaultsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", classOf[graft.GraftSparkExtensions].getName)
    .config("spark.sql.catalog.graft", classOf[graft.sources.GraftSparkCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse",
      s"${graft.log.SharedFixtures.targetDir}/defaults_warehouse")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_defaults"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    for (d <- Seq(root, s"${graft.log.SharedFixtures.targetDir}/defaults_warehouse")) {
      val dir = new java.io.File(d)
      if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }
  override def afterAll(): Unit = spark.stop()

  private def mk(path: String, delta: Boolean = true): Unit = {
    import spark.implicits._
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"),
      path, name = "defaults_t", deltaFormat = delta)
  }

  test("ADD COLUMN DEFAULT: old rows read it, partial appends fill it, explicit wins") {
    import spark.implicits._
    val path = s"$root/basic"
    mk(path)
    TableBuilder.addColumns(spark, path,
      Seq(("score", IntegerType), ("tag", StringType)),
      defaults = Map("score" -> "7", "tag" -> "'unset'"))
    // rows written BEFORE the column existed read the exists default
    val before = spark.read.format("graft").load(path)
      .select("id", "score", "tag").collect()
    assert(before.length == 10)
    assert(before.forall(r => r.getInt(1) == 7 && r.getString(2) == "unset"))
    // a partial append (no score/tag) fills the current default
    TableBuilder.append(spark,
      Seq((100L, "x")).toDF("id", "v"), path)
    // an explicit value wins over the default
    TableBuilder.append(spark,
      Seq((200L, "y", 99, "set")).toDF("id", "v", "score", "tag"), path)
    val all = spark.read.format("graft").load(path)
      .select("id", "score", "tag").collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(all.contains((100L, 7, "unset")))
    assert(all.contains((200L, 99, "set")))
  }

  test("SET DEFAULT changes future inserts only; EXISTS_DEFAULT stays frozen") {
    import spark.implicits._
    val path = s"$root/freeze"
    mk(path)
    TableBuilder.addColumns(spark, path, Seq(("score", IntegerType)),
      defaults = Map("score" -> "7"))
    TableBuilder.append(spark, Seq((50L, "a")).toDF("id", "v"), path)
    TableBuilder.setColumnDefault(spark, path, "score", Some("21"))
    TableBuilder.append(spark, Seq((60L, "b")).toDF("id", "v"), path)
    val byId = spark.read.format("graft").load(path)
      .select("id", "score").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(byId(0L) == 7, "pre-column row keeps the frozen exists default")
    assert(byId(50L) == 7, "filled at append time under the old default")
    assert(byId(60L) == 21, "new current default")
    // DROP DEFAULT: the programmatic API goes back to its strict
    // contract — a batch must provide every column (SQL by-name INSERT
    // still null-fills, via Spark's own resolution; see the catalog test)
    TableBuilder.setColumnDefault(spark, path, "score", None)
    intercept[IllegalStateException] {
      TableBuilder.append(spark, Seq((70L, "c")).toDF("id", "v"), path)
    }
    TableBuilder.append(spark,
      Seq((70L, "c", null.asInstanceOf[Integer])).toDF("id", "v", "score"), path)
    val r70 = spark.read.format("graft").load(path)
      .filter(col("id") === 70L).select("score").collect().head
    assert(r70.isNullAt(0))
  }

  test("non-constant DEFAULT is rejected") {
    val path = s"$root/nonconst"
    mk(path)
    val e = intercept[IllegalArgumentException] {
      TableBuilder.addColumns(spark, path, Seq(("bad", IntegerType)),
        defaults = Map("bad" -> "id + 1"))
    }
    assert(e.getMessage.contains("constant"))
  }

  test("delta-format table lists allowColumnDefaults and carries the keys") {
    val path = s"$root/proto"
    mk(path, delta = true)
    TableBuilder.addColumns(spark, path, Seq(("score", IntegerType)),
      defaults = Map("score" -> "7"))
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(path, f"_delta_log/${1L}%020d.json").toPath)
    val all = String.join("\n", lines)
    assert(all.contains("allowColumnDefaults"))
    assert(all.contains("CURRENT_DEFAULT") && all.contains("EXISTS_DEFAULT"))
    assert(all.contains("\"minWriterVersion\":7"))
  }

  test("SQL DDL: ALTER TABLE ADD COLUMNS ... DEFAULT and SET/DROP DEFAULT") {
    import spark.implicits._
    val path = s"$root/sql"
    mk(path)
    spark.sql(s"ALTER TABLE '$path' ADD COLUMNS (score INT DEFAULT 7, tag STRING DEFAULT 'u')")
    TableBuilder.append(spark, Seq((50L, "a")).toDF("id", "v"), path)
    spark.sql(s"ALTER TABLE '$path' ALTER COLUMN score SET DEFAULT 21")
    TableBuilder.append(spark, Seq((60L, "b")).toDF("id", "v"), path)
    spark.sql(s"ALTER TABLE '$path' ALTER COLUMN score DROP DEFAULT")
    val byId = spark.read.format("graft").load(path)
      .select("id", "score", "tag").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(byId(0L) == ((7, "u")))
    assert(byId(50L) == ((7, "u")))
    assert(byId(60L) == ((21, "u")))
  }

  test("SQL CREATE TABLE with DEFAULT through the DSv2 catalog + partial INSERT") {
    spark.sql("CREATE TABLE graft.share1.defaults.t1 " +
      "(id BIGINT, score INT DEFAULT 7, tag STRING DEFAULT 'unset') " +
      "TBLPROPERTIES ('format'='delta')")
    try {
      spark.sql("INSERT INTO graft.share1.defaults.t1 (id) VALUES (1), (2)")
      spark.sql("INSERT INTO graft.share1.defaults.t1 VALUES (3, 99, 'set')")
      val rows = spark.sql(
        "SELECT id, score, tag FROM graft.share1.defaults.t1 ORDER BY id")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
      assert(rows == Seq((1L, 7, "unset"), (2L, 7, "unset"), (3L, 99, "set")))
    } finally spark.sql("DROP TABLE IF EXISTS graft.share1.defaults.t1")
  }

  test("kernel columnar scan fills EXISTS_DEFAULT for files predating the column") {
    spark.sql("CREATE TABLE graft.share1.defaults.t2 (id BIGINT) " +
      "TBLPROPERTIES ('format'='delta')")
    try {
      spark.sql("INSERT INTO graft.share1.defaults.t2 VALUES (1), (2)")
      val path = graft.log.GraftCatalog.location("share1.defaults.t2")
      TableBuilder.addColumns(spark, path, Seq(("score", IntegerType)),
        defaults = Map("score" -> "7"))
      val rows = spark.sql("SELECT id, score FROM graft.share1.defaults.t2 ORDER BY id")
        .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1))).toSeq
      assert(rows == Seq((1L, 7), (2L, 7)),
        "files written before ADD COLUMN must read the exists default via the DSv2 scan")
    } finally spark.sql("DROP TABLE IF EXISTS graft.share1.defaults.t2")
  }
}
