package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{GraftCatalog, GraftLog, SharedFixtures, TableBuilder}

/** SQL-name access to shared tables through the `TableCatalog` plugin:
  * identifier resolution, VERSION/TIMESTAMP AS OF time travel, namespace
  * listings, and read-only enforcement.
  */
class CatalogSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.catalog.graft", classOf[graft.sources.GraftSparkCatalog].getName)
    .config("spark.sql.catalog.graft.warehouse",
      s"${graft.log.SharedFixtures.targetDir}/graft_warehouse")
    .getOrCreate()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    SharedFixtures.ensure(spark, sfDir)
  }
  override def afterAll(): Unit = spark.stop()

  private val T = s"graft.${SharedFixtures.SHARE}" // share1.default

  test("SELECT by catalog name matches the direct parquet read") {
    val viaSql = spark.sql(s"SELECT count(*) AS n FROM $T.lineitem")
      .collect().head.getLong(0)
    val direct = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    assert(viaSql === direct)
  }

  test("filters and projection push into the DSv2 scan") {
    val df = spark.sql(
      s"SELECT l_orderkey, l_quantity FROM $T.lineitem WHERE l_orderkey < 100")
    val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") < 100).count()
    assert(df.count() === expected)
    val scanDesc = df.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("graft-kernel"), "expected the DSv2 kernel scan")
  }

  test("VERSION AS OF resolves historical snapshots") {
    val v1 = spark.sql(s"SELECT count(*) AS n FROM $T.orders_versioned VERSION AS OF 1")
      .collect().head.getLong(0)
    val latest = spark.sql(s"SELECT count(*) AS n FROM $T.orders_versioned")
      .collect().head.getLong(0)
    val v1direct = spark.read.format("graft")
      .option("table", s"${SharedFixtures.SHARE}.orders_versioned")
      .option("versionAsOf", "1").load().count()
    assert(v1 === v1direct)
    assert(v1 !== latest, "fixture should have grown after version 1")
  }

  test("TIMESTAMP AS OF resolves by commit time (at-or-before)") {
    // orders_versioned commits carry timestamps 0/1000/2000...; ts=1500ms
    // must resolve to the version committed at 1000
    val atTs = spark.sql(
      s"SELECT count(*) AS n FROM $T.orders_versioned " +
        "TIMESTAMP AS OF '1970-01-01 00:00:01.5'")
      .collect().head.getLong(0)
    val v1 = spark.read.format("graft")
      .option("table", s"${SharedFixtures.SHARE}.orders_versioned")
      .option("versionAsOf", "1").load().count()
    assert(atTs === v1)
  }

  test("Delta-format tables are first-class SQL names with time travel") {
    // orders_delta carries a genuine _delta_log; the catalog serves it
    // through the same DSv2 scan, including VERSION AS OF below the
    // table's parquet checkpoint
    val latest = spark.sql(s"SELECT count(*) AS n FROM $T.orders_delta")
      .collect().head.getLong(0)
    val v1 = spark.sql(s"SELECT count(*) AS n FROM $T.orders_delta VERSION AS OF 1")
      .collect().head.getLong(0)
    val expected = spark.read.parquet(s"$sfDir/orders.parquet")
      .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp")).count()
    assert(v1 === expected)
    assert(latest < v1, "the delete at v2 must make the latest snapshot smaller")
  }

  test("SHOW TABLES / SHOW NAMESPACES reflect the registry") {
    val tables = spark.sql(s"SHOW TABLES IN $T")
      .collect().map(_.getString(1)).toSet
    assert(tables.contains("lineitem") && tables.contains("orders"))
    val shares = spark.sql("SHOW NAMESPACES IN graft")
      .collect().map(_.getString(0)).toSet
    assert(shares.contains(SharedFixtures.SHARE.split("\\.").head))
  }

  test("SQL DDL/DML: CTAS, INSERT INTO/OVERWRITE, DROP TABLE, delta format") {
    val wh = s"${graft.log.SharedFixtures.targetDir}/graft_warehouse"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wh))
    spark.sql(s"DROP TABLE IF EXISTS $T.sql_t")
    spark.sql(s"CREATE TABLE $T.sql_t AS " +
      s"SELECT l_orderkey, l_quantity FROM $T.lineitem WHERE l_orderkey < 1000")
    def count(t: String): Long =
      spark.sql(s"SELECT count(*) AS n FROM $T.$t").collect().head.getLong(0)
    val expected = spark.sql(
      s"SELECT count(*) AS n FROM $T.lineitem WHERE l_orderkey < 1000")
      .collect().head.getLong(0)
    assert(count("sql_t") === expected && expected > 0)
    // INSERT INTO appends a new log version
    spark.sql(s"INSERT INTO $T.sql_t " +
      s"SELECT l_orderkey + 9000000, l_quantity FROM $T.lineitem LIMIT 3")
    assert(count("sql_t") === expected + 3)
    // INSERT OVERWRITE recreates at version 0
    spark.sql(s"INSERT OVERWRITE $T.sql_t " +
      s"SELECT l_orderkey, l_quantity FROM $T.lineitem LIMIT 5")
    assert(count("sql_t") === 5L)

    // delta-format CTAS: the SQL surface writes a REAL Delta Lake log
    spark.sql(s"DROP TABLE IF EXISTS $T.sql_delta")
    spark.sql(s"CREATE TABLE $T.sql_delta TBLPROPERTIES('format'='delta') AS " +
      s"SELECT l_orderkey, l_quantity FROM $T.lineitem WHERE l_orderkey < 500")
    val deltaDir = new java.io.File(s"$wh/share1/default/sql_delta/_delta_log")
    assert(deltaDir.isDirectory && !new java.io.File(
      s"$wh/share1/default/sql_delta/_graft_log").exists())
    spark.sql(s"INSERT INTO $T.sql_delta " +
      s"SELECT l_orderkey + 9000000, l_quantity FROM $T.lineitem LIMIT 2")
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(deltaDir, f"${1}%020d.json").toPath)
    assert(lines.get(0).contains("\"commitInfo\""), "INSERT must commit Delta JSON")
    assert(count("sql_delta") ===
      spark.sql(s"SELECT count(*) AS n FROM $T.lineitem WHERE l_orderkey < 500")
        .collect().head.getLong(0) + 2)

    assert(spark.sql(s"SHOW TABLES IN $T").collect()
      .map(_.getString(1)).toSet.contains("sql_t"))
    spark.sql(s"DROP TABLE $T.sql_t")
    spark.sql(s"DROP TABLE $T.sql_delta")
    assert(!spark.sql(s"SHOW TABLES IN $T").collect()
      .map(_.getString(1)).toSet.contains("sql_t"))
    assert(!new java.io.File(s"$wh/share1/default/sql_t").exists())
  }

  test("SQL DELETE FROM: filter delete through SupportsDeleteV2") {
    spark.sql(s"DROP TABLE IF EXISTS $T.sql_del")
    spark.sql(s"CREATE TABLE $T.sql_del AS " +
      s"SELECT l_orderkey, l_quantity FROM $T.lineitem WHERE l_orderkey < 2000")
    val before = spark.sql(s"SELECT count(*) AS n FROM $T.sql_del")
      .collect().head.getLong(0)
    val toDelete = spark.sql(
      s"SELECT count(*) AS n FROM $T.sql_del WHERE l_quantity > 25")
      .collect().head.getLong(0)
    assert(toDelete > 0, "fixture must have rows to delete")
    spark.sql(s"DELETE FROM $T.sql_del WHERE l_quantity > 25")
    assert(spark.sql(s"SELECT count(*) AS n FROM $T.sql_del")
      .collect().head.getLong(0) === before - toDelete)
    assert(spark.sql(s"SELECT count(*) AS n FROM $T.sql_del WHERE l_quantity > 25")
      .collect().head.getLong(0) === 0L)
    // unconditional DELETE arrives as AlwaysTrue and empties the table
    spark.sql(s"DELETE FROM $T.sql_del")
    assert(spark.sql(s"SELECT count(*) AS n FROM $T.sql_del")
      .collect().head.getLong(0) === 0L)
    spark.sql(s"DROP TABLE $T.sql_del")
  }

  test("SQL UPDATE and MERGE INTO: group-based row-level rewrites") {
    Seq("sql_upd", "sql_mrg_src").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(
          s"${graft.log.SharedFixtures.targetDir}/graft_warehouse/share1/default/$t"))
    }
    spark.sql(s"DROP TABLE IF EXISTS $T.sql_upd")
    spark.sql(s"CREATE TABLE $T.sql_upd AS " +
      s"SELECT l_orderkey, CAST(l_quantity AS DOUBLE) AS qty FROM $T.lineitem " +
      s"WHERE l_orderkey < 2000")
    val base = spark.sql(
      s"SELECT CAST(sum(qty) AS LONG) AS s, count(*) AS n FROM $T.sql_upd")
      .collect().head
    val bump = spark.sql(
      s"SELECT count(*) AS n FROM $T.sql_upd WHERE l_orderkey < 500")
      .collect().head.getLong(0)
    assert(bump > 0)
    spark.sql(s"UPDATE $T.sql_upd SET qty = qty + 1 WHERE l_orderkey < 500")
    val after = spark.sql(
      s"SELECT CAST(sum(qty) AS LONG) AS s, count(*) AS n FROM $T.sql_upd")
      .collect().head
    assert(after.getLong(1) === base.getLong(1), "UPDATE must not change row count")
    assert(after.getLong(0) === base.getLong(0) + bump, "each matched row +1")

    spark.sql(s"DROP TABLE IF EXISTS $T.sql_mrg_src")
    spark.sql(s"CREATE TABLE $T.sql_mrg_src AS " +
      s"SELECT l_orderkey, CAST(0.0 AS DOUBLE) AS qty FROM $T.lineitem " +
      s"WHERE l_orderkey >= 1000 AND l_orderkey < 3000 GROUP BY 1, 2")
    spark.sql(
      s"""MERGE INTO $T.sql_upd t USING $T.sql_mrg_src s
          ON t.l_orderkey = s.l_orderkey
          WHEN MATCHED THEN UPDATE SET qty = 0.0
          WHEN NOT MATCHED THEN INSERT (l_orderkey, qty) VALUES (s.l_orderkey, -1.0)""")
    // matched rows zeroed, source-only keys inserted with -1
    assert(spark.sql(s"SELECT count(*) AS n FROM $T.sql_upd " +
      s"WHERE l_orderkey >= 1000 AND l_orderkey < 2000 AND qty <> 0.0")
      .collect().head.getLong(0) === 0L)
    val inserted = spark.sql(
      s"SELECT count(*) AS n FROM $T.sql_upd WHERE qty = -1.0")
      .collect().head.getLong(0)
    val srcOnly = spark.sql(
      s"SELECT count(DISTINCT l_orderkey) AS n FROM $T.sql_mrg_src " +
      s"WHERE l_orderkey >= 2000").collect().head.getLong(0)
    assert(inserted === srcOnly, s"inserted=$inserted srcOnly=$srcOnly")

    // subquery DELETE is untranslatable to connector filters → takes the
    // row-level group rewrite instead of the metadata path
    spark.sql(s"DELETE FROM $T.sql_upd WHERE l_orderkey IN " +
      s"(SELECT l_orderkey FROM $T.sql_mrg_src WHERE l_orderkey >= 2500)")
    assert(spark.sql(s"SELECT count(*) AS n FROM $T.sql_upd WHERE l_orderkey >= 2500")
      .collect().head.getLong(0) === 0L)
    spark.sql(s"DROP TABLE $T.sql_upd")
    spark.sql(s"DROP TABLE $T.sql_mrg_src")
  }

  test("MERGE runtime group filter rewrites only files holding matched keys") {
    import spark.implicits._
    val path = s"${graft.log.SharedFixtures.targetDir}/graft_warehouse/share1/default/mrg_prune"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    graft.log.GraftCatalog.unregister("share1.default.mrg_prune")
    // two files with disjoint id ranges
    graft.log.TableBuilder.create(spark,
      Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price").repartition(1),
      path, name = "mrg_prune")
    graft.log.TableBuilder.append(spark,
      Seq((100L, 1.0), (101L, 2.0)).toDF("id", "price").repartition(1), path)
    graft.log.GraftCatalog.register("share1.default.mrg_prune", path)
    val conf = spark.sessionState.newHadoopConf()
    val before = new graft.log.GraftLog(path, conf).snapshot(None).files.map(_.path).toSet
    spark.sql(s"DROP TABLE IF EXISTS $T.mrg_src2")
    spark.sql(s"CREATE TABLE $T.mrg_src2 AS SELECT CAST(1 AS BIGINT) AS id, " +
      s"CAST(99.0 AS DOUBLE) AS price")
    spark.sql(s"""MERGE INTO $T.mrg_prune t USING $T.mrg_src2 s ON t.id = s.id
                  WHEN MATCHED THEN UPDATE SET price = s.price""")
    graft.log.GraftLog.invalidateListing(path)
    val after = new graft.log.GraftLog(path, conf).snapshot(None).files.map(_.path).toSet
    // the matched key lives in file 1 only: file 2 must survive by identity
    assert(before.intersect(after).size === 1,
      s"runtime group filter must keep the untouched file: before=$before after=$after")
    val rows = spark.sql(s"SELECT id, price FROM $T.mrg_prune ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((1L, 99.0), (2L, 20.0), (100L, 1.0), (101L, 2.0)))
    spark.sql(s"DROP TABLE $T.mrg_src2")
    graft.log.GraftCatalog.unregister("share1.default.mrg_prune")
  }

  test("unknown table raises a table-not-found analysis error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(s"SELECT * FROM $T.nope").collect())
    assert(e.getMessage.toLowerCase.contains("table or view not found") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }

  test("unsupported DDL refuses locally; remote catalog is fully read-only") {
    // rename/alter have no log representation — refused in any mode
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $T.lineitem RENAME TO $T.lineitem2"))
    assert(e.getMessage.contains("read-only"), e.getMessage)
    // the sharing protocol has no write surface: remote DDL/DML refuses
    val e2 = intercept[Exception](
      spark.sql(s"DROP TABLE $remoteCat.lineitem"))
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
    val e3 = intercept[Exception](
      spark.sql(s"CREATE TABLE $remoteCat.t2 (a INT)"))
    assert(e3.getMessage.contains("read-only"), e3.getMessage)
  }

  // ---------------------------------------------------- remote catalog

  private lazy val remoteCat: String = {
    val url = graft.server.LocalShareServer.ensure(spark, sfDir)
    spark.conf.set("spark.sql.catalog.graftr",
      classOf[graft.sources.GraftSparkCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftr.url", url)
    spark.conf.set("spark.sql.catalog.graftr.token",
      graft.server.LocalShareServer.TOKEN)
    s"graftr.${SharedFixtures.SHARE}"
  }

  test("remote catalog: SQL names resolve through the REST listings") {
    val viaRest = spark.sql(s"SELECT count(*) AS n FROM $remoteCat.lineitem")
      .collect().head.getLong(0)
    assert(viaRest === spark.read.parquet(s"$sfDir/lineitem.parquet").count())
    val tables = spark.sql(s"SHOW TABLES IN $remoteCat")
      .collect().map(_.getString(1)).toSet
    assert(tables.contains("lineitem") && tables.contains("orders_versioned"))
  }

  test("remote catalog: filters prune server-side, rows stay exact") {
    val got = spark.sql(
      s"SELECT count(*) AS n FROM $remoteCat.lineitem WHERE l_orderkey < 100")
      .collect().head.getLong(0)
    val expected = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") < 100).count()
    assert(got === expected)
  }

  test("remote catalog: VERSION AS OF travels through the REST metadata") {
    val v1 = spark.sql(
      s"SELECT count(*) AS n FROM $remoteCat.orders_versioned VERSION AS OF 1")
      .collect().head.getLong(0)
    val v1local = spark.read.format("graft")
      .option("table", s"${SharedFixtures.SHARE}.orders_versioned")
      .option("versionAsOf", "1").load().count()
    assert(v1 === v1local)
  }

  test("remote catalog: TIMESTAMP AS OF resolves at-or-before over REST") {
    val atTs = spark.sql(
      s"SELECT count(*) AS n FROM $remoteCat.orders_versioned " +
        "TIMESTAMP AS OF '1970-01-01 00:00:01.5'")
      .collect().head.getLong(0)
    val v1local = spark.read.format("graft")
      .option("table", s"${SharedFixtures.SHARE}.orders_versioned")
      .option("versionAsOf", "1").load().count()
    assert(atTs === v1local)
  }

  test("DV-enabled SQL DELETE writes deletion vectors; the catalog keeps " +
    "serving through the V1 fallback") {
    val loc = s"${graft.log.SharedFixtures.targetDir}/graft_warehouse_dv/dvsql"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    GraftLog.invalidateListing(loc)
    spark.sql(s"""CREATE TABLE $T.dvsql (id BIGINT, v STRING)
      LOCATION '$loc'
      TBLPROPERTIES('delta.enableDeletionVectors'='true')""")
    try {
      spark.sql(s"INSERT INTO $T.dvsql " +
        "SELECT id, CAST(id AS STRING) FROM range(50)")
      val filesBefore = new GraftLog(loc, spark.sessionState.newHadoopConf())
        .snapshot(None).files.map(_.path).toSet
      // a translatable DELETE takes the metadata path, which honors the
      // delta DV contract: write deletion vectors, rewrite nothing
      spark.sql(s"DELETE FROM $T.dvsql WHERE id <= 9")
      val snap = new GraftLog(loc, spark.sessionState.newHadoopConf()).snapshot(None)
      assert(snap.files.map(_.path).toSet === filesBefore,
        "DV delete must not rewrite data files")
      assert(snap.files.exists(_.deletionVector.isDefined))
      // the catalog now serves this table through the V1 fallback:
      // filtered reads and aggregates still answer
      assert(spark.sql(s"SELECT count(*) AS n FROM $T.dvsql")
        .head().getLong(0) === 40L)
      assert(spark.sql(
        s"SELECT CAST(sum(id) AS BIGINT) FROM $T.dvsql WHERE id < 20")
        .head().getLong(0) === (10 to 19).sum.toLong)
      // a second DELETE merges into the existing DVs
      spark.sql(s"DELETE FROM $T.dvsql WHERE id >= 40")
      assert(spark.sql(s"SELECT count(*) AS n FROM $T.dvsql")
        .head().getLong(0) === 30L)
      // appends through the fallback land too
      spark.sql(s"INSERT INTO $T.dvsql VALUES (1000, 'x')")
      assert(spark.sql(s"SELECT count(*) AS n FROM $T.dvsql")
        .head().getLong(0) === 31L)
      // a NON-translatable DELETE needs a group rewrite, which would
      // resurrect DV-deleted rows — the fallback offers none, so Spark
      // refuses the command loudly instead of deleting wrong rows
      val e = intercept[Exception](
        spark.sql(s"DELETE FROM $T.dvsql WHERE id % 5 = 0"))
      assert(e.getMessage.contains("Cannot delete from table") ||
        e.getMessage.contains("deletion vectors"), e.getMessage)
    } finally spark.sql(s"DROP TABLE $T.dvsql")
  }

  test("column-mapped tables answer SQL names through the V1 fallback") {
    import spark.implicits._
    val loc = s"${graft.log.SharedFixtures.targetDir}/graft_warehouse_dv/cmsql"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(loc))
    GraftLog.invalidateListing(loc)
    TableBuilder.createColumnMapped(spark,
      (1 to 24).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"), loc)
    GraftCatalog.register(s"${SharedFixtures.SHARE}.cmsql", loc)
    try {
      assert(spark.sql(s"SELECT count(*) AS n FROM $T.cmsql").head().getLong(0) === 24L)
      assert(spark.sql(
        s"SELECT grp, count(*) AS n FROM $T.cmsql GROUP BY grp ORDER BY grp")
        .collect().map(_.getLong(1)).toSeq === Seq(8L, 8L, 8L))
    } finally GraftCatalog.unregister(s"${SharedFixtures.SHARE}.cmsql")
  }
}
