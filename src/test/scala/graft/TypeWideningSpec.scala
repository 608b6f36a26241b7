package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Type widening (`ALTER COLUMN ... TYPE`): the matrix probe — every
  * conversion [[TypeWidening.canWiden]] claims must actually read narrow
  * physical files through the widened schema on Spark 4.1 — plus the
  * refusals, the delta-format `typeWidening` protocol gate, the
  * `delta.typeChanges` history, and the SQL DDL.
  */
class TypeWideningSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_type_widening"

  private def readTable(p: String) =
    spark.read.format("graft").option("path", p).load()
  private def fresh(sub: String): String = {
    val p = s"$root/$sub"
    val dir = new java.io.File(p)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
    GraftLog.invalidateListing(p)
    p
  }

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("matrix probe: every claimed widening reads narrow files in place") {
    import spark.implicits._
    // (sub, narrow column expr, narrow type, wide type, expected wide values)
    val cases: Seq[(String, DataType, DataType)] = Seq(
      ("b2s", ByteType, ShortType),
      ("b2i", ByteType, IntegerType),
      ("b2l", ByteType, LongType),
      ("s2i", ShortType, IntegerType),
      ("s2l", ShortType, LongType),
      ("i2l", IntegerType, LongType),
      ("i2d", IntegerType, DoubleType),
      ("f2d", FloatType, DoubleType),
      ("i2dec", IntegerType, DecimalType(12, 2)),
      ("dec2dec", DecimalType(5, 2), DecimalType(10, 4)))
    cases.foreach { case (sub, narrow, wide) =>
      val p = fresh(sub)
      val df = Seq(1, 2, 127).toDF("v")
        .select(col("v").cast(narrow).as("v"), (col("v") * 10).cast("long").as("id"))
      TableBuilder.create(spark, df.repartition(1), p)
      TableBuilder.widenColumnType(spark, p, "v", wide)
      GraftLog.invalidateListing(p)
      val got = readTable(p)
      assert(got.schema("v").dataType === wide, s"case $sub: schema")
      // values survive the upcast exactly (cast on the narrow source is
      // the oracle — every matrix entry is value-preserving)
      assert(got.select(col("v").cast("string")).collect().map(_.getString(0)).sorted
        === df.select(col("v").cast(wide).cast("string")).collect().map(_.getString(0)).sorted,
        s"case $sub: values")
      // stats-based skipping still sound: narrow-written min/max strings
      // parse under the wide type
      assert(got.where(col("v") >= lit(2)).count() === 2L, s"case $sub: filter")
    }
  }

  test("date -> timestamp_ntz reads midnight values") {
    val p = fresh("d2ntz")
    val df = spark.sql(
      "SELECT id, DATE'2024-03-05' + make_interval(0,0,0, CAST(id AS INT)) AS d " +
        "FROM range(3)")
    TableBuilder.create(spark, df.repartition(1), p)
    TableBuilder.widenColumnType(spark, p, "d", TimestampNTZType)
    GraftLog.invalidateListing(p)
    val got = readTable(p)
    assert(got.schema("d").dataType === TimestampNTZType)
    assert(got.select(col("d").cast("string")).collect().map(_.getString(0)).sorted
      === Array("2024-03-05 00:00:00", "2024-03-06 00:00:00", "2024-03-07 00:00:00"))
  }

  test("narrowing and unrelated conversions refuse") {
    import spark.implicits._
    val p = fresh("refuse")
    TableBuilder.create(spark,
      Seq((1L, "x", 3)).toDF("id", "s", "n").repartition(1), p)
    assert(intercept[IllegalArgumentException] {
      TableBuilder.widenColumnType(spark, p, "id", IntegerType)
    }.getMessage.contains("not a supported widening"))
    assert(intercept[IllegalArgumentException] {
      TableBuilder.widenColumnType(spark, p, "s", IntegerType)
    }.getMessage.contains("not a supported widening"))
    assert(intercept[IllegalArgumentException] {
      TableBuilder.widenColumnType(spark, p, "n", DecimalType(9, 0)) // needs >= 10
    }.getMessage.contains("not a supported widening"))
    assert(intercept[IllegalArgumentException] {
      TableBuilder.widenColumnType(spark, p, "nope", LongType)
    }.getMessage.contains("no column"))
  }

  test("partition columns refuse widening") {
    import spark.implicits._
    val p = fresh("part")
    TableBuilder.create(spark,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), p, partitionCols = Seq("k"))
    assert(intercept[IllegalArgumentException] {
      TableBuilder.widenColumnType(spark, p, "k", LongType)
    }.getMessage.contains("partition column"))
  }

  test("delta format: widening stamps the typeWidening feature gate and " +
    "records delta.typeChanges; wide appends land after") {
    import spark.implicits._
    val p = fresh("delta")
    TableBuilder.create(spark,
      Seq((Option(1), 10L), (Option(2), 20L)).toDF("v", "id").repartition(1), p,
      deltaFormat = true)
    val widenV = TableBuilder.widenColumnType(spark, p, "v", LongType)
    GraftLog.invalidateListing(p)
    val log = new GraftLog(p, spark.sessionState.newHadoopConf())
    val snap = log.snapshot(None)
    assert(snap.protocol.minReaderVersion === 3)
    assert(snap.protocol.features.contains("typeWidening"))
    // change history in field metadata, the delta spelling
    val f = snap.schema("v")
    val changes = f.metadata.getMetadataArray(TypeWidening.TYPE_CHANGES_KEY)
    assert(changes.length === 1)
    assert(changes(0).getString("fromType") === "integer")
    assert(changes(0).getString("toType") === "long")
    assert(changes(0).getLong("tableVersion") === widenV)
    // a second widening appends to the history
    TableBuilder.widenColumnType(spark, p, "v", DecimalType(22, 0))
    GraftLog.invalidateListing(p)
    val snap2 = new GraftLog(p, spark.sessionState.newHadoopConf()).snapshot(None)
    assert(snap2.schema("v").metadata
      .getMetadataArray(TypeWidening.TYPE_CHANGES_KEY).length === 2)
    // appends in the wide type join the narrow files transparently
    TableBuilder.append(spark,
      Seq((BigDecimal(3), 30L)).toDF("v", "id")
        .select(col("v").cast(DecimalType(22, 0)).as("v"), col("id")), p,
      timestamp = 1000L)
    GraftLog.invalidateListing(p)
    val got = readTable(p)
    assert(got.schema("v").dataType === DecimalType(22, 0))
    assert(got.select(sum(col("v"))).head().getDecimal(0).longValueExact() === 6L)
  }

  test("CDF reads span the widening commit: old changes upcast in place") {
    import spark.implicits._
    val p = fresh("cdf")
    TableBuilder.create(spark,
      Seq((Option(1), "a"), (Option(2), "b")).toDF("n", "v").repartition(1), p,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    TableBuilder.widenColumnType(spark, p, "n", LongType)
    TableBuilder.append(spark,
      Seq((Option(3L), "c")).toDF("n", "v"), p, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    val cdf = spark.read.format("graft").option("path", p)
      .option("readChangeFeed", "true").option("startingVersion", "0").load()
    assert(cdf.schema("n").dataType === LongType)
    // v0's narrow insert rows and v2's wide insert rows both surface
    val inserts = cdf.filter(col("_change_type") === "insert")
      .select(col("n").cast("long")).as[Long].collect().sorted
    assert(inserts.toSeq === Seq(1L, 2L, 3L))
  }

  test("a restarted stream picks up the widened schema and keeps going") {
    import spark.implicits._
    val p = fresh("stream")
    TableBuilder.create(spark,
      Seq((Option(1), "a")).toDF("n", "v").repartition(1), p)
    val cp = s"$root/stream_cp"
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Seq[(Long, String)], DataType)]
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft").option("path", p).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select(col("n").cast("long"), col("v")).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSeq
          batches.synchronized {
            batches += ((rows, df.schema("n").dataType))
          }
          ()
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce() // consumes v0 under the narrow schema
    assert(batches.flatMap(_._1).toSeq === Seq((1L, "a")))
    assert(batches.last._2 === IntegerType)
    TableBuilder.widenColumnType(spark, p, "n", LongType)
    TableBuilder.append(spark, Seq((Option(2L), "b")).toDF("n", "v"), p,
      timestamp = 1000L)
    GraftLog.invalidateListing(p)
    // restart re-analyzes against the CURRENT table schema (the same
    // contract delta streams have: mid-run type changes trip the drift
    // guard, a restart adopts the evolved schema) — the new batch arrives
    // typed long, nothing is dropped or double-read
    batches.clear()
    runOnce()
    assert(batches.flatMap(_._1).toSeq === Seq((2L, "b")))
    assert(batches.last._2 === LongType)
  }

  test("delta tables with TIMESTAMP_NTZ columns stamp the timestampNtz gate") {
    val p = fresh("ntz")
    val df = spark.sql(
      "SELECT id, CAST(timestamp_ntz'2024-01-02 03:04:05' AS TIMESTAMP_NTZ) AS t " +
        "FROM range(3)")
    TableBuilder.create(spark, df.repartition(1), p, deltaFormat = true)
    val snap = new GraftLog(p, spark.sessionState.newHadoopConf()).snapshot(None)
    assert(snap.protocol.minReaderVersion === 3)
    assert(snap.protocol.features.contains("timestampNtz"))
    GraftLog.invalidateListing(p)
    assert(readTable(p).select(col("t").cast("string")).head().getString(0)
      === "2024-01-02 03:04:05")
    // widening date -> ntz on a delta table introduces the gate too
    val p2 = fresh("ntz2")
    TableBuilder.create(spark,
      spark.sql("SELECT id, DATE'2024-03-05' AS d FROM range(2)").repartition(1),
      p2, deltaFormat = true)
    val before = new GraftLog(p2, spark.sessionState.newHadoopConf()).snapshot(None)
    assert(!before.protocol.features.contains("timestampNtz"))
    TableBuilder.widenColumnType(spark, p2, "d", TimestampNTZType)
    GraftLog.invalidateListing(p2)
    val after = new GraftLog(p2, spark.sessionState.newHadoopConf()).snapshot(None)
    assert(after.protocol.features.contains("timestampNtz"))
    assert(after.protocol.features.contains("typeWidening"))
  }

  test("remote read of a widened table renegotiates the delta dialect " +
    "and upcasts narrow files") {
    import spark.implicits._
    val p = fresh("remote")
    TableBuilder.create(spark,
      (1 to 40).map(i => (Option(i), s"r$i")).toDF("n", "v").repartition(2), p)
    TableBuilder.widenColumnType(spark, p, "n", LongType)
    TableBuilder.append(spark,
      Seq((Option(1000000000000L), "wide")).toDF("n", "v"), p, timestamp = 1000L)
    graft.log.GraftCatalog.register("share1.default.widened_remote", p)
    val server = new graft.server.GraftServer(
      graft.server.ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
    try {
      val remote = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.widened_remote").load()
      assert(remote.schema("n").dataType === LongType)
      assert(remote.count() === 41L)
      // the long-range value only representable post-widening survives,
      // and the narrow files upcast through the wire schema
      assert(remote.agg(max(col("n"))).head().getLong(0) === 1000000000000L)
      assert(remote.filter(col("n") <= 10L).count() === 10L)
    } finally {
      server.stop()
      graft.log.GraftCatalog.unregister("share1.default.widened_remote")
    }
  }

  test("SQL DDL: ALTER TABLE ... ALTER COLUMN ... TYPE") {
    import spark.implicits._
    val p = fresh("sql")
    TableBuilder.create(spark,
      Seq((1, 1.5f), (2, 2.5f)).toDF("n", "x").repartition(1), p)
    spark.sql(s"ALTER TABLE '$p' ALTER COLUMN n TYPE bigint")
    spark.sql(s"ALTER TABLE '$p' ALTER COLUMN x TYPE double")
    GraftLog.invalidateListing(p)
    val got = readTable(p)
    assert(got.schema("n").dataType === LongType)
    assert(got.schema("x").dataType === DoubleType)
    assert(got.agg(sum("n"), sum("x")).head() === org.apache.spark.sql.Row(3L, 4.0))
  }
}
