package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._
import graft.model._

/** Real Delta Lake `_delta_log` interop: JSON commit replay, parquet
  * checkpoints (single + multi-part) with `_last_checkpoint`, mtime-based
  * history, CDF, deletion vectors, column mapping, and the writer-surface
  * refusal — all through the SAME engine surfaces (format("graft"), time
  * travel options, GraftCDF) that serve graft-format logs.
  */
class DeltaLogSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_delta_log"
  private def conf = spark.sessionState.newHadoopConf()

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
  override def afterAll(): Unit = spark.stop()

  /** graft-format CDF table with enough versions for a checkpoint. */
  private def buildAndConvert(path: String, parts: Int): Unit = {
    import spark.implicits._
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2),
      path, name = "delta_fixture",
      configuration = Map("enableChangeDataFeed" -> "true"))
    (1 to 3).foreach { k =>
      TableBuilder.append(spark,
        (0 until 10).map(i => ((k * 100 + i).toLong, s"r$k$i")).toDF("id", "v"),
        path, timestamp = k * 1000L)
    }
    TableBuilder.deleteWhere(spark, path, col("id") >= 300, timestamp = 4000L)
    TableBuilder.updateWhere(spark, path, col("id") === 0,
      Seq("v" -> lit("updated")), timestamp = 5000L)
    DeltaFormatWriter.convert(spark, path,
      checkpointAt = v => v == 3, checkpointParts = parts)
  }

  test("converted table is a real Delta log and snapshot replay matches") {
    val path = s"$root/t1"
    import spark.implicits._
    buildAndConvert(path, parts = 1)
    // on-disk shape: _delta_log only, commits + checkpoint + marker
    val logDir = new java.io.File(path, "_delta_log")
    assert(!new java.io.File(path, "_graft_log").exists())
    val names = logDir.listFiles().map(_.getName).toSet
    assert((0 to 5).forall(v => names.contains(f"$v%020d.json")))
    assert(names.contains(f"${3}%020d.checkpoint.parquet"))
    assert(names.contains("_last_checkpoint"))

    val log = new GraftLog(path, conf)
    assert(log.deltaMode)
    // full replay equals the pre-conversion final state
    val got = spark.read.format("graft").option("path", path).load()
      .select("id", "v").as[(Long, String)].collect().toSet
    val expected = ((1 until 20).map(i => (i.toLong, s"r$i")) ++
      Seq((0L, "updated")) ++
      (1 to 2).flatMap(k => (0 until 10).map(i => ((k * 100 + i).toLong, s"r$k$i")))).toSet
    assert(got === expected)
    // checkpoint is actually used for snapshot-at-latest
    val cp = log.checkpointAtOrBefore(Long.MaxValue)
    assert(cp.map(_.version) === Some(3L))
    // stats survived the round trip (string-encoded, flat)
    val snap = log.snapshot(None)
    assert(snap.files.forall(_.stats.exists(_.numRecords > 0)))
    assert(snap.files.flatMap(_.stats).exists(_.minValues.contains("id")))
  }

  test("time travel: versionAsOf below and above the checkpoint; timestampAsOf") {
    val path = s"$root/t1"
    import spark.implicits._
    def at(v: Int): Set[Long] =
      spark.read.format("graft").option("path", path)
        .option("versionAsOf", v.toString).load()
        .select("id").as[Long].collect().toSet
    assert(at(0) === (0 until 20).map(_.toLong).toSet)
    assert(at(1) === ((0 until 20).map(_.toLong) ++ (100 until 110).map(_.toLong)).toSet)
    assert(at(4).forall(_ < 300) && at(3).exists(_ >= 300))
    // timestampAsOf: mtimes were set to the synthetic commit timestamps
    val log = new GraftLog(path, conf)
    val tss = log.versionTimestamps()
    assert(tss.map(_._1) === (0L to 5L))
    assert(tss.map(_._2) === tss.map(_._2).sorted, "timestamps must be monotonic")
    assert(log.versionAtOrBefore(tss(2)._2) === 2L)
    assert(log.versionAtOrAfter(tss(2)._2 + 1) === 3L)
  }

  test("CDF over the Delta log equals row-level change history") {
    val path = s"$root/t1"
    import spark.implicits._
    val cdf = GraftCDF.tableChanges(spark, path, 4, Some(5))
      .select(col("id"), col("v"), col(GraftCDF.CHANGE_TYPE),
        col(GraftCDF.COMMIT_VERSION))
      .as[(Long, String, String, Long)].collect().toSet
    val deletes = (0 until 10).map(i => ((300 + i).toLong, s"r3$i", "delete", 4L)).toSet
    val update = Set((0L, "r0", "update_preimage", 5L), (0L, "updated", "update_postimage", 5L))
    assert(cdf === deletes ++ update)
  }

  test("multi-part checkpoint replays identically") {
    val path = s"$root/t2"
    import spark.implicits._
    buildAndConvert(path, parts = 3)
    val logDir = new java.io.File(path, "_delta_log")
    val names = logDir.listFiles().map(_.getName).toSet
    (1 to 3).foreach(i =>
      assert(names.contains(f"${3}%020d.checkpoint.$i%010d.${3}%010d.parquet")))
    val log = new GraftLog(path, conf)
    val cp = log.checkpointAtOrBefore(Long.MaxValue)
    assert(cp.map(_.version) === Some(3L))
    assert(cp.get.files.size === log.snapshot(Some(3L)).files.size)
    val got = spark.read.format("graft").option("path", path).load().count()
    assert(got === 40L) // 50 written - 10 deleted
  }

  test("deletion vectors and column mapping survive conversion") {
    import spark.implicits._
    val dvPath = s"$root/dv"
    val df = (0 until 30).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    TableBuilder.create(spark, df.repartition(2), dvPath, name = "dv_delta")
    TableBuilder.deleteWhereDV(spark, dvPath, col("k") % 3 === 0, timestamp = 1000L)
    DeltaFormatWriter.convert(spark, dvPath, checkpointAt = _ => false)
    val log = new GraftLog(dvPath, conf)
    assert(log.deltaMode)
    assert(log.snapshot(None).files.forall(_.deletionVector.isDefined))
    val rows = spark.read.format("graft").option("path", dvPath).load()
      .select("k").as[Long].collect().toSet
    assert(rows === (0 until 30).map(_.toLong).filter(_ % 3 != 0).toSet)

    val cmPath = s"$root/cm"
    TableBuilder.createColumnMapped(spark, df, cmPath, name = "cm_delta")
    DeltaFormatWriter.convert(spark, cmPath, checkpointAt = _ => false)
    val cmLog = new GraftLog(cmPath, conf)
    assert(cmLog.deltaMode)
    assert(ColumnMapping.isEnabled(cmLog.snapshot(None).metadata))
    val cmRows = spark.read.format("graft").option("path", cmPath).load()
      .select("k").as[Long].collect().toSet
    assert(cmRows === (0 until 30).map(_.toLong).toSet)
  }

  test("golden lines from a real Delta writer parse correctly") {
    // shapes a real writer produces: typed stats values, percent-encoded
    // path, JSON-null partition value, ICT commitInfo, unknown fields
    val add = DeltaLogCompat.actionFromNode(JsonUtils.mapper.readTree(
      """{"add":{"path":"p%201=a%20b/part-00000-abc.snappy.parquet",
        |"partitionValues":{"p 1":null},"size":1234,
        |"modificationTime":1587968586000,"dataChange":true,
        |"stats":"{\"numRecords\":3,\"minValues\":{\"x\":1,\"s\":\"aa\",\"nested\":{\"y\":2}},
        |\"maxValues\":{\"x\":10.5,\"s\":\"zz\"},\"nullCount\":{\"x\":0,\"s\":1}}",
        |"tags":{"INSERTION_TIME":"1"}}}""".stripMargin.replace("\n", "")),
      7L, 42L).get.asInstanceOf[AddFile]
    assert(add.path === "p 1=a b/part-00000-abc.snappy.parquet")
    assert(add.partitionValues === Map("p 1" -> ""))
    assert(add.version === 7L && add.timestamp === 42L)
    val st = add.stats.get
    assert(st.numRecords === 3L)
    assert(st.minValues === Map("x" -> "1", "s" -> "aa")) // nested skipped
    assert(st.maxValues("x") === "10.5")
    assert(st.nullCount === Map("x" -> 0L, "s" -> 1L))

    val remove = DeltaLogCompat.actionFromNode(JsonUtils.mapper.readTree(
      """{"remove":{"path":"part-1.parquet","deletionTimestamp":1,
        |"dataChange":true,"extendedFileMetadata":true,"partitionValues":{},
        |"size":9}}""".stripMargin.replace("\n", "")), 2L, 5L).get
    assert(remove === RemoveFile("part-1.parquet", Map.empty, 9L, true, 2L, 5L))

    val meta = DeltaLogCompat.actionFromNode(JsonUtils.mapper.readTree(
      """{"metaData":{"id":"u-1","format":{"provider":"parquet","options":{}},
        |"schemaString":"{\"type\":\"struct\",\"fields\":[]}",
        |"partitionColumns":["p"],"configuration":{"delta.enableChangeDataFeed":"true"},
        |"createdTime":1}}""".stripMargin.replace("\n", "")), 0L, 0L)
      .get.asInstanceOf[Metadata]
    assert(meta.partitionColumns === Seq("p"))
    assert(GraftCDF.isEnabled(meta))

    // commitInfo / domainMetadata are metadata-free: no action
    assert(DeltaLogCompat.actionFromNode(
      JsonUtils.mapper.readTree("""{"commitInfo":{"timestamp":5}}"""), 0, 0).isEmpty)
    // txn maps to the streaming watermark action (delta spells it `version`)
    assert(DeltaLogCompat.actionFromNode(
      JsonUtils.mapper.readTree("""{"txn":{"appId":"a","version":1}}"""), 7, 0)
      === Some(Txn("a", 1L, 0L, 7L)))

    // DV descriptor fields map 1:1
    val dvAdd = DeltaLogCompat.actionFromNode(JsonUtils.mapper.readTree(
      """{"add":{"path":"f.parquet","partitionValues":{},"size":1,
        |"modificationTime":1,"dataChange":true,"deletionVector":{
        |"storageType":"u","pathOrInlineDv":"ab^-aqEH.-t@S}K{vb[*k^",
        |"offset":4,"sizeInBytes":40,"cardinality":6}}}"""
        .stripMargin.replace("\n", "")), 1, 1).get.asInstanceOf[AddFile]
    assert(dvAdd.deletionVector ===
      Some(DeletionVectorDescriptor("u", "ab^-aqEH.-t@S}K{vb[*k^", Some(4), 40, 6L)))
  }

  test("v2 sidecar checkpoint (parquet top-level) replays identically; adds come from sidecars") {
    import spark.implicits._
    val path = s"$root/t_v2"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 20).map(i => (i.toLong, s"r$i")).toDF("id", "v").repartition(2),
      path, name = "v2_fixture",
      configuration = Map("enableChangeDataFeed" -> "true"))
    (1 to 3).foreach { k =>
      TableBuilder.append(spark,
        (0 until 10).map(i => ((k * 100 + i).toLong, s"r$k$i")).toDF("id", "v"),
        path, timestamp = k * 1000L)
    }
    TableBuilder.deleteWhere(spark, path, col("id") >= 300, timestamp = 4000L)
    DeltaFormatWriter.convert(spark, path, checkpointAt = _ => false)

    // full-replay truth BEFORE any checkpoint exists
    val expected = spark.read.format("graft").option("path", path).load()
      .select("id", "v").as[(Long, String)].collect().toSet

    // v2 checkpoint at version 3 with TWO sidecar files + feature-gated protocol
    val proto = JsonUtils.mapper.createObjectNode()
    proto.put("minReaderVersion", 3).put("minWriterVersion", 7)
    val feats = JsonUtils.mapper.createArrayNode(); feats.add("v2Checkpoint")
    proto.set[com.fasterxml.jackson.databind.JsonNode]("readerFeatures", feats)
    proto.set[com.fasterxml.jackson.databind.JsonNode](
      "writerFeatures", feats.deepCopy[com.fasterxml.jackson.databind.JsonNode]())
    DeltaLogCompat.writeCheckpointV2(conf, path, 3L, proto, sidecarParts = 2)

    val logDir = new java.io.File(path, "_delta_log")
    assert(logDir.listFiles().exists(f =>
      f.getName.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.parquet")))
    assert(new java.io.File(logDir, "_sidecars").listFiles().count(
      _.getName.endsWith(".parquet")) === 2)

    val log = new GraftLog(path, conf)
    val cp = log.checkpointAtOrBefore(Long.MaxValue)
    assert(cp.map(_.version) === Some(3L), "v2 checkpoint discovered and loaded")
    assert(log.snapshot(None).protocol.features === Seq("v2Checkpoint"))
    val got = spark.read.format("graft").option("path", path).load()
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got === expected)

    // adds really come from the sidecars: replay works without commits <= 3
    // (checkpoint state + the remaining tail commit reproduce the content)
    (0 to 3).foreach(v => new java.io.File(logDir, f"$v%020d.json").delete())
    GraftLog.invalidateListing(path)
    val got2 = spark.read.format("graft").option("path", path).load()
      .select("id", "v").as[(Long, String)].collect().toSet
    assert(got2 === expected)
  }

  test("v2 checkpoint with a JSON top-level file reads through the same path") {
    import spark.implicits._
    val path = s"$root/t_v2j"
    GraftLog.invalidateListing(path)
    TableBuilder.create(spark,
      (0 until 15).map(i => (i.toLong, s"j$i")).toDF("id", "v").repartition(2),
      path, name = "v2_json_fixture")
    TableBuilder.append(spark,
      (100 until 110).map(i => (i.toLong, s"j$i")).toDF("id", "v"),
      path, timestamp = 1000L)
    DeltaFormatWriter.convert(spark, path, checkpointAt = _ => false)
    val expected = spark.read.format("graft").option("path", path).load()
      .select("id").as[Long].collect().toSet

    val proto = DeltaLogCompat.protocolNodeFor(usesDv = false, usesCm = false)
    DeltaLogCompat.writeCheckpointV2(conf, path, 1L, proto, sidecarParts = 1)
    val logDir = new java.io.File(path, "_delta_log")
    val topParquet = logDir.listFiles().find(f =>
      f.getName.matches("\\d{20}\\.checkpoint\\.[0-9a-f-]{36}\\.parquet")).get
    val sidecar = new java.io.File(logDir, "_sidecars").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    // swap the parquet top-level for an NDJSON one referencing the same sidecar
    val commitLines = java.nio.file.Files.readAllLines(
      new java.io.File(logDir, f"${0L}%020d.json").toPath)
    val protoLine = """{"protocol":""" + JsonUtils.toJson(proto) + "}"
    val metaLine = commitLines.toArray.map(_.toString).find(_.contains("\"metaData\"")).get
    val sidecarLine = s"""{"sidecar":{"path":"${sidecar.getName}","sizeInBytes":${sidecar.length},"modificationTime":0}}"""
    java.nio.file.Files.write(
      new java.io.File(logDir, topParquet.getName.stripSuffix("parquet") + "json").toPath,
      Seq(protoLine, metaLine, sidecarLine).mkString("", "\n", "\n").getBytes("UTF-8"))
    assert(topParquet.delete())
    GraftLog.invalidateListing(path)

    val log = new GraftLog(path, conf)
    assert(log.checkpointAtOrBefore(Long.MaxValue).map(_.version) === Some(1L))
    val got = spark.read.format("graft").option("path", path).load()
      .select("id").as[Long].collect().toSet
    assert(got === expected)
  }

  test("in-commit timestamps override mtimes for history on ICT tables") {
    val path = s"$root/ict"
    val dir = new java.io.File(path, "_delta_log")
    dir.mkdirs()
    def commit(v: Long, ict: Long, extra: Seq[String]): Unit = {
      val lines = s"""{"commitInfo":{"timestamp":$ict,"inCommitTimestamp":$ict}}""" +: extra
      java.nio.file.Files.write(
        new java.io.File(dir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val meta =
      """{"metaData":{"id":"ict-test","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
        """"partitionColumns":[],"configuration":{"delta.enableInCommitTimestamps":"true"},"createdTime":1}}"""
    commit(0L, 100000L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["inCommitTimestamp"]}}""",
      meta))
    commit(1L, 200000L, Seq(
      """{"add":{"path":"a.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    commit(2L, 300000L, Seq(
      """{"add":{"path":"b.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // file mtimes (now) are wildly different from the ICT values — ICT wins
    val log = new GraftLog(path, conf)
    assert(log.deltaMode)
    assert(log.versionTimestamps() === Seq((0L, 100000L), (1L, 200000L), (2L, 300000L)))
    assert(log.versionAtOrBefore(250000L) === 1L)
    assert(log.versionAtOrAfter(100001L) === 1L)
    // actions are stamped with ICT-derived commit timestamps too
    assert(log.readVersion(2L).collect { case a: AddFile => a.timestamp } === Seq(300000L))
  }

  test("typeWidening: narrow physical files read through the widened schema") {
    val path = s"$root/widen"
    val dir = new java.io.File(path, "_delta_log")
    dir.mkdirs()
    // file written while the column was INT, kept verbatim after widening
    def dataFile(name: String, wide: Boolean): Long = {
      val tmp = s"$root/widen_tmp"
      val df =
        if (wide) spark.range(100, 103).selectExpr("id a")
        else spark.range(0, 3).selectExpr("cast(id as int) a")
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(path, name)
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.length()
    }
    val szInt = dataFile("f0.parquet", wide = false)
    val szLong = dataFile("f1.parquet", wide = true)
    def schemaJson(tpe: String, meta: String): String =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[{\\"name\\":\\"a\\",\\"type\\":\\"$tpe\\",\\"nullable\\":true,\\"metadata\\":$meta}]}"""
    def metaAction(tpe: String, meta: String): String =
      s"""{"metaData":{"id":"widen-test","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"${schemaJson(tpe, meta)}","partitionColumns":[],"configuration":{},"createdTime":1}}"""
    def write(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(new java.io.File(dir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    write(0L, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""",
      metaAction("integer", "{}"),
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":$szInt,"modificationTime":1,"dataChange":true}}"""))
    // widen int -> long, recording the change the way delta-spark does
    write(1L, Seq(metaAction("long",
      """{\"delta.typeChanges\":[{\"fromType\":\"integer\",\"toType\":\"long\"}]}""")))
    write(2L, Seq(
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":$szLong,"modificationTime":2,"dataChange":true}}"""))
    val df = spark.read.format("graft").option("path", path).load()
    assert(df.schema("a").dataType === org.apache.spark.sql.types.LongType)
    import spark.implicits._
    assert(df.as[Long].collect().sorted === Array(0L, 1L, 2L, 100L, 101L, 102L))
    // filters over the widened column work across both physical types
    assert(df.where(col("a") >= 2).as[Long].collect().sorted === Array(2L, 100L, 101L, 102L))
    // time travel to before the widen serves the narrow schema
    val v0 = spark.read.format("graft").option("path", path)
      .option("versionAsOf", "0").load()
    assert(v0.schema("a").dataType === org.apache.spark.sql.types.IntegerType)
    assert(v0.as[Int].collect().sorted === Array(0, 1, 2))
  }

  test("column mapping ID mode: columns match by parquet field id, not name") {
    import org.apache.spark.sql.types._
    val path = s"$root/cm_id"
    val dir = new java.io.File(path, "_delta_log")
    dir.mkdirs()
    // UniForm/Iceberg-style fixture: the FILE's column names ("legacy_a",
    // "legacy_b") match neither the logical names ("a", "b") nor the
    // Delta physical names ("col-phys-a", ...) — only the parquet field
    // ids (1, 2) connect them. Spark stamps ids into the file because
    // the write schema carries parquet.field.id.
    val writeSchema = StructType(Seq(
      StructField("legacy_a", LongType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 1L).build()),
      StructField("legacy_b", StringType, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", 2L).build())))
    val rows = spark.sparkContext.parallelize(
      (0 until 4).map(i => org.apache.spark.sql.Row(i.toLong, s"s$i")), 1)
    spark.createDataFrame(rows, writeSchema)
      .write.mode("overwrite").parquet(s"$root/cm_id_tmp")
    val part = new java.io.File(s"$root/cm_id_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(path, "f0.parquet")
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    def fld(name: String, tpe: String, id: Int): String =
      s"""{\\"name\\":\\"$name\\",\\"type\\":\\"$tpe\\",\\"nullable\\":true,\\"metadata\\":{""" +
        s"""\\"delta.columnMapping.id\\":$id,\\"delta.columnMapping.physicalName\\":\\"col-phys-$name\\"}}"""
    val schemaJson =
      s"""{\\"type\\":\\"struct\\",\\"fields\\":[${fld("a", "long", 1)},${fld("b", "string", 2)}]}"""
    val lines = Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm-id-test","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"},"createdTime":1}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${dst.length()},"modificationTime":1,"dataChange":true}}""")
    java.nio.file.Files.write(new java.io.File(dir, f"${0L}%020d.json").toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    import spark.implicits._
    val df = spark.read.format("graft").option("path", path).load()
    assert(df.columns.toSeq === Seq("a", "b"))
    assert(df.as[(Long, String)].collect().sortBy(_._1) ===
      (0 until 4).map(i => (i.toLong, s"s$i")))
    // filters over logical names still reach the scan
    assert(df.where(col("a") >= 2).count() === 2L)
  }

  test("column mapping ID mode serves over REST through the delta dialect") {
    import spark.implicits._
    val path = s"$root/cm_id" // fixture built by the previous test
    graft.log.GraftCatalog.register("share1.default.cm_id", path)
    val server = new graft.server.GraftServer(
      graft.server.ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
    try {
      val df = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.cm_id").load()
      assert(df.columns.toSeq === Seq("a", "b"))
      assert(df.as[(Long, String)].collect().sortBy(_._1) ===
        (0 until 4).map(i => (i.toLong, s"s$i")))
    } finally {
      server.stop()
      graft.log.GraftCatalog.unregister("share1.default.cm_id")
    }
  }

  test("variantType: variant columns decode natively through the graft reader") {
    val path = s"$root/variant"
    val dir = new java.io.File(path, "_delta_log")
    dir.mkdirs()
    // data file with a genuine VARIANT column (Spark 4.1 parquet type)
    spark.sql(
      """select id, parse_json(concat('{"a":', id, ',"b":"x"}')) v from range(3)""")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/variant_tmp")
    val part = new java.io.File(s"$root/variant_tmp").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(path, "f0.parquet")
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    val schemaJson =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"v\",\"type\":\"variant\",\"nullable\":true,\"metadata\":{}}]}"""
    val lines = Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType"],"writerFeatures":["variantType"]}}""",
      s"""{"metaData":{"id":"variant-test","format":{"provider":"parquet","options":{}},"schemaString":"$schemaJson","partitionColumns":[],"configuration":{},"createdTime":1}}""",
      s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${dst.length()},"modificationTime":1,"dataChange":true}}""")
    java.nio.file.Files.write(new java.io.File(dir, f"${0L}%020d.json").toPath,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    val df = spark.read.format("graft").option("path", path).load()
    assert(df.schema("v").dataType ===
      org.apache.spark.sql.types.VariantType)
    import spark.implicits._
    assert(df.selectExpr("variant_get(v, '$.a', 'long')").as[Long]
      .collect().sorted === Array(0L, 1L, 2L))
    assert(df.selectExpr("to_json(v)").as[String].collect().toSet ===
      (0 until 3).map(i => s"""{"a":$i,"b":"x"}""").toSet)
    // filters over extracted variant fields work (no pushdown claimed)
    assert(df.where(expr("variant_get(v, '$.a', 'long') >= 1")).count() === 2L)
  }

  test("unsupported reader features refuse at snapshot load, supported ones pass") {
    // A real Delta table gated on a feature we don't decode must fail
    // loudly rather than serve mis-decoded rows.
    def writeLog(path: String, protocolLine: String): Unit = {
      val dir = new java.io.File(path, "_delta_log")
      dir.mkdirs()
      val lines = Seq(
        protocolLine,
        """{"metaData":{"id":"gate-test","format":{"provider":"parquet","options":{}},""" +
          """"schemaString":"{\"type\":\"struct\",\"fields\":[]}",""" +
          """"partitionColumns":[],"configuration":{},"createdTime":1}}""")
      java.nio.file.Files.write(
        new java.io.File(dir, f"${0L}%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val bad = s"$root/gate_bad"
    writeLog(bad,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","variantShredding-preview"]}}""")
    val e = intercept[IllegalArgumentException] {
      new GraftLog(bad, conf).snapshot(None)
    }
    assert(e.getMessage.contains("variantShredding-preview"))
    assert(!e.getMessage.contains("deletionVectors"), "supported features not blamed")

    val tooNew = s"$root/gate_ver"
    writeLog(tooNew, """{"protocol":{"minReaderVersion":9,"minWriterVersion":9}}""")
    assert(intercept[IllegalArgumentException] {
      new GraftLog(tooNew, conf).snapshot(None)
    }.getMessage.contains("minReaderVersion"))

    val ok = s"$root/gate_ok"
    writeLog(ok,
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","columnMapping","timestampNtz"]}}""")
    assert(new GraftLog(ok, conf).snapshot(None).files.isEmpty) // loads fine
  }

  test("streaming (snapshot-then-tail + CDF stream) works over the Delta log") {
    import spark.implicits._
    val path = s"$root/t1"
    // batch stream: snapshot + per-version tail, Trigger.AvailableNow
    val sink = "delta_stream_sink"
    spark.catalog.dropTempView(sink)
    val q = spark.readStream.format("graft").option("path", path).load()
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(sink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table(sink).as[Long].head() === 40L)

    // CDF stream: change feed consumed as a stream, final state = batch CDF
    val cdfSink = "delta_cdf_stream_sink"
    spark.catalog.dropTempView(cdfSink)
    val q2 = spark.readStream.format("graft").option("path", path)
      .option("readChangeFeed", "true").option("startingVersion", "4").load()
      .groupBy(col(GraftCDF.CHANGE_TYPE)).agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete").format("memory").queryName(cdfSink)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination(60000)
    val got = spark.table(cdfSink).as[(String, Long)].collect().toMap
    assert(got === Map("delete" -> 10L, "update_preimage" -> 1L, "update_postimage" -> 1L))
  }

  test("the DSv2 kernel columnar scan serves Delta-format tables") {
    import spark.implicits._
    val path = s"$root/t1"
    val df = spark.read.format("graft-kernel").option("path", path).load()
      .filter(col("id") >= 100)
    assert(df.as[(Long, String)].collect().map(_._1).toSet ===
      (1 to 2).flatMap(k => (0 until 10).map(i => (k * 100 + i).toLong)).toSet)
  }

  test("the writer surface commits Delta format on Delta-format tables") {
    import spark.implicits._
    val path = s"$root/t1"
    val v = TableBuilder.append(spark, Seq((999L, "x")).toDF("id", "v"), path,
      timestamp = 9000L)
    // the new commit is a genuine Delta JSON commit: commitInfo first,
    // then the add with a percent-encodable relative path
    val lines = java.nio.file.Files.readAllLines(
      new java.io.File(path, f"_delta_log/$v%020d.json").toPath)
    assert(lines.get(0).contains("\"commitInfo\""))
    assert(lines.asScala.exists(_.contains("\"add\"")))
    assert(spark.read.format("graft").option("path", path).load()
      .filter(col("id") === 999).count() === 1L)
  }

  test("corrupt checkpoint degrades to full replay, never a wrong answer") {
    val path = s"$root/t3"
    buildAndConvert(path, parts = 1)
    val cpFile = new java.io.File(path, f"_delta_log/${3}%020d.checkpoint.parquet")
    java.nio.file.Files.write(cpFile.toPath, Array[Byte](0, 1, 2, 3))
    GraftLog.invalidateListing(path)
    val log = new GraftLog(path, conf)
    assert(log.checkpointAtOrBefore(Long.MaxValue).isEmpty)
    assert(spark.read.format("graft").option("path", path).load().count() === 40L)
  }
}
