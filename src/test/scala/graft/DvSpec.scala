package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._
import graft.model._
import graft.server._
import graft.server.wire._

/** Deletion vectors + column mapping: bitmap codec conformance, the
  * local read path (DV filter, physical→logical rename), writer-side DV
  * commits, advanced-feature guards, and delta-dialect serving with a
  * fetchable pre-signed DV file.
  */
class DvSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = {
    // this suite's catalog entries must not leak into other suites'
    // share listings (GraftCatalog is process-wide)
    Seq("dvreal", "dv_remote", "cm_remote", "dvcdf_remote").foreach(t =>
      GraftCatalog.unregister(s"share1.default.$t"))
    spark.stop()
  }

  private def tempTable(): String =
    java.nio.file.Files.createTempDirectory("graft_dv_spec").toString

  private def readGraft(dir: String) =
    spark.read.format("graft").option("path", dir).load()

  // ------------------------------------------------------------ codec

  test("roaring bitmap array round-trips across container types and 32-bit buckets") {
    val sparse = Seq(1L, 5L, 100L, 65535L, 65536L, 1000000L)
    val dense = (100000L until 110000L).toSeq // >4096 in one container → bitset
    val highBucket = Seq((1L << 32) + 7L, (1L << 32) + 8L, (5L << 32) + 123L)
    val all = sparse ++ dense ++ highBucket
    val bm = RoaringBitmapArray(all)
    assert(bm.cardinality === all.distinct.size)
    val back = RoaringBitmapArray.deserialize(bm.serialize())
    assert(back.cardinality === bm.cardinality)
    all.foreach(v => assert(back.contains(v), s"missing $v"))
    Seq(0L, 2L, 99999L, 110000L, (2L << 32) + 7L).foreach(v =>
      assert(!back.contains(v), s"phantom $v"))
    assert(back.toSeq === all.distinct.sorted)
  }

  test("run-container decode (hand-crafted RoaringFormatSpec bytes)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // one 32-bit bitmap, one run container: values 5..8
    val bitmap = ByteBuffer.allocate(4 + 1 + 4 + 6).order(ByteOrder.LITTLE_ENDIAN)
    bitmap.putInt(12347 | ((1 - 1) << 16)) // SERIAL_COOKIE, 1 container
    bitmap.put(1.toByte)                   // run-flag bitset: container 0 is a run
    bitmap.putShort(0)                     // key
    bitmap.putShort(3)                     // cardinality-1
    bitmap.putShort(1)                     // nRuns
    bitmap.putShort(5)                     // run start
    bitmap.putShort(3)                     // run length-1
    val portable = ByteBuffer.allocate(12 + 4 + bitmap.capacity())
      .order(ByteOrder.LITTLE_ENDIAN)
    portable.putInt(RoaringBitmapArray.MAGIC)
    portable.putLong(1L)
    portable.putInt(0) // high-32 key
    portable.put(bitmap.array())
    val bm = RoaringBitmapArray.deserialize(portable.array())
    assert(bm.toSeq === Seq(5L, 6L, 7L, 8L))
    assert(bm.contains(5L) && bm.contains(8L) && !bm.contains(4L) && !bm.contains(9L))
    // re-serializing a run-container bitmap exercises the writer's run
    // branch (cookie 12347 + run-flag bitset) and must round-trip
    val again = RoaringBitmapArray.deserialize(bm.serialize())
    assert(again.toSeq === Seq(5L, 6L, 7L, 8L))
  }

  test("z85 matches the published ZeroMQ spec test vector") {
    // rfc.zeromq.org/spec/32: 0x86 0x4F 0xD2 0x6F 0xB5 0x59 0xF7 0x5B
    // encodes to "HelloWorld"
    val bytes = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(Z85.encode(bytes) === "HelloWorld")
    assert(Z85.decode("HelloWorld").toSeq === bytes.toSeq)
  }

  test("bitmap codec round-trips arbitrary sets (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val genSet: Gen[List[Long]] = Gen.listOf(Gen.oneOf(
      Gen.chooseNum(0L, 1000L),                      // dense low values
      Gen.chooseNum(0L, (1L << 40) - 1),             // multi-bucket spread
      Gen.chooseNum(60000L, 70000L)))                // container boundary
    (1 to 200).foreach { i =>
      val vs = genSet(Gen.Parameters.default, Seed(i.toLong)).getOrElse(Nil)
      val bm = RoaringBitmapArray(vs)
      val back = RoaringBitmapArray.deserialize(bm.serialize())
      assert(back.toSeq === vs.distinct.sorted, s"seed $i")
      assert(back.cardinality === vs.distinct.size, s"seed $i")
      vs.foreach(v => assert(back.contains(v), s"seed $i missing $v"))
      // z85 inline round-trip with padding
      val inline = RoaringBitmapArray.deserialize(Z85.decode(Z85.encode(bm.serialize())))
      assert(inline.toSeq === vs.distinct.sorted, s"seed $i inline")
    }
  }

  test("z85 codec round-trips; DV blob framing detects corruption") {
    val uuid = java.util.UUID.fromString("12345678-9abc-def0-1234-56789abcdef0")
    assert(Z85.decodeUuid(Z85.encodeUuid(uuid)) === uuid)
    val data = Array.tabulate(37)(_.toByte) // odd length → padded
    val enc = Z85.encode(data)
    assert(Z85.decode(enc).take(37).toSeq === data.toSeq)

    val framed = RoaringBitmapArray.frameBlob(data)
    assert(RoaringBitmapArray.unframeBlob(framed, 0).toSeq === data.toSeq)
    framed(6) = (framed(6) ^ 0x40).toByte // flip a data bit
    val e = intercept[IllegalArgumentException](RoaringBitmapArray.unframeBlob(framed, 0))
    assert(e.getMessage.contains("checksum"))
  }

  test("DV probe tolerates path spellings beyond the registered set") {
    // registration covers the LISTED path's spellings; the runtime
    // `_metadata.file_path` may still diverge (different qualification,
    // percent-encoding). A miss would fail OPEN, so the probe must
    // normalize its own spelling before concluding "no DV".
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val bm = RoaringBitmapArray(Seq(3L, 7L))
    val listed = new org.apache.hadoop.fs.Path("file:/tmp/graft dv/part-0.parquet")
    val byPath = graft.sources.ScanCore.bySpelling(Seq(listed -> bm.serialize()))
    val bcast = spark.sparkContext.broadcast(byPath)
    val expr = graft.functions.DvRowDeleted(
      BoundReference(0, StringType, nullable = false),
      BoundReference(1, LongType, nullable = false), bcast)
    def probe(p: String, i: Long): Boolean =
      expr.deleted(UTF8String.fromString(p), i)
    // exact registered spellings
    assert(probe("file:/tmp/graft dv/part-0.parquet", 3L))
    assert(probe("/tmp/graft dv/part-0.parquet", 7L))
    assert(!probe("/tmp/graft dv/part-0.parquet", 4L))
    // divergent spellings: percent-encoded URI form, scheme variation
    assert(probe("file:/tmp/graft%20dv/part-0.parquet", 3L))
    assert(probe("file:///tmp/graft%20dv/part-0.parquet", 7L))
    // genuinely different file still resolves to "no DV"
    assert(!probe("file:/tmp/graft dv/part-1.parquet", 3L))
    assert(Literal(true).dataType === expr.dataType) // boolean filter shape
  }

  // ---------------------------------------------------- local read path

  test("DV delete: rows vanish, time travel intact, second delete merges") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.create(spark,
      (1 to 100).map(i => (i.toLong, s"row$i")).toDF("id", "v"), dir, numFiles = 3)
    TableBuilder.deleteWhereDV(spark, dir, col("id") % 10 === 0)

    val afterFirst = readGraft(dir).select("id").as[Long].collect().sorted
    assert(afterFirst === (1L to 100L).filterNot(_ % 10 == 0).toArray)

    // the data files were NOT rewritten — same physical paths as v0
    val log = new GraftLog(dir, spark.sessionState.newHadoopConf())
    assert(log.snapshot(Some(1L)).files.map(_.path).toSet ===
      log.snapshot(Some(0L)).files.map(_.path).toSet)
    assert(log.snapshot(None).files.forall(_.deletionVector.isDefined))

    // time travel reads through the pre-DV snapshot
    val v0 = spark.read.format("graft").option("path", dir)
      .option("versionAsOf", "0").load().count()
    assert(v0 === 100L)

    // second delete merges with the existing DVs
    TableBuilder.deleteWhereDV(spark, dir, col("id") <= 5)
    val afterSecond = readGraft(dir).select("id").as[Long].collect().sorted
    assert(afterSecond === (6L to 100L).filterNot(_ % 10 == 0).toArray)
    // filters compose on top of the DV filter: 91..100 minus deleted 100
    assert(readGraft(dir).filter(col("id") > 90).count() === 9L)
  }

  test("DV construction is executor-side: one KB blob row per affected file") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.create(spark,
      (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v"), dir, numFiles = 4)
    val log = new GraftLog(dir, spark.sessionState.newHadoopConf())
    // a BROAD delete (60% of rows): what the driver collects must scale
    // with file count, not deleted-row count
    val blobs = TableBuilder.dvBlobs(spark, dir, log.snapshot(None), col("id") <= 600)
    // plan shape: the collect boundary sits ABOVE a per-file aggregate —
    // row-level (__ri) traffic ends at the partial aggregation
    val planStr = blobs.queryExecution.executedPlan.toString
    assert(planStr.contains("collect_list") || planStr.contains("ObjectHashAggregate")
      || planStr.contains("SortAggregate"),
      s"expected a per-file aggregate in the plan:\n$planStr")
    val rows = blobs.collect()
    assert(rows.length === log.snapshot(None).files.length) // 4 files, all affected
    assert(rows.map(_.getLong(2)).sum === 600L, "cardinalities cover every deleted row")
    rows.foreach { r =>
      val bm = graft.model.RoaringBitmapArray.deserialize(r.getAs[Array[Byte]](1))
      assert(bm.cardinality === r.getLong(2))
      assert(r.getAs[Array[Byte]](1).length < 64 * 1024, "KB-scale blob per file")
    }
    // end-to-end on the same table
    TableBuilder.deleteWhereDV(spark, dir, col("id") <= 600)
    assert(readGraft(dir).select("id").as[Long].collect().sorted === (601L to 1000L).toArray)
  }

  test("inline DV descriptor filters rows") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.create(spark,
      (0 to 9).map(i => (i.toLong, s"x$i")).toDF("id", "v"), dir, numFiles = 1)
    val conf = spark.sessionState.newHadoopConf()
    val log = new GraftLog(dir, conf)
    val f = log.snapshot(None).files.head
    val dv = DeletionVectors.inlineDescriptor(Seq(0L, 3L, 7L))
    GraftLog.commit(dir, 1L, Seq(
      log.snapshot(None).metadata.copy(
        configuration = Map("delta.enableDeletionVectors" -> "true"), version = 1L),
      RemoveFile(f.path, f.partitionValues, f.size, dataChange = true, version = 1L),
      f.copy(deletionVector = Some(dv), version = 1L)), conf)
    val ids = readGraft(dir).select("id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 4L, 5L, 6L, 8L, 9L))
  }

  test("column mapping: logical names over physical files, partitioned") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.createColumnMapped(spark,
      (1 to 40).map(i => (i.toLong, s"n$i", s"g${i % 4}")).toDF("id", "name", "grp"),
      dir, partitionCols = Seq("grp"))

    // partition directories use physical names
    val dirs = new java.io.File(dir).list().toSeq
    assert(dirs.exists(_.startsWith("col-")), s"physical partition dirs expected, got $dirs")

    val df = readGraft(dir)
    assert(df.columns.toSeq === Seq("id", "name", "grp"))
    assert(df.count() === 40L)
    assert(df.filter(col("grp") === "g1").count() === 10L)
    assert(df.filter(col("id") === 7L).select("name").as[String].head() === "n7")
    // aggregation over a logical column
    assert(df.groupBy(col("grp")).count().collect().map(_.getLong(1)).sum === 40L)
  }

  test("column mapping + deletion vectors compose") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.createColumnMapped(spark,
      (1 to 30).map(i => (i.toLong, i * 2L)).toDF("id", "double_id"), dir)
    TableBuilder.deleteWhereDV(spark, dir, col("double_id") > 40L)
    val out = readGraft(dir).select("id").as[Long].collect().sorted
    assert(out === (1L to 20L).toArray)
  }

  test("streaming refuses DV tables loudly; CDF derives DV row changes") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.create(spark, (1 to 4).map(i => (i.toLong, s"r$i")).toDF("id", "v"), dir,
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.deleteWhereDV(spark, dir, col("id") === 1L)

    val q = spark.readStream.format("graft").option("path", dir).load()
      .writeStream.format("memory").queryName("dv_guard_sink")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination(60000) catch { case _: Exception => () }
    val failure = q.exception
    assert(failure.isDefined &&
      String.valueOf(failure.get.getMessage).contains("advanced reader features"))

    // CDF reads DV commits as row-level deletes (delta CDCReader semantics)
    val cdf = GraftCDF.tableChanges(spark, dir, 0L)
      .select("id", GraftCDF.CHANGE_TYPE).as[(Long, String)].collect().toSet
    assert(cdf === Set((1L, "insert"), (2L, "insert"), (3L, "insert"),
      (4L, "insert"), (1L, "delete")))
  }

  // ------------------------------------------------------------- server

  test("delta dialect serves DV descriptors with a fetchable pre-signed DV file") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.create(spark,
      (0 to 19).map(i => (i.toLong, s"r$i")).toDF("id", "v"), dir, numFiles = 1)
    TableBuilder.deleteWhereDV(spark, dir, col("id") >= 15L)
    GraftCatalog.register("share1.default.dvreal", dir)

    val server = new GraftServer(ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
    try {
      val http = HttpClient.newHttpClient()
      val r = http.send(HttpRequest.newBuilder(URI.create(
        s"${server.url}/shares/share1/schemas/default/tables/dvreal/query"))
        .header("Authorization", "Bearer tkn")
        .header("delta-sharing-capabilities",
          "responseformat=delta;readerfeatures=deletionvectors")
        .POST(HttpRequest.BodyPublishers.ofString("{}")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      val lines = r.body().split("\n").filter(_.nonEmpty)
        .map(JsonUtils.fromJson[DeltaLine](_))
      val file = lines.flatMap(l => Option(l.file)).head
      assert(file.deletionVectorFileId != null)
      val dv = file.deltaSingleAction.add.deletionVector
      assert(dv != null && dv.storageType === "p")
      assert(dv.cardinality === 5L)
      assert(dv.pathOrInlineDv.startsWith("http://"))

      // the pre-signed DV URL serves the real DV file: unframe at the
      // descriptor offset and recover exactly the deleted row indexes
      val bytes = http.send(HttpRequest.newBuilder(URI.create(dv.pathOrInlineDv))
        .GET().build(), HttpResponse.BodyHandlers.ofByteArray())
      assert(bytes.statusCode() === 200)
      assert(bytes.body()(0) === RoaringBitmapArray.DV_FILE_VERSION)
      val blob = RoaringBitmapArray.unframeBlob(bytes.body(), dv.offset)
      assert(blob.length === dv.sizeInBytes)
      assert(RoaringBitmapArray.deserialize(blob).toSeq === Seq(15L, 16L, 17L, 18L, 19L))

      // parquet-dialect VERSION-RANGE query over DV commits: typed 400,
      // never adds with the descriptor silently dropped. (The /changes
      // endpoint requires CDF; version-range rides POST /query.)
      def rangeQuery(caps: Option[String]) = {
        val b = HttpRequest.newBuilder(URI.create(
          s"${server.url}/shares/share1/schemas/default/tables/dvreal/query"))
          .header("Authorization", "Bearer tkn")
          .POST(HttpRequest.BodyPublishers.ofString("""{"startingVersion": 0}"""))
        caps.foreach(b.header("delta-sharing-capabilities", _))
        http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }
      val parquetRange = rangeQuery(None)
      assert(parquetRange.statusCode() === 400)
      assert(parquetRange.body().contains("UNSUPPORTED_OPERATION"))
      val deltaRange = rangeQuery(
        Some("responseformat=delta;readerfeatures=deletionvectors"))
      assert(deltaRange.statusCode() === 200)
      val rangeAdds = deltaRange.body().split("\n").filter(_.nonEmpty)
        .map(JsonUtils.fromJson[DeltaLine](_))
        .flatMap(l => Option(l.file)).flatMap(f => Option(f.deltaSingleAction.add))
      assert(rangeAdds.exists(_.deletionVector != null))
    } finally server.stop()
  }

  test("remote CDF derives DV-diff changes over the delta dialect " +
    "(batch + streaming)") {
    import spark.implicits._
    val dir = tempTable()
    // v0 create; v1 DV-deletes ids>=15; v2 extends the same files' DVs to
    // ids>=10 (only 10-14 are NEW deletes — a merged-bitmap diff)
    TableBuilder.create(spark,
      (0 to 19).map(i => (i.toLong, s"r$i")).toDF("id", "v"), dir, numFiles = 2,
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.deleteWhereDV(spark, dir, col("id") >= 15L, timestamp = 1000L)
    TableBuilder.deleteWhereDV(spark, dir, col("id") >= 10L, timestamp = 2000L)
    GraftCatalog.register("share1.default.dvcdf_remote", dir)
    val server = new GraftServer(ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
    try {
      def changeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
        df.select(col("id"), col(GraftCDF.CHANGE_TYPE), col(GraftCDF.COMMIT_VERSION))
          .as[(Long, String, Long)].collect().toSet
      val local = changeSet(GraftCDF.tableChanges(spark, dir, 0))
      val remote = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.dvcdf_remote")
        .option("readChangeFeed", "true").option("startingVersion", "0").load()
      assert(changeSet(remote) === local)
      // mid-range start exercises the pre-state snapshot query: only the
      // v2 diff rows (10-14) appear, never the already-deleted 15-19
      val mid = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.dvcdf_remote")
        .option("readChangeFeed", "true").option("startingVersion", "2").load()
      assert(changeSet(mid) ===
        (10L to 14L).map(i => (i, "delete", 2L)).toSet)
      // streaming: one version per micro-batch, same final change set
      val sink = "t_dvcdf_remote_stream"
      val q = spark.readStream.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.dvcdf_remote")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1")
        .option("queryTableVersionIntervalSeconds", "0")
        .load()
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      q.stop()
      assert(changeSet(spark.table(sink)) === local)
    } finally server.stop()
  }

  test("fixed-list GraftFileIndex prunes partitions client-side") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    import org.apache.spark.sql.types._
    import graft.sources.{FixedListing, GraftFileIndex, GraftFileSystem, Layout, ListedFile}
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("grp", StringType)))
    val files = Seq("f1" -> "a", "f2" -> "b", "f3" -> "a").map { case (id, grp) =>
      ListedFile(GraftFileSystem.encodePath(id, 10L), 10L, Map("grp" -> grp))
    }
    val idx = new GraftFileIndex(spark,
      new FixedListing(Layout(schema, Seq("grp"), idMode = false), files))
    val grpAttr = AttributeReference("grp", StringType)()
    val pruned = idx.listFiles(Seq(EqualTo(grpAttr, Literal("a"))), Nil)
    assert(pruned.map(_.files.length).sum === 2)
    val all = idx.listFiles(Nil, Nil)
    assert(all.map(_.files.length).sum === 3)
  }

  test("logical-name hints on a column-mapped table never under-return files") {
    import spark.implicits._
    val dir = tempTable()
    TableBuilder.createColumnMapped(spark,
      (1 to 30).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"),
      dir, partitionCols = Seq("grp"))
    GraftCatalog.register("share1.default.cm_hints", dir)
    val server = new GraftServer(ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
    try {
      val http = HttpClient.newHttpClient()
      def query(body: String): Array[DeltaLine] = {
        val r = http.send(HttpRequest.newBuilder(URI.create(
          s"${server.url}/shares/share1/schemas/default/tables/cm_hints/query"))
          .header("Authorization", "Bearer tkn")
          .header("delta-sharing-capabilities",
            "responseformat=delta;readerfeatures=columnmapping")
          .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
          HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() === 200)
        r.body().split("\n").filter(_.nonEmpty).map(JsonUtils.fromJson[DeltaLine](_))
      }
      def partValues(lines: Array[DeltaLine]): Seq[String] =
        lines.filter(_.file != null)
          .map(_.file.deltaSingleAction.add.partitionValues.values.head).toSeq
      val all = query("{}")
      assert(partValues(all).distinct.sorted === Seq("g0", "g1", "g2"))
      // a LOGICAL-name partition hint must keep the matching physical
      // partition (the regression: physical-keyed partitionValues made
      // every hinted file resolve to "all null" and get skipped)
      val hinted = query(
        """{"jsonPredicateHints": "{\"op\":\"equal\",\"children\":[
          |{\"op\":\"column\",\"name\":\"grp\",\"valueType\":\"string\"},
          |{\"op\":\"literal\",\"value\":\"g1\",\"valueType\":\"string\"}]}"}"""
          .stripMargin.replace("\n", ""))
      val hintedVals = partValues(hinted)
      assert(hintedVals.nonEmpty && hintedVals.distinct === Seq("g1"))
      // …and the served partitionValues keep their physical keys
      assert(hinted.filter(_.file != null).head
        .file.deltaSingleAction.add.partitionValues.keys.head.startsWith("col-"))
    } finally {
      server.stop()
      GraftCatalog.unregister("share1.default.cm_hints")
    }
  }

  test("deleteWhere/updateWhere apply DVs on DV tables and rewrite column-mapped tables") {
    import spark.implicits._
    // a rewrite on a DV table must NOT resurrect DV-deleted rows: the
    // bitmaps are applied scan-side and the rewritten files drop them
    val dvDir = tempTable()
    TableBuilder.create(spark, (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), dvDir)
    TableBuilder.deleteWhereDV(spark, dvDir, col("id") === 1L)
    TableBuilder.deleteWhere(spark, dvDir, col("id") === 2L)
    assert(readGraft(dvDir).select("id").as[Long].collect().sorted ===
      (3L to 10L).toArray, "DV'd row 1 stays deleted, rewrite deletes 2")
    val log = new GraftLog(dvDir, spark.sessionState.newHadoopConf())
    assert(log.snapshot(None).files.forall(_.deletionVector.isEmpty),
      "rewritten survivors carry no DV descriptors")
    TableBuilder.deleteWhereDV(spark, dvDir, col("id") === 3L)
    TableBuilder.updateWhere(spark, dvDir, col("id") === 4L, Seq("v" -> lit("x")))
    val after = readGraft(dvDir).select("id", "v").as[(Long, String)].collect().toMap
    assert(!after.contains(3L) && after(4L) === "x" && after.size === 7)

    // column-mapped tables rewrite through the physical-name mapping
    val cmDir = tempTable()
    TableBuilder.createColumnMapped(spark,
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "v"), cmDir)
    TableBuilder.updateWhere(spark, cmDir, col("id") === 2L, Seq("v" -> lit("x")))
    TableBuilder.deleteWhere(spark, cmDir, col("id") === 5L)
    val cmAfter = readGraft(cmDir).select("id", "v").as[(Long, String)].collect().toMap
    assert(cmAfter(2L) === "x" && !cmAfter.contains(5L) && cmAfter.size === 9)
  }

  test("remote read of DV and column-mapped tables renegotiates the delta dialect") {
    import spark.implicits._
    val dvDir = tempTable()
    TableBuilder.create(spark,
      (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "v"), dvDir, numFiles = 2)
    TableBuilder.deleteWhereDV(spark, dvDir, col("id") % 7 === 0)
    GraftCatalog.register("share1.default.dv_remote", dvDir)

    val cmDir = tempTable()
    TableBuilder.createColumnMapped(spark,
      (1 to 24).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp"),
      cmDir, partitionCols = Seq("grp"))
    GraftCatalog.register("share1.default.cm_remote", cmDir)

    val server = new GraftServer(ServerConfig(bearerToken = Some("tkn")),
      spark.sessionState.newHadoopConf()).start()
    try {
      val dv = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.dv_remote").load()
      assert(dv.columns.toSeq === Seq("id", "v"))
      assert(dv.select("id").as[Long].collect().sorted ===
        (1L to 50L).filterNot(_ % 7 == 0).toArray)
      // filters compose over the remote DV scan
      assert(dv.filter(col("id") <= 10).count() === 9L) // minus 7
      // LIMIT pushes as a limitHint whose server-side accounting counts
      // LIVE rows (numRecords - DV cardinality): with half of every
      // file's rows deleted, a physical-row count would stop listing a
      // file short of the limit and under-return
      val limDir = tempTable()
      TableBuilder.create(spark,
        (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "v"), limDir, numFiles = 2)
      TableBuilder.deleteWhereDV(spark, limDir, col("id") % 2 === 0)
      GraftCatalog.register("share1.default.dv_limit", limDir)
      val lim = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.dv_limit").load()
      assert(lim.limit(20).count() === 20L)
      assert(lim.limit(5).select("id").as[Long].collect().length === 5)
      GraftCatalog.unregister("share1.default.dv_limit")

      val cm = spark.read.format("graft")
        .option("url", server.url).option("token", "tkn")
        .option("table", "share1.default.cm_remote").load()
      assert(cm.columns.toSeq === Seq("id", "grp"))
      assert(cm.count() === 24L)
      assert(cm.filter(col("grp") === "g1").count() === 8L)
      assert(cm.groupBy(col("grp")).count().collect().map(_.getLong(1)).sum === 24L)
    } finally server.stop()
  }
}
