package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** RESTORE, SHALLOW CLONE, and CHECK constraints: version-diff commit
  * shape, history preservation, DV round-trips, clone independence, and
  * single-pass write-path constraint enforcement.
  */
class RestoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    // the SQL parser extension applies at session construction — drop any
    // session a previous suite left active
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

  val root = s"${graft.log.SharedFixtures.targetDir}/test_restore"

  private def conf = spark.sessionState.newHadoopConf()
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

  import scala.collection.JavaConverters._
  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("id", "v")
  }

  // ------------------------------------------------------------- RESTORE

  test("restore rolls back appends; history and time travel preserved") {
    val p = fresh("basic")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), p)
    TableBuilder.append(spark, df(Seq(3L -> "c")), p, timestamp = 1000L)
    TableBuilder.append(spark, df(Seq(4L -> "d")), p, timestamp = 2000L)
    assert(readTable(p).count() === 4)

    val v = Restore.restore(spark, p, 0L, timestamp = 3000L)
    assert(v === 3)
    GraftLog.invalidateListing(p)
    assert(readTable(p).orderBy("id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
    // forward commit: pre-restore state still time-travelable
    val log = new GraftLog(p, conf)
    assert(log.snapshot(Some(2L)).files.size === 3)
    // restore commit = removes only (nothing to re-add, v0 files active)
    val actions = log.readVersion(3L)
    assert(actions.collect { case r: graft.model.RemoveFile => r }.size === 2)
    assert(actions.collect { case a: graft.model.AddFile => a }.isEmpty)
  }

  test("restore re-adds files removed by delete, and a second restore returns") {
    val p = fresh("deleted")
    TableBuilder.create(spark, df((1L to 8L).map(i => i -> s"r$i")).repartition(2), p)
    TableBuilder.deleteWhere(spark, p, col("id") <= 4L, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 4)
    Restore.restore(spark, p, 0L, timestamp = 2000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 8)
    // restore-to-current commits an empty version (uniform version
    // arithmetic with every other builder op), never an error
    val latest = new GraftLog(p, conf).latestVersion()
    assert(Restore.restore(spark, p, latest) === latest + 1)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 8)
  }

  test("restore round-trips deletion vectors (DV added after target)") {
    val p = fresh("dv")
    TableBuilder.create(spark, df((1L to 10L).map(i => i -> s"r$i")).repartition(1), p)
    TableBuilder.deleteWhereDV(spark, p, col("id") <= 3L, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 7)
    Restore.restore(spark, p, 0L, timestamp = 2000L)
    GraftLog.invalidateListing(p)
    // DV dropped: all 10 rows back
    assert(readTable(p).count() === 10)
    val snap = new GraftLog(p, conf).snapshot(None)
    assert(snap.files.forall(_.deletionVector.isEmpty))
    // and restoring forward to the DV version brings the DV back
    Restore.restore(spark, p, 1L, timestamp = 3000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 7)
  }

  test("restore refuses future versions and vacuumed targets") {
    val p = fresh("guard")
    TableBuilder.create(spark, df(Seq(1L -> "a")).repartition(1), p)
    TableBuilder.append(spark, df(Seq(2L -> "b")), p, timestamp = 1000L)
    intercept[IllegalArgumentException] {
      Restore.restore(spark, p, 99L)
    }
    // rewrite v0's file away, then vacuum it off disk → restore must fail
    TableBuilder.deleteWhere(spark, p, col("id") === 1L, timestamp = 2000L)
    TableBuilder.vacuum(spark, p, retentionMs = 0L,
      nowMs = System.currentTimeMillis() + 3600 * 1000)
    GraftLog.invalidateListing(p)
    val e = intercept[IllegalArgumentException] {
      Restore.restore(spark, p, 0L)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("RESTORE TABLE SQL") {
    val p = fresh("sql")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), p)
    TableBuilder.append(spark, df(Seq(3L -> "c")), p, timestamp = 1000L)
    val out = spark.sql(s"RESTORE TABLE '$p' TO VERSION AS OF 0").collect()
    assert(out.head.getLong(0) === 2L && out.head.getLong(1) === 0L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 2)
  }

  test("RESTORE TO TIMESTAMP AS OF resolves like time travel") {
    val p = fresh("sql_ts")
    TableBuilder.create(spark, df(Seq(1L -> "a")).repartition(1), p)
    TableBuilder.append(spark, df(Seq(2L -> "b")), p, timestamp = 5000L)
    TableBuilder.append(spark, df(Seq(3L -> "c")), p, timestamp = 9000L)
    // between v1 (5000) and v2 (9000) → restores to v1
    val out = spark.sql(s"RESTORE TABLE '$p' TO TIMESTAMP AS OF '7000'").collect()
    assert(out.head.getLong(1) === 1L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 2)
    assert(Restore.restoreToTimestamp(spark, p, 9000L) ===
      new GraftLog(p, conf).latestVersion())
  }

  // ------------------------------------------------------- SHALLOW CLONE

  test("shallow clone reads identically, zero data files copied") {
    val src = fresh("clone_src")
    val tgt = fresh("clone_tgt")
    TableBuilder.create(spark, df((1L to 6L).map(i => i -> s"r$i")).repartition(2), src)
    TableBuilder.append(spark, df(Seq(7L -> "g")), src, timestamp = 1000L)
    Restore.cloneShallow(spark, src, tgt)
    assert(readTable(tgt).orderBy("id").collect().toSeq ===
      readTable(src).orderBy("id").collect().toSeq)
    // clone dir holds ONLY the log — no parquet copied
    val copied = java.nio.file.Files.walk(java.nio.file.Paths.get(tgt))
      .filter(f => f.toString.endsWith(".parquet") &&
        !f.toString.contains(GraftLog.LOG_DIR))
      .count()
    assert(copied === 0L)
    // fresh identity
    val (sm, tm) = (new GraftLog(src, conf).snapshot(None).metadata,
      new GraftLog(tgt, conf).snapshot(None).metadata)
    assert(sm.id !== tm.id)
  }

  test("clone at a past version; writes to clone never touch the source") {
    val src = fresh("clone_v_src")
    val tgt = fresh("clone_v_tgt")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), src)
    TableBuilder.append(spark, df(Seq(3L -> "c")), src, timestamp = 1000L)
    Restore.cloneShallow(spark, src, tgt, version = Some(0L))
    assert(readTable(tgt).count() === 2)
    // delete on the clone rewrites under the CLONE root only
    TableBuilder.deleteWhere(spark, tgt, col("id") === 1L, timestamp = 2000L)
    GraftLog.invalidateListing(tgt)
    assert(readTable(tgt).collect().map(_.getLong(0)).toSeq === Seq(2L))
    GraftLog.invalidateListing(src)
    assert(readTable(src).count() === 3) // source untouched
  }

  test("shallow clone carries deletion vectors as absolute 'p' descriptors") {
    val src = fresh("clone_dv_src")
    val tgt = fresh("clone_dv_tgt")
    TableBuilder.create(spark, df((1L to 10L).map(i => i -> s"r$i")).repartition(1), src)
    TableBuilder.deleteWhereDV(spark, src, col("id") > 8L, timestamp = 1000L)
    GraftLog.invalidateListing(src)
    Restore.cloneShallow(spark, src, tgt)
    assert(readTable(tgt).count() === 8)
    val dvs = new GraftLog(tgt, conf).snapshot(None).files.flatMap(_.deletionVector)
    assert(dvs.nonEmpty && dvs.forall(_.storageType == "p"))
  }

  test("CREATE TABLE SHALLOW CLONE SQL") {
    val src = fresh("clone_sql_src")
    val tgt = fresh("clone_sql_tgt")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), src)
    val out = spark.sql(
      s"CREATE TABLE '$tgt' SHALLOW CLONE '$src' VERSION AS OF 0").collect()
    assert(out.head.getLong(1) === 1L)
    assert(readTable(tgt).count() === 2)
  }

  test("CDF derives insert/delete rows from a restore commit") {
    val p = fresh("cdf")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), p,
      configuration = Map("enableChangeDataFeed" -> "true"))
    TableBuilder.append(spark, df(Seq(3L -> "c")), p, timestamp = 1000L)
    Restore.restore(spark, p, 0L, timestamp = 2000L)
    GraftLog.invalidateListing(p)
    val changes = GraftCDF.tableChanges(spark, p, 2L)
      .select(col("id"), col(GraftCDF.CHANGE_TYPE)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // the restore version removed v1's file → its rows surface as deletes
    assert(changes === Set((3L, "delete")))
  }

  test("restore commits route through the Delta-format writer on Delta tables") {
    val p = fresh("delta_fmt")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), p,
      deltaFormat = true)
    TableBuilder.append(spark, df(Seq(3L -> "c")), p, timestamp = 1000L)
    Restore.restore(spark, p, 0L, timestamp = 2000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 2)
    // the restore commit is a genuine _delta_log JSON commit
    val commit = new java.io.File(p, "_delta_log/00000000000000000002.json")
    assert(commit.exists())
    val lines = scala.io.Source.fromFile(commit).getLines().toSeq
    assert(lines.exists(_.contains("\"remove\"")))
  }

  test("a shared shallow clone with DVs serves over REST (absolute paths)") {
    val src = fresh("clone_rest_src")
    val tgt = fresh("clone_rest_tgt")
    TableBuilder.create(spark, df((1L to 10L).map(i => i -> s"r$i")).repartition(2), src)
    TableBuilder.deleteWhereDV(spark, src, col("id") > 8L, timestamp = 1000L)
    GraftLog.invalidateListing(src)
    Restore.cloneShallow(spark, src, tgt)
    val fqn = "clone_share.default.cloned"
    GraftCatalog.register(fqn, tgt)
    val server = new graft.server.GraftServer(
      graft.server.ServerConfig(bearerToken = Some("t")),
      spark.sessionState.newHadoopConf()).start()
    try {
      // DV table → the client renegotiates into the delta dialect, where
      // add.path AND the DV file are both pre-signed ABSOLUTE paths
      val got = spark.read.format("graft")
        .option("url", server.url).option("token", "t")
        .option("table", fqn).load()
      assert(got.count() === 8)
      assert(got.orderBy("id").collect().map(_.getLong(0)).toSeq === (1L to 8L))
    } finally {
      server.stop()
      GraftCatalog.unregister(fqn)
    }
  }

  test("cloning a Delta-format table produces a Delta-format clone") {
    val src = fresh("clone_delta_src")
    val tgt = fresh("clone_delta_tgt")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), src,
      deltaFormat = true)
    TableBuilder.append(spark, df(Seq(3L -> "c")), src, timestamp = 1000L)
    Restore.cloneShallow(spark, src, tgt)
    assert(new java.io.File(tgt, "_delta_log/00000000000000000000.json").exists())
    assert(readTable(tgt).orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L, 3L))
    // absolute add.path percent-encoding round-trips through the Delta codec
    val snap = new GraftLog(tgt, conf).snapshot(None)
    assert(snap.files.forall(f => new java.net.URI(f.path).getScheme != null))
  }

  test("restore and clone work on column-mapped tables") {
    val src = fresh("cm_src")
    val tgt = fresh("cm_tgt")
    TableBuilder.createColumnMapped(spark,
      df((1L to 6L).map(i => i -> s"r$i")).repartition(2), src)
    TableBuilder.deleteWhere(spark, src, col("id") > 4L, timestamp = 1000L)
    GraftLog.invalidateListing(src)
    assert(readTable(src).count() === 4)
    Restore.restore(spark, src, 0L, timestamp = 2000L)
    GraftLog.invalidateListing(src)
    assert(readTable(src).orderBy("id").collect().map(_.getLong(0)).toSeq === (1L to 6L))
    Restore.cloneShallow(spark, src, tgt)
    assert(readTable(tgt).orderBy("id").collect().map(_.getLong(0)).toSeq === (1L to 6L))
    assert(readTable(tgt).columns.toSeq === Seq("id", "v")) // logical names
  }

  test("streaming source and OPTIMIZE work over a shallow clone") {
    val src = fresh("clone_life_src")
    val tgt = fresh("clone_life_tgt")
    TableBuilder.create(spark, df((1L to 12L).map(i => i -> s"r$i")).repartition(3), src)
    Restore.cloneShallow(spark, src, tgt)
    // snapshot-then-tail over the clone's absolute-path add actions
    val sink = "t_clone_stream"
    val q = spark.readStream.format("graft").option("path", tgt)
      .option("maxFilesPerTrigger", "2").load()
      .writeStream.format("memory").queryName(sink).outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    q.stop()
    assert(spark.table(sink).count() === 12)
    // OPTIMIZE bin-packs INTO the clone root and drops the absolute refs
    TableBuilder.compact(spark, tgt, timestamp = 1000L)
    GraftLog.invalidateListing(tgt)
    val snap = new GraftLog(tgt, conf).snapshot(None)
    assert(snap.files.nonEmpty)
    assert(snap.files.forall(f => new java.net.URI(f.path).getScheme == null),
      "compacted files must be relative (under the clone root)")
    assert(readTable(tgt).orderBy("id").collect().map(_.getLong(0)).toSeq === (1L to 12L))
    // source data files untouched
    GraftLog.invalidateListing(src)
    assert(readTable(src).count() === 12)
  }

  // ----------------------------------------------------- CHECK constraints

  private def deepMessage(e: Throwable): String = {
    val sb = new StringBuilder
    var t = e
    while (t != null) { sb.append(String.valueOf(t.getMessage)).append('\n'); t = t.getCause }
    sb.toString
  }

  test("append/create enforce delta.constraints single-pass; valid rows pass") {
    val p = fresh("check")
    import spark.implicits._
    // nullable id (Option) so the NULL-passes case below is schema-legal
    def dfN(rows: Seq[(Option[Long], String)]) = rows.toDF("id", "v")
    TableBuilder.create(spark, dfN(Seq(Some(1L) -> "a")).repartition(1), p,
      configuration = Map("delta.constraints.id_pos" -> "id > 0"))
    TableBuilder.append(spark, dfN(Seq(Some(2L) -> "b")), p, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 2)
    val e = intercept[Exception] {
      TableBuilder.append(spark, dfN(Seq(Some(-5L) -> "bad")), p, timestamp = 2000L)
    }
    assert(deepMessage(e).contains("id_pos"))
    // failed append committed nothing
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 2)
    // NULL passes (SQL CHECK semantics)
    TableBuilder.append(spark, dfN(Seq(None -> "n")), p, timestamp = 3000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 3)
    // create with a violating row refuses up front
    val p2 = fresh("check_create")
    val e2 = intercept[Exception] {
      TableBuilder.create(spark, dfN(Seq(Some(-1L) -> "x")).repartition(1), p2,
        configuration = Map("delta.constraints.id_pos" -> "id > 0"))
    }
    assert(deepMessage(e2).contains("id_pos"))
  }

  test("addCheck validates existing rows; update/merge enforce; drop lifts") {
    val p = fresh("check_alter")
    TableBuilder.create(spark, df(Seq(1L -> "a", 2L -> "b")).repartition(1), p)
    // existing data violates → refuse to record
    intercept[Exception] {
      Constraints.addCheck(spark, p, "big", "id > 100")
    }
    assert(Constraints.of(new GraftLog(p, conf).snapshot(None).metadata).isEmpty)
    spark.sql(s"ALTER TABLE '$p' ADD CONSTRAINT id_pos CHECK (id > 0)")
    // UPDATE that would break the constraint throws, commits nothing
    intercept[Exception] {
      TableBuilder.updateWhere(spark, p, col("id") === 1L,
        Seq("id" -> lit(-9L)), timestamp = 1000L)
    }
    GraftLog.invalidateListing(p)
    assert(readTable(p).filter(col("id") < 0).count() === 0)
    // MERGE insert violating it throws too
    intercept[Exception] {
      Merge.merge(spark, p, df(Seq(-3L -> "m")),
        condition = "t.id = s.id",
        whenNotMatchedInsert = Some(Map("id" -> "s.id", "v" -> "s.v")))
    }
    spark.sql(s"ALTER TABLE '$p' DROP CONSTRAINT id_pos")
    TableBuilder.append(spark, df(Seq(-1L -> "ok")), p, timestamp = 2000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 3)
  }
}
