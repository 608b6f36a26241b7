package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Schema evolution: mergeSchema appends, metadata-only ADD COLUMNS, the
  * column-mapped variant (fresh physical names/ids), and the invariants —
  * plain appends still refuse drift, type changes always refuse, old
  * files serve NULL for later columns, time travel sees the old schema.
  */
class SchemaEvolutionSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  val root = s"${graft.log.SharedFixtures.targetDir}/test_schema_evo"

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

  test("mergeSchema append extends the schema; old files read NULL") {
    import spark.implicits._
    val p = fresh("merge")
    TableBuilder.create(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), p)
    // plain append with a new column refuses (no silent column drop)
    val e = intercept[IllegalArgumentException] {
      TableBuilder.append(spark,
        Seq((3L, "c", 1.5)).toDF("id", "v", "score"), p)
    }
    assert(e.getMessage.contains("mergeSchema"))
    TableBuilder.append(spark,
      Seq((3L, "c", 1.5)).toDF("id", "v", "score"), p,
      timestamp = 1000L, mergeSchema = true)
    GraftLog.invalidateListing(p)
    val got = readTable(p)
    assert(got.columns.toSeq === Seq("id", "v", "score"))
    assert(got.filter(col("score").isNull).select("id").as[Long].collect().sorted
      === Array(1L, 2L))
    assert(got.filter(col("id") === 3L).select("score").as[Double].head() === 1.5)
    // time travel to v0 still shows the ORIGINAL two-column schema
    val v0 = spark.read.format("graft").option("path", p)
      .option("versionAsOf", "0").load()
    assert(v0.columns.toSeq === Seq("id", "v"))
    // a later batch missing `v` back-fills NULL
    TableBuilder.append(spark,
      Seq((4L, 2.5)).toDF("id", "score"), p, timestamp = 2000L, mergeSchema = true)
    GraftLog.invalidateListing(p)
    assert(readTable(p).filter(col("id") === 4L)
      .select(col("v").isNull, col("score")).head() ===
      org.apache.spark.sql.Row(true, 2.5))
    // type change always refuses, also under mergeSchema
    intercept[IllegalArgumentException] {
      TableBuilder.append(spark,
        Seq(("5", "e")).toDF("id", "v"), p, mergeSchema = true)
    }
  }

  test("ALTER TABLE ADD COLUMNS is metadata-only; values arrive later") {
    import spark.implicits._
    val p = fresh("addcols")
    TableBuilder.create(spark,
      Seq((1L, "a")).toDF("id", "v").repartition(1), p)
    val out = spark.sql(
      s"ALTER TABLE '$p' ADD COLUMNS (score double, tag string)").collect()
    assert(out.head.getLong(0) === 1L)
    GraftLog.invalidateListing(p)
    val got = readTable(p)
    assert(got.columns.toSeq === Seq("id", "v", "score", "tag"))
    assert(got.select("score", "tag").head() === org.apache.spark.sql.Row(null, null))
    // duplicate add refuses
    intercept[IllegalArgumentException] {
      TableBuilder.addColumns(spark, p, Seq(("score", DoubleType)))
    }
    TableBuilder.append(spark,
      Seq((2L, "b", 3.5, "t")).toDF("id", "v", "score", "tag"), p, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).filter(col("id") === 2L).select("score").as[Double].head() === 3.5)
  }

  test("schema evolution on a column-mapped table assigns fresh physical ids") {
    import spark.implicits._
    val p = fresh("cm")
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "a")).toDF("id", "v").repartition(1), p)
    TableBuilder.append(spark,
      Seq((2L, "b", 9.0)).toDF("id", "v", "score"), p,
      timestamp = 1000L, mergeSchema = true)
    GraftLog.invalidateListing(p)
    val snap = new GraftLog(p, conf).snapshot(None)
    val scoreF = snap.schema("score")
    assert(scoreF.metadata.getString(graft.model.ColumnMapping.PHYSICAL_NAME_KEY)
      .startsWith("col-"))
    assert(scoreF.metadata.getLong(graft.model.ColumnMapping.COLUMN_ID_KEY) === 3L)
    val got = readTable(p)
    assert(got.columns.toSeq === Seq("id", "v", "score"))
    assert(got.orderBy("id").select("score").collect().map(_.isNullAt(0)).toSeq ===
      Seq(true, false))
  }

  test("evolved schemas stay read-compatible for already-analyzed readers") {
    import spark.implicits._
    val p = fresh("compat")
    TableBuilder.create(spark,
      Seq((1L, "a")).toDF("id", "v").repartition(1), p)
    val analyzed = new GraftLog(p, conf).snapshot(None).schema
    TableBuilder.addColumns(spark, p, Seq(("score", DoubleType)), timestamp = 1000L)
    val newer = new GraftLog(p, conf).snapshot(None).schema
    // added columns are fine for pinned readers (T7 guard passes)
    assert(graft.model.SchemaCompat.isReadCompatible(analyzed, newer))
  }

  test("RENAME COLUMN is metadata-only on column-mapped tables; refused without") {
    import spark.implicits._
    val p = fresh("rename")
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), p)
    val filesBefore = new GraftLog(p, conf).snapshot(None).files.map(_.path).toSet
    TableBuilder.renameColumn(spark, p, "v", "label")
    GraftLog.invalidateListing(p)
    val got = readTable(p)
    assert(got.columns.toSeq === Seq("id", "label"))
    assert(got.orderBy("id").select("label").as[String].collect().toSeq === Seq("a", "b"))
    // zero data IO: same files
    assert(new GraftLog(p, conf).snapshot(None).files.map(_.path).toSet === filesBefore)
    // appends resolve against the new name
    TableBuilder.append(spark, Seq((3L, "c")).toDF("id", "label"), p, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 3)
    // unmapped tables refuse (files are addressed by logical name)
    val plain = fresh("rename_plain")
    TableBuilder.create(spark, Seq((1L, "a")).toDF("id", "v").repartition(1), plain)
    intercept[IllegalArgumentException] {
      TableBuilder.renameColumn(spark, plain, "v", "label")
    }
    // constraint-referenced columns refuse
    val guarded = fresh("rename_guarded")
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "a")).toDF("id", "v").repartition(1), guarded,
      configuration = Map("delta.constraints.pos" -> "id >= 0"))
    intercept[IllegalArgumentException] {
      TableBuilder.renameColumn(spark, guarded, "id", "key")
    }
  }

  test("DROP COLUMN is metadata-only; re-ADD gets a fresh physical name") {
    import spark.implicits._
    val p = fresh("drop")
    TableBuilder.createColumnMapped(spark,
      Seq((1L, "a", 9.0), (2L, "b", 8.0)).toDF("id", "v", "score").repartition(1), p)
    val physBefore = new GraftLog(p, conf).snapshot(None)
      .schema("score").metadata.getString(graft.model.ColumnMapping.PHYSICAL_NAME_KEY)
    TableBuilder.dropColumns(spark, p, Seq("score"))
    GraftLog.invalidateListing(p)
    assert(readTable(p).columns.toSeq === Seq("id", "v"))
    // re-ADD the same logical name: fresh physical name, old bytes stay buried
    TableBuilder.addColumns(spark, p, Seq(("score", DoubleType)))
    GraftLog.invalidateListing(p)
    val snap = new GraftLog(p, conf).snapshot(None)
    val physAfter = snap.schema("score").metadata
      .getString(graft.model.ColumnMapping.PHYSICAL_NAME_KEY)
    assert(physAfter !== physBefore, "re-added column must not reuse the dropped physical name")
    assert(readTable(p).select("score").collect().forall(_.isNullAt(0)),
      "dropped bytes must not resurface")
    // SQL forms route through the parser
    spark.sql(s"ALTER TABLE '$p' RENAME COLUMN v TO label")
    spark.sql(s"ALTER TABLE '$p' DROP COLUMN score")
    GraftLog.invalidateListing(p)
    assert(readTable(p).columns.toSeq === Seq("id", "label"))
    // cannot drop everything
    intercept[IllegalArgumentException] {
      TableBuilder.dropColumns(spark, p, Seq("id", "label"))
    }
  }

  test("delta.appendOnly refuses deletes/updates/merge-matched, allows appends") {
    import spark.implicits._
    val p = fresh("append_only")
    TableBuilder.create(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1), p,
      configuration = Map("delta.appendOnly" -> "true"))
    TableBuilder.append(spark, Seq((3L, "c")).toDF("id", "v"), p, timestamp = 1000L)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 3)
    intercept[IllegalArgumentException] {
      TableBuilder.deleteWhere(spark, p, col("id") === 1L)
    }
    intercept[IllegalArgumentException] {
      TableBuilder.deleteWhereDV(spark, p, col("id") === 1L)
    }
    intercept[IllegalArgumentException] {
      TableBuilder.updateWhere(spark, p, col("id") === 1L, Seq("v" -> lit("x")))
    }
    intercept[IllegalArgumentException] {
      Merge.merge(spark, p, Seq((1L, "z")).toDF("id", "v"), "t.id = s.id",
        whenMatchedUpdate = Some(Map("v" -> "s.v")))
    }
    // insert-only merge is allowed
    Merge.merge(spark, p, Seq((9L, "i")).toDF("id", "v"), "t.id = s.id",
      whenNotMatchedInsert = Some(Map("id" -> "s.id", "v" -> "s.v")))
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 4)
    // layout-only compaction stays allowed
    TableBuilder.compact(spark, p)
    GraftLog.invalidateListing(p)
    assert(readTable(p).count() === 4)
  }

  test("SET TBLPROPERTIES none->name upgrade makes column surgery available") {
    import spark.implicits._
    val p = fresh("cm_upgrade")
    TableBuilder.create(spark,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "v", "score").repartition(1), p)
    // surgery refused before the upgrade (files addressed by logical name)
    assert(intercept[IllegalArgumentException] {
      TableBuilder.renameColumn(spark, p, "v", "w")
    }.getMessage.contains("column mapping"))
    // the delta upgrade: physical names = logical names, fresh ids
    TableBuilder.setProperties(spark, p,
      Map(graft.model.ColumnMapping.MODE_KEY -> Some("name")))
    GraftLog.invalidateListing(p)
    val snap = new GraftLog(p, spark.sessionState.newHadoopConf()).snapshot(None)
    assert(graft.model.ColumnMapping.isEnabled(snap.metadata))
    snap.schema.fields.foreach { f =>
      assert(f.metadata.getString(
        graft.model.ColumnMapping.PHYSICAL_NAME_KEY) === f.name)
    }
    // existing files read correctly through the upgraded mapping
    assert(readTable(p).select("v").collect().map(_.getString(0)).sorted
      === Array("a", "b"))
    // and surgery now works: rename + the renamed read stays correct
    TableBuilder.renameColumn(spark, p, "v", "w")
    GraftLog.invalidateListing(p)
    assert(readTable(p).select("w").collect().map(_.getString(0)).sorted
      === Array("a", "b"))
    // a post-upgrade ADD COLUMN gets a FRESH physical name, not logical
    TableBuilder.addColumns(spark, p,
      Seq(("extra", org.apache.spark.sql.types.IntegerType)))
    GraftLog.invalidateListing(p)
    val snap2 = new GraftLog(p, spark.sessionState.newHadoopConf()).snapshot(None)
    assert(snap2.schema("extra").metadata
      .getString(graft.model.ColumnMapping.PHYSICAL_NAME_KEY).startsWith("col-"))
    // mode changes other than none->name refuse; rowTracking on non-empty refuses
    assert(intercept[IllegalArgumentException] {
      TableBuilder.setProperties(spark, p,
        Map(graft.model.ColumnMapping.MODE_KEY -> Some("id")))
    }.getMessage.contains("not supported"))
    assert(intercept[IllegalArgumentException] {
      TableBuilder.setProperties(spark, p,
        Map(graft.log.RowTracking.ENABLED_KEY -> Some("true")))
    }.getMessage.contains("row tracking"))
  }

  test("data-skipping stats scope: statsColumns list and numIndexedCols bound") {
    import spark.implicits._
    val df = Seq((1L, "a", 1.0, 10), (2L, "b", 2.0, 20)).toDF("id", "v", "score", "n")
    // explicit list: only `id` and `n` get min/max/nullCount
    val p1 = fresh("stats_list")
    TableBuilder.create(spark, df.repartition(1), p1,
      configuration = Map("delta.dataSkippingStatsColumns" -> "id, n"))
    val f1 = new GraftLog(p1, spark.sessionState.newHadoopConf())
      .snapshot(None).files.head
    assert(f1.stats.get.minValues.keySet === Set("id", "n"))
    // first-N rule: numIndexedCols=2 covers id and v only
    val p2 = fresh("stats_firstn")
    TableBuilder.create(spark, df.repartition(1), p2,
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "2"))
    val f2 = new GraftLog(p2, spark.sessionState.newHadoopConf())
      .snapshot(None).files.head
    assert(f2.stats.get.minValues.keySet === Set("id", "v"))
    assert(f2.stats.get.numRecords === 2L, "row counts stay exact regardless")
    // unstatted columns still filter CORRECTLY — they just never skip
    GraftLog.invalidateListing(p2)
    assert(readTable(p2).filter(col("score") > 1.5).count() === 1L)
    // column-mapped table: the config lists LOGICAL names; stats must land
    // under the matching PHYSICAL keys (unmapped they'd silently vanish)
    val p3 = fresh("stats_mapped")
    TableBuilder.createColumnMapped(spark, df.repartition(1), p3,
      configuration = Map("delta.dataSkippingStatsColumns" -> "id, n"))
    val snap3 = new GraftLog(p3, spark.sessionState.newHadoopConf()).snapshot(None)
    val phys3 = graft.model.ColumnMapping.nameMap(snap3.schema)
    assert(snap3.files.head.stats.get.minValues.keySet
      === Set(phys3("id"), phys3("n")))
    // partitioned table: partition columns skip via partitionValues and
    // must not consume first-N window slots
    val p4 = fresh("stats_firstn_part")
    TableBuilder.create(spark,
      Seq((1L, "a", 1.0, 10), (2L, "b", 2.0, 20)).toDF("part", "v", "score", "n")
        .repartition(1),
      p4, partitionCols = Seq("part"),
      configuration = Map("delta.dataSkippingNumIndexedCols" -> "2"))
    val f4 = new GraftLog(p4, spark.sessionState.newHadoopConf())
      .snapshot(None).files.head
    assert(f4.stats.get.minValues.keySet === Set("v", "score"),
      "the first-N window counts data columns only")
  }
}
