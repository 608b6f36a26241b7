package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Clustered tables: Hilbert-curve OPTIMIZE over the declared clustering
  * columns (delta.clustering domain), curve correctness (distance-1
  * neighbor property), skipping vs the Morton layout, SQL OPTIMIZE
  * routing, and GraftTable.optimize dispatch.
  */
class ClusteringSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_clustering"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  override def afterAll(): Unit = spark.stop()

  test("Hilbert index: consecutive indexes are distance-1 neighbors (2D, 3D)") {
    // the defining property Morton lacks: |H(i+1) - H(i)| steps exactly
    // one cell along exactly one axis
    for (dims <- Seq(2, 3); bits <- Seq(2, 3)) {
      val side = 1 << bits
      val total = 1L << (dims * bits)
      val byIndex = new Array[Array[Long]](total.toInt)
      def enumerate(prefix: List[Long], d: Int): Unit =
        if (d == dims) {
          val coords = prefix.reverse.toArray
          val h = graft.functions.Hilbert.index(coords.clone(), bits)
          assert(h >= 0 && h < total, s"index $h out of range")
          assert(byIndex(h.toInt) == null, s"duplicate hilbert index $h")
          byIndex(h.toInt) = coords
        } else (0 until side).foreach(v => enumerate(v.toLong :: prefix, d + 1))
      enumerate(Nil, 0)
      (1 until total.toInt).foreach { i =>
        val dist = byIndex(i).zip(byIndex(i - 1))
          .map { case (a, b) => math.abs(a - b) }.sum
        assert(dist === 1,
          s"dims=$dims bits=$bits: H=$i not adjacent to H=${i - 1}")
      }
    }
  }

  test("HilbertIndex expression: interpreted == codegen == direct") {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    import spark.implicits._
    val df = (0 until 16).flatMap(x => (0 until 16).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val key = graft.functions.HilbertKey(Seq(col("x"), col("y")), 4)
    val rows = df.select(col("x"), col("y"), key.as("h")).collect()
    rows.foreach { r =>
      val expect = graft.functions.Hilbert.index(
        Array(r.getLong(0), r.getLong(1)), 4)
      assert(r.getLong(2) === expect)
    }
    // nulls bin to 0, overflow refused
    assert(df.limit(1).select(graft.functions.HilbertKey(
      Seq(lit(null), lit(3L)), 4)).collect().head.getLong(0) ===
      graft.functions.Hilbert.index(Array(0L, 3L), 4))
    intercept[IllegalArgumentException] {
      graft.functions.HilbertKey(Seq.fill(8)(col("x")), 8)
    }
  }

  private def makeClustered(path: String, files: Int): Unit = {
    val df = spark.range(0, 64000)
      .select(col("id"),
        (col("id") % 256).as("x"),
        (pmod(col("id") * 2654435761L, lit(4294967296L)) % 256).as("y"))
    TableBuilder.create(spark,
      df.repartitionByRange(files, col("x")), path, name = "csrc",
      clusterBy = Seq("x", "y"))
  }

  private def overlapping(path: String, c: String, lo: Long, hi: Long): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val snap = new GraftLog(path, conf).snapshot(None)
    snap.files.count { f =>
      val st = f.stats.get
      st.maxValues(c).toLong >= lo && st.minValues(c).toLong <= hi
    }
  }

  test("clustered create declares the domain; OPTIMIZE reclusters and prunes both dims") {
    val path = s"$root/clustered"
    makeClustered(path, 16)
    val conf = spark.sessionState.newHadoopConf()
    val snap0 = new GraftLog(path, conf).snapshot(None)
    assert(Clustering.columnsOf(snap0.domains) === Seq("x", "y"))
    val before = spark.read.format("graft").option("path", path).load()
      .agg(sum(col("id")), count(lit(1))).collect().head
    assert(overlapping(path, "y", 0, 15) >= 14, "y unclustered pre-optimize")

    val t = GraftTable.forPath(spark, path)
    t.optimize() // clustered table ⇒ Hilbert recluster, not bin-pack
    GraftLog.invalidateListing(path)
    val after = spark.read.format("graft").option("path", path).load()
      .agg(sum(col("id")), count(lit(1))).collect().head
    assert(after === before, "recluster must not change content")
    assert(overlapping(path, "x", 0, 15) <= 8, "x pruning present")
    assert(overlapping(path, "y", 0, 15) <= 8, "y pruning present")
    // layout-only commit
    val v = new GraftLog(path, conf).latestVersion()
    val actions = new GraftLog(path, conf).changes(v, v).head.actions
    assert(actions.collect { case a: graft.model.AddFile => a }.forall(!_.dataChange))
  }

  test("incremental OPTIMIZE: well-formed cubes untouched, appends form a " +
    "new cube, idle OPTIMIZE is a no-op, FULL rewrites everything") {
    val path = s"$root/incremental"
    makeClustered(path, 8)
    val conf = spark.sessionState.newHadoopConf()
    def snap = new GraftLog(path, conf).snapshot(None)
    def cubeIds = snap.files.flatMap(_.tags.flatMap(_.get(Clustering.TAG_CUBE_ID)))

    Clustering.cluster(spark, path, numFiles = 4)
    val v1 = new GraftLog(path, conf).latestVersion()
    val cube1 = cubeIds.distinct
    assert(cube1.size === 1, "first OPTIMIZE forms one tagged cube")
    assert(snap.files.forall(f => Clustering.wellFormed(f, Seq("x", "y"), "hilbert")))
    val cube1Paths = snap.files.map(_.path).toSet

    // nothing new arrived: OPTIMIZE must be a NO-OP (no empty commit)
    assert(Clustering.cluster(spark, path) === v1)
    assert(new GraftLog(path, conf).latestVersion() === v1)

    // an append lands outside any cube; the next OPTIMIZE rewrites ONLY it
    val extra = spark.range(100).selectExpr(
      "id + 1000 AS id", "CAST(id % 256 AS BIGINT) AS x",
      "CAST((id * 37) % 256 AS BIGINT) AS y")
    TableBuilder.append(spark, extra.repartition(3), path, timestamp = 5000L)
    Clustering.cluster(spark, path)
    val after = snap
    assert(after.files.map(_.path).toSet.intersect(cube1Paths) === cube1Paths,
      "the existing cube's files must be untouched")
    assert(cubeIds.distinct.size === 2, "the appended files form a second cube")
    assert(after.files.forall(f => Clustering.wellFormed(f, Seq("x", "y"), "hilbert")))
    // content preserved across the incremental rewrite
    GraftLog.invalidateListing(path)
    val total = spark.read.format("graft").option("path", path).load().count()
    assert(total === 64000 + 100)

    // FULL forces the global rewrite into one fresh cube
    Clustering.cluster(spark, path, full = true)
    assert(cubeIds.distinct.size === 1)
    assert(snap.files.map(_.path).toSet.intersect(cube1Paths) === Set.empty)
    GraftLog.invalidateListing(path)
    assert(spark.read.format("graft").option("path", path).load().count() === 64100)
  }

  test("cube tags round-trip through the delta-format log and checkpoints") {
    import spark.implicits._
    val path = s"$root/tags_delta"
    val df = spark.range(64).selectExpr(
      "id", "CAST(id % 8 AS BIGINT) AS x", "CAST(id % 5 AS BIGINT) AS y")
    TableBuilder.create(spark, df.repartition(2), path,
      name = "tags_delta", deltaFormat = true, clusterBy = Seq("x", "y"))
    Clustering.cluster(spark, path, numFiles = 2)
    val conf = spark.sessionState.newHadoopConf()
    val snap = new GraftLog(path, conf).snapshot(None)
    assert(snap.files.forall(_.tags.exists(_.contains(Clustering.TAG_CUBE_ID))))
    // the raw delta commit line spells them as add.tags
    val logDir = new org.apache.hadoop.fs.Path(path, DeltaLogCompat.LOG_DIR)
    val fs = logDir.getFileSystem(conf)
    val commit = scala.io.Source.fromInputStream(
      fs.open(new org.apache.hadoop.fs.Path(logDir, "00000000000000000001.json")), "UTF-8")
      .getLines().mkString("\n")
    assert(commit.contains("\"tags\"") && commit.contains("ZCUBE_ID"))
    // checkpoint replay preserves them (checkpoint at v10 via appends)
    (2 to 10).foreach { i =>
      TableBuilder.append(spark,
        Seq((1000L + i, 1L, 1L)).toDF("id", "x", "y"), path, timestamp = i * 1000L)
    }
    assert(fs.exists(new org.apache.hadoop.fs.Path(logDir,
      "00000000000000000010.checkpoint.parquet")))
    GraftLog.invalidateListing(path)
    val replayed = new GraftLog(path, conf).snapshot(None)
    val tagged = replayed.files.filter(_.tags.exists(_.contains(Clustering.TAG_CUBE_ID)))
    assert(tagged.size === 2, "cube tags must survive checkpoint replay")
  }

  test("Hilbert skips at least as many files as Morton on the same data") {
    val pathH = s"$root/curve_h"; val pathM = s"$root/curve_m"
    makeClustered(pathH, 16)
    val df = spark.read.format("graft").option("path", pathH).load()
    TableBuilder.create(spark, df, pathM, name = "msrc")
    Clustering.cluster(spark, pathH, numFiles = 16)
    TableBuilder.zorder(spark, pathM, Seq("x", "y"), numFiles = 16)
    // average overlap across a grid of 16x16 windows on both dimensions
    def cost(path: String): Int =
      (0 until 256 by 32).map(lo => overlapping(path, "x", lo, lo + 15)).sum +
        (0 until 256 by 32).map(lo => overlapping(path, "y", lo, lo + 15)).sum
    val (h, m) = (cost(pathH), cost(pathM))
    info(s"hilbert overlap=$h morton overlap=$m")
    assert(h <= m, s"hilbert ($h) must prune at least as well as morton ($m)")
  }

  test("SQL OPTIMIZE on a clustered table reports CLUSTER and reclusters") {
    val path = s"$root/sql_cluster"
    makeClustered(path, 8)
    val ext = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
    val plan = ext.parsePlan(s"OPTIMIZE '$path'")
    val rows = plan.asInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Command] match {
      case c: graft.sql.OptimizeCommand => c.run(spark)
      case other => fail(s"unexpected plan $other")
    }
    assert(rows.head.getString(1) === "CLUSTER")
    GraftLog.invalidateListing(path)
    assert(overlapping(path, "y", 0, 15) <= 4)
  }

  test("CREATE TABLE ... CLUSTER BY through the DSv2 catalog declares the domain") {
    val loc = s"$root/ddl_cluster"
    spark.conf.set("spark.sql.catalog.graftc", "graft.sources.GraftSparkCatalog")
    try {
      spark.sql(s"""CREATE TABLE graftc.share1.default.ddl_cluster
                 (k BIGINT, x BIGINT, v STRING) CLUSTER BY (k, x)
                 LOCATION '$loc'""")
      spark.sql("INSERT INTO graftc.share1.default.ddl_cluster " +
        "SELECT id, id * 7 % 64, CAST(id AS STRING) FROM range(0, 1000)")
      val snap = new GraftLog(loc, spark.sessionState.newHadoopConf()).snapshot(None)
      assert(Clustering.columnsOf(snap.domains) === Seq("k", "x"))
      // OPTIMIZE on it reclusters (CLUSTER, not COMPACT)
      val ext = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
      val res = ext.parsePlan(s"OPTIMIZE '$loc'")
        .asInstanceOf[graft.sql.OptimizeCommand].run(spark)
      assert(res.head.getString(1) === "CLUSTER")
      GraftLog.invalidateListing(loc)
      assert(spark.sql("SELECT count(*) FROM graftc.share1.default.ddl_cluster")
        .collect().head.getLong(0) === 1000L)
    } finally {
      graft.log.GraftCatalog.unregister("share1.default.ddl_cluster")
    }
  }

  test("cluster() refuses unclustered tables; nested clustering paths refused") {
    val path = s"$root/plain"
    TableBuilder.create(spark, spark.range(10).toDF("id"), path, name = "plain")
    intercept[IllegalArgumentException] {
      Clustering.cluster(spark, path)
    }
    intercept[IllegalArgumentException] {
      Clustering.columnsOf(Map(Clustering.DOMAIN ->
        """{"clusteringColumns":[["a","b"]]}"""))
    }
    // OPTIMIZE FULL on a non-clustered table errors (delta's contract)
    // instead of silently compacting
    val ext = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
    val cmd = ext.parsePlan(s"OPTIMIZE '$path' FULL")
      .asInstanceOf[graft.sql.OptimizeCommand]
    assert(intercept[UnsupportedOperationException] { cmd.run(spark) }
      .getMessage.contains("clustered"))
  }

  test("ZCUBE_ZORDER_BY is spelled as a JSON array; legacy comma tags " +
    "still count as well-formed") {
    val path = s"$root/tag_spelling"
    makeClustered(path, 8)
    Clustering.cluster(spark, path, numFiles = 2)
    val conf = spark.sessionState.newHadoopConf()
    val snap = new GraftLog(path, conf).snapshot(None)
    val tagVals = snap.files.flatMap(_.tags.flatMap(_.get(Clustering.TAG_CUBE_COLS)))
    assert(tagVals.nonEmpty && tagVals.forall(_ === """["x","y"]"""),
      s"delta spells the tag as a JSON array, got $tagVals")
    // a cube written by graft ≤ r9 (comma-joined) is still recognized
    val legacy = snap.files.head.copy(tags = Some(Map(
      Clustering.TAG_CUBE_ID -> "legacy",
      Clustering.TAG_CUBE_COLS -> "x,y",
      Clustering.TAG_CUBE_CURVE -> "hilbert")))
    assert(Clustering.wellFormed(legacy, Seq("x", "y"), "hilbert"))
    assert(!Clustering.wellFormed(legacy, Seq("x"), "hilbert"))
  }
}
