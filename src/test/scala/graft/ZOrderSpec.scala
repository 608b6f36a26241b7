package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._
import graft.model.StatsCodec

/** OPTIMIZE ZORDER: content preservation, multi-dimension stats skipping
  * vs a linear layout, layout-only (dataChange=false) commits, and the
  * QuantileBin expression's interpreted/codegen agreement.
  */
class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_zorder"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  override def afterAll(): Unit = spark.stop()

  /** Rows with two independent pseudo-random dimensions in [0, 256).
    * Written sorted by x: the linear layout's worst case for y filters.
    */
  private def makeTable(path: String, files: Int): Unit = {
    val df = spark.range(0, 64000)
      .select(col("id"),
        (col("id") % 256).as("x"),
        (pmod(col("id") * 2654435761L, lit(4294967296L)) % 256).as("y"))
    TableBuilder.create(spark,
      df.repartitionByRange(files, col("x")), path, name = "zsrc")
  }

  /** Files whose [min,max] stats overlap [lo,hi] on `c`. */
  private def overlapping(path: String, c: String, lo: Long, hi: Long): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val snap = new GraftLog(path, conf).snapshot(None)
    snap.files.count { f =>
      val st = f.stats.get
      val mn = st.minValues(c).toLong
      val mx = st.maxValues(c).toLong
      mx >= lo && mn <= hi
    }
  }

  test("zorder preserves content exactly and prunes on BOTH dimensions") {
    val path = s"$root/two_dim"
    makeTable(path, 16)
    val before = spark.read.format("graft").option("path", path).load()
      .agg(sum(col("id")), count(lit(1))).collect().head
    // linear layout: x-filters prune, y-filters read everything
    assert(overlapping(path, "x", 0, 15) <= 2)
    assert(overlapping(path, "y", 0, 15) >= 14, "y is unclustered pre-zorder")

    TableBuilder.zorder(spark, path, Seq("x", "y"), numFiles = 16)
    GraftLog.invalidateListing(path)
    val after = spark.read.format("graft").option("path", path).load()
      .agg(sum(col("id")), count(lit(1))).collect().head
    assert(after === before, "zorder must not change table content")
    // the curve trades a little x-locality for y-locality: BOTH filter
    // dimensions now skip most files (4/16 = the 2-bit prefix square)
    assert(overlapping(path, "x", 0, 15) <= 8, "x pruning survives")
    assert(overlapping(path, "y", 0, 15) <= 8, "y pruning appears")
  }

  test("zorder commit is layout-only: dataChange=false on adds and removes") {
    val path = s"$root/layout_only"
    makeTable(path, 4)
    val v = TableBuilder.zorder(spark, path, Seq("x", "y"))
    val conf = spark.sessionState.newHadoopConf()
    val actions = new GraftLog(path, conf).changes(v, v).head.actions
    val adds = actions.collect { case a: graft.model.AddFile => a }
    val removes = actions.collect { case r: graft.model.RemoveFile => r }
    assert(adds.nonEmpty && removes.nonEmpty)
    assert(adds.forall(!_.dataChange) && removes.forall(!_.dataChange))
  }

  test("QuantileBin: interpreted == codegen == reference binary search") {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val boundaries = Array(10.0, 20.0, 30.0)
    val df = spark.range(0, 45)
      .select(col("id").cast("double").as("v"))
    val expr = column(graft.functions.QuantileBin(
      expression(col("v")), boundaries))
    val rows = df.select(col("v"), expr.as("bin")).collect()
      .map(r => (r.getDouble(0), r.getInt(1)))
    rows.foreach { case (v, b) =>
      val exp = boundaries.count(_ <= v)
      assert(b === exp, s"v=$v")
    }
    // null in → null out
    val n = df.select(expr.as("bin"))
    assert(spark.range(1).select(column(graft.functions.QuantileBin(
      expression(lit(null).cast("double")), boundaries))).collect().head.isNullAt(0))
  }

  test("ZOrderKey: 4 cols x 8 bits stays in long range (no int-shift sign flip)") {
    import graft.functions.ZOrderKey
    import spark.implicits._
    // top bit of column 0 lands at position 31 with 4x8 — int shiftleft
    // would flip the sign; the long path must keep keys non-negative and
    // Morton-ordered on the leading column
    val df = Seq((255, 255, 255, 255), (128, 0, 0, 0), (127, 255, 255, 255), (0, 0, 0, 0))
      .toDF("a", "b", "c", "d")
    val keys = df.select(ZOrderKey(Seq(col("a"), col("b"), col("c"), col("d")), 8).as("z"))
      .collect().map(_.getLong(0))
    assert(keys.forall(_ >= 0L), s"negative Morton key: ${keys.mkString(",")}")
    val Seq(kAll, kHi, kLo, kZero) = keys.toSeq
    assert(kHi > kLo, "bin 128 on the leading column must sort above 127/255/255/255")
    assert(kAll > kHi && kZero == 0L)
    // exceeding 63 bits is refused, not silently corrupted
    intercept[IllegalArgumentException] {
      ZOrderKey(Seq.fill(8)(col("a")), 8)
    }
  }
}
