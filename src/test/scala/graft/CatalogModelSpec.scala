package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{GraftCatalog, GraftLog, SharedFixtures}

/** Model check for the catalog SQL surface on a DV-enabled table: random
  * sequences of INSERT / translatable DELETE (which writes deletion
  * vectors) / OPTIMIZE are mirrored against an in-memory row model; after
  * every operation the SQL-name read (kernel scan before DVs appear, the
  * V1Scan fallback after) must equal the model exactly. Catches planner-
  * path regressions (wrong route for a command, DV mis-application,
  * resurrection on compact) that the targeted specs can miss.
  */
class CatalogModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.catalog.graft", classOf[graft.sources.GraftSparkCatalog].getName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_catalog_model"

  test("random INSERT/DELETE/OPTIMIZE sequences match the in-memory model") {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val share = SharedFixtures.SHARE // registers the namespace prefix
    SharedFixtures.ensure(spark, "/root/testdata/sf0.001")
    val rnd = new scala.util.Random(20260814L)

    (0 until 3).foreach { round =>
      val name = s"model_$round"
      val loc = s"$root/$name"
      GraftLog.invalidateListing(loc)
      GraftCatalog.unregister(s"$share.$name")
      spark.sql(s"""CREATE TABLE graft.$share.$name (id BIGINT, v BIGINT)
        LOCATION '$loc'
        TBLPROPERTIES('delta.enableDeletionVectors'='true')""")
      val model = mutable.Map.empty[Long, Long] // id -> v
      var nextId = 0L

      def check(step: String): Unit = {
        val got = spark.sql(s"SELECT id, v FROM graft.$share.$name")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === model.toMap,
          s"round $round after $step: table=${got.size} rows, model=${model.size}")
      }

      (0 until 12).foreach { step =>
        rnd.nextInt(4) match {
          case 0 | 1 => // INSERT a small batch
            val n = 1 + rnd.nextInt(20)
            val rows = (0 until n).map { _ =>
              val id = nextId; nextId += 1
              val v = rnd.nextInt(1000).toLong
              model(id) = v
              s"($id, $v)"
            }
            spark.sql(s"INSERT INTO graft.$share.$name VALUES ${rows.mkString(", ")}")
            check(s"insert x$n")
          case 2 => // translatable range DELETE -> deletion vectors
            if (model.nonEmpty) {
              val lo = rnd.nextLong(nextId)
              val hi = math.min(nextId - 1, lo + rnd.nextInt(10))
              model.keys.filter(k => k >= lo && k <= hi).toSeq.foreach(model.remove)
              spark.sql(
                s"DELETE FROM graft.$share.$name WHERE id >= $lo AND id <= $hi")
              check(s"delete [$lo,$hi]")
            }
          case 3 => // OPTIMIZE (compact applies + drops DVs, layout-only)
            spark.sql(s"OPTIMIZE '$loc'")
            GraftLog.invalidateListing(loc)
            check("optimize")
        }
      }
      // end state: at least one delete usually landed; the final read
      // must still agree after a closing OPTIMIZE purges all DVs
      spark.sql(s"OPTIMIZE '$loc'")
      GraftLog.invalidateListing(loc)
      check("final optimize")
      val snap = new GraftLog(loc, spark.sessionState.newHadoopConf()).snapshot(None)
      assert(snap.files.forall(_.deletionVector.isEmpty),
        "OPTIMIZE must purge every deletion vector")
      spark.sql(s"DROP TABLE graft.$share.$name")
    }
  }
}
