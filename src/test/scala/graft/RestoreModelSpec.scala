package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Model-based check of the log's version semantics: a random sequence of
  * append / deleteWhere / restore operations against an in-memory model
  * (a map version → row set). After every operation the live table must
  * equal the model's head, and EVERY recorded version must time-travel to
  * its model state — restore being a forward commit makes the full
  * history addressable forever, which is exactly what this pins.
  */
class RestoreModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_restore_model"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  private def conf = spark.sessionState.newHadoopConf()

  test("random append/delete/restore sequences match the in-memory model") {
    import spark.implicits._
    val p = s"$root/t"
    GraftLog.invalidateListing(p)
    val rnd = new scala.util.Random(42)
    var nextId = 0L
    def batch(n: Int): Seq[Long] = (0 until n).map(_ => { nextId += 1; nextId })

    // version → active row ids
    val model = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val first = batch(4)
    TableBuilder.create(spark,
      first.map(i => (i, s"r$i")).toDF("id", "v").repartition(2), p)
    model += first.toSet

    def live(): Set[Long] =
      spark.read.format("graft").option("path", p).load()
        .select("id").as[Long].collect().toSet

    for (step <- 1 to 20) {
      val op = rnd.nextInt(5) match {
        case 0 => // append 1-4 fresh rows
          val b = batch(1 + rnd.nextInt(4))
          TableBuilder.append(spark,
            b.map(i => (i, s"r$i")).toDF("id", "v"), p, timestamp = step * 1000L)
          model += model.last ++ b
          s"append(${b.mkString(",")})"
        case 1 => // delete a random residue class
          val m = 2 + rnd.nextInt(3)
          val r = rnd.nextInt(m)
          TableBuilder.deleteWhere(spark, p, col("id") % m === r, timestamp = step * 1000L)
          model += model.last.filterNot(i => i % m == r)
          s"delete(id % $m == $r)"
        case 2 => // restore to a random past version
          val tgt = rnd.nextInt(model.size)
          Restore.restore(spark, p, tgt.toLong, timestamp = step * 1000L)
          model += model(tgt)
          s"restore(v$tgt)"
        case 3 => // deletion-vector delete of a random residue class
          val m = 2 + rnd.nextInt(3)
          val r = rnd.nextInt(m)
          TableBuilder.deleteWhereDV(spark, p, col("id") % m === r,
            timestamp = step * 1000L)
          model += model.last.filterNot(i => i % m == r)
          s"dvDelete(id % $m == $r)"
        case 4 => // compact: layout-only, rows unchanged, version advances
          TableBuilder.compact(spark, p, timestamp = step * 1000L)
          model += model.last
          "compact"
      }
      GraftLog.invalidateListing(p)
      assert(live() === model.last, s"live state diverged at step $step ($op)")
    }

    // every recorded version still time-travels to its model state
    val log = new GraftLog(p, conf)
    assert(log.latestVersion() === model.size - 1)
    model.zipWithIndex.foreach { case (expect, v) =>
      val got = spark.read.format("graft").option("path", p)
        .option("versionAsOf", v.toString).load()
        .select("id").as[Long].collect().toSet
      assert(got === expect, s"time travel to v$v diverged")
    }
  }
}
