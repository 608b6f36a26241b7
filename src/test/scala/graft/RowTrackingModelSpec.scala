package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log._

/** Model-based check of row-tracking invariants: a random sequence of
  * append / DV-delete / rewrite-delete / update / compact / zorder /
  * merge on a row-tracked table, asserting after EVERY step:
  *
  *  1. `_row_id` values are unique;
  *  2. the `delta.rowTracking` watermark is monotone non-decreasing and
  *     bounds every id;
  *  3. the live key set matches the in-memory model;
  *  4. layout-only ops (compact / zorder) and DV deletes preserve every
  *     surviving key's id EXACTLY;
  *  5. appends keep existing ids and allocate new keys ABOVE the prior
  *     watermark;
  *  6. data-changing rewrites leave each surviving key's id either
  *     unchanged (file untouched) or freshly allocated above the prior
  *     watermark — never a reused id.
  */
class RowTrackingModelSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val root = s"${graft.log.SharedFixtures.targetDir}/test_rowtrack_model"

  override def beforeAll(): Unit = {
    spark.sparkContext.setLogLevel("WARN")
    val dir = new java.io.File(root)
    if (dir.exists()) org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
  override def afterAll(): Unit = spark.stop()

  private def conf = spark.sessionState.newHadoopConf()

  test("random op sequences uphold the row-tracking invariants") {
    import spark.implicits._
    val p = s"$root/t"
    GraftLog.invalidateListing(p)
    val rnd = new scala.util.Random(1234)
    var nextKey = 0L
    def batch(n: Int): Seq[Long] = (0 until n).map(_ => { nextKey += 1; nextKey })

    val first = batch(6)
    TableBuilder.create(spark,
      first.map(i => (i, s"r$i")).toDF("k", "v").repartition(2), p,
      configuration = Map(RowTracking.ENABLED_KEY -> "true"))
    var liveKeys: Set[Long] = first.toSet

    def mapping(): Map[Long, Long] =
      RowTracking.withRowIds(spark, p)
        .select(col("k"), col("_row_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hwm(): Long = RowTracking.highWaterMark(
      new GraftLog(p, conf).snapshot(None).domains)

    var prevMap = mapping()
    var prevHwm = hwm()
    assert(prevMap.keySet === liveKeys)
    assert(prevMap.values.toSeq.distinct.size === prevMap.size)

    for (step <- 1 to 18) {
      GraftLog.invalidateListing(p)
      val kind = rnd.nextInt(7)
      val opName = kind match {
        case 0 | 1 => // append fresh rows (most common op in real life)
          val b = batch(1 + rnd.nextInt(4))
          TableBuilder.append(spark,
            b.map(i => (i, s"r$i")).toDF("k", "v"), p, timestamp = step * 1000L)
          liveKeys ++= b; "append"
        case 2 => // DV delete ~1/4 of live keys
          val victims = liveKeys.filter(_ % 4 == step % 4)
          if (victims.nonEmpty) {
            TableBuilder.deleteWhereDV(spark, p,
              col("k").isin(victims.toSeq: _*), timestamp = step * 1000L)
            liveKeys --= victims
          }
          "dv_delete"
        case 3 => // rewrite delete of one key
          val victim = liveKeys.toSeq.sorted.headOption
          victim.foreach { k =>
            TableBuilder.deleteWhere(spark, p, col("k") === k, timestamp = step * 1000L)
            liveKeys -= k
          }
          "rw_delete"
        case 4 =>
          TableBuilder.compact(spark, p, timestamp = step * 1000L); "compact"
        case 5 =>
          TableBuilder.zorder(spark, p, Seq("k"), timestamp = step * 1000L); "zorder"
        case 6 => // merge: update one existing + insert one fresh
          val b = batch(1)
          val target = liveKeys.toSeq.sorted.last
          Merge.merge(spark, p,
            Seq((target, "upd"), (b.head, "ins")).toDF("k", "v"), "t.k = s.k",
            whenMatchedUpdate = Some(Map("v" -> "s.v")),
            whenNotMatchedInsert = Some(Map("k" -> "s.k", "v" -> "s.v")),
            timestamp = step * 1000L)
          liveKeys ++= b; "merge"
      }
      GraftLog.invalidateListing(p)
      val m = mapping()
      val w = hwm()
      val ctx = s"step $step ($opName)"
      // 1. uniqueness
      assert(m.values.toSeq.distinct.size === m.size, s"$ctx: duplicate row ids")
      // 2. watermark monotone, bounds ids
      assert(w >= prevHwm, s"$ctx: watermark went backwards ($prevHwm -> $w)")
      assert(m.values.forall(_ <= w), s"$ctx: id above watermark $w")
      // 3. key set
      assert(m.keySet === liveKeys, s"$ctx: key drift")
      // 4/5/6. per-op stability contract
      opName match {
        case "dv_delete" | "compact" | "zorder" =>
          m.foreach { case (k, id) =>
            assert(prevMap(k) === id, s"$ctx: key $k id changed ${prevMap(k)} -> $id")
          }
        case "append" =>
          prevMap.foreach { case (k, id) =>
            assert(m(k) === id, s"$ctx: existing key $k id changed")
          }
          (m.keySet -- prevMap.keySet).foreach { k =>
            assert(m(k) > prevHwm, s"$ctx: new key $k id ${m(k)} not above $prevHwm")
          }
        case "rw_delete" | "merge" =>
          m.foreach { case (k, id) =>
            prevMap.get(k).foreach { old =>
              assert(id == old || id > prevHwm,
                s"$ctx: key $k id $old -> $id reuses a retired id")
            }
          }
      }
      prevMap = m
      prevHwm = w
    }
    // end state sanity: many ops later the table still reads clean
    assert(mapping().size === liveKeys.size)
  }
}
