package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Materialize}

/** The pin lifecycle: one build per pinned frame whatever its consumers'
  * plans, and scopes that belong to the thread that opened them.
  */
class MaterializeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def beforeAll(): Unit = spark.sparkContext.setLogLevel("WARN")
  override def afterAll(): Unit = spark.stop()

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a scope's exit frees only its own thread's pins") {
    val before = persistent
    // every evaluation of the counted column bumps the accumulator, so a
    // recompute of a pinned frame shows as a change in its value
    val evals = spark.sparkContext.longAccumulator("evals")
    val counted = udf((x: Long) => { evals.add(1); x })
    def pipeline(n: Int) = spark.range(n).select(
      counted(col("id")).as("x"),
      transform(array(col("id"), col("id") + 1), v => v * 2).as("xs"))

    val bBuilt = new CountDownLatch(1)
    val aDone = new CountDownLatch(1)
    @volatile var recomputed = -1L
    @volatile var bSum = -1L
    @volatile var failure: Throwable = null
    def guarded(body: => Unit): Thread = new Thread(() =>
      try body catch { case t: Throwable => failure = t; bBuilt.countDown(); aDone.countDown() })

    val a = guarded {
      Materialize.scoped {
        val p = Materialize.pin(pipeline(300))
        assert(p.count() === 300)
        assert(bBuilt.await(60, TimeUnit.SECONDS))
      }
      Dedup.releasePersisted()
      aDone.countDown()
    }
    val b = guarded {
      Materialize.scoped {
        val p = Materialize.pin(pipeline(1000))
        assert(p.count() === 1000)
        bBuilt.countDown()
        assert(aDone.await(60, TimeUnit.SECONDS))
        val seen = evals.value
        // a second consumer with a different plan reads the same blocks
        bSum = p.agg(sum(col("x")) + sum(size(col("xs")))).first().getLong(0)
        recomputed = evals.value - seen
      }
    }
    a.start(); b.start()
    a.join(120000); b.join(120000)
    if (failure != null) throw failure
    assert(bSum === (0L until 1000L).sum + 2000L)
    assert(recomputed === 0L, "thread A's release must not free thread B's pin")
    assert(persistent -- before === Set.empty[Int], "both scopes released their pins")
  }

  test("release frees one pin early; its built consumer keeps its own blocks") {
    val before = persistent
    Materialize.scoped {
      val round1 = Materialize.pin(spark.range(100).select((col("id") % 10).as("k")))
      val round2 = Materialize.pin(round1.groupBy("k").count())
      assert(round2.count() === 10)
      Materialize.release(round1)
      assert(round2.agg(sum("count")).first().getLong(0) === 100L)
      assert((persistent -- before).size === 1, "only round 2 stays pinned")
    }
    assert(persistent -- before === Set.empty[Int])
  }
}
