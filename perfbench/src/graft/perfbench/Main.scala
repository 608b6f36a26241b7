package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.model.JsonUtils

/** The benchmark's inputs, written by `perfbench/run.py` as one JSON file. */
class Ctx(val spec: Map[String, Any]) {
  def str(k: String): String = spec(k).toString
  def int(k: String): Int = spec(k).asInstanceOf[Number].intValue()
  def dbl(k: String): Double = spec(k).asInstanceOf[Number].doubleValue()
  def seq(k: String): Seq[Any] = spec(k).asInstanceOf[Seq[Any]]
  def map(k: String): Map[String, Any] = spec(k).asInstanceOf[Map[String, Any]]
  val workload: String = str("workload")
  val seconds: Double = dbl("seconds")
  val traced: Boolean = int("trace") == 1
  val work: String = str("work")
  val data: String = str("data")
}

/** Operation log: (kind, start, end, ok, traced half) per operation. */
class OpLog {
  val ops = new ConcurrentLinkedQueue[(String, Long, Long, Boolean, Boolean)]
  @volatile var traced = false
  def add(kind: String, startNs: Long, endNs: Long, ok: Boolean): Unit =
    ops.add((kind, startNs, endNs, ok, traced))
  def count(traced: Boolean): Int = ops.asScala.count(_._5 == traced)
}

object Checks {
  /** Numbers equal to a relative 1e-9: the recipient answer comparison. */
  def close(got: Seq[Double], want: Seq[Double]): Boolean =
    got.size == want.size && got.zip(want).forall { case (g, w) =>
      math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w))
    }
}

/** Output checks: every wrong result counts as a failed operation. */
class Checks {
  val attempted, failed = new java.util.concurrent.atomic.AtomicLong
  val messages = new ConcurrentLinkedQueue[String]
  def apply(ok: Boolean, what: => String): Boolean = {
    attempted.incrementAndGet()
    if (!ok) {
      failed.incrementAndGet()
      if (messages.size < 20) messages.add(what)
    }
    ok
  }
}

trait Workload {
  def needsSpark: Boolean = true
  /** Write the workload's tables (once per run, outside `setup_s`). */
  def prepare(): Unit = ()
  /** Bring the serving side up from cold process caches: register tables,
    * start services, warm up. Repeatable; `setup_s` is its median time.
    */
  def setup(rep: Int): Unit
  /** Drive the workload for `seconds`, logging every operation. */
  def window(seconds: Double, log: OpLog, checks: Checks): Unit
  /** Mark the start of the traced half: snapshot counters. */
  def beginTraced(): Unit = ()
  /** Per-layer metrics over the traced half, plus post-window probes. */
  def layers(): Map[String, Double]
  /** Post-run output checks (outside the timed window). */
  def verify(checks: Checks): Unit = ()
  /** Workload properties recorded in every result. */
  def properties: Map[String, Any] = Map.empty
  def close(): Unit = ()
}

object Main {
  val SETUP_REPS = 3
  /** Untimed ops after set-up, so the window starts with JIT-compiled paths. */
  val SETTLE_S = 2.0

  /** Parse JSON into Scala maps, sequences and boxed scalars. */
  def parseJson(s: String): Any = {
    def conv(x: Any): Any = x match {
      case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> conv(v) }.toMap
      case l: java.util.List[_] => l.asScala.map(conv).toIndexedSeq
      case other => other
    }
    conv(new com.fasterxml.jackson.databind.ObjectMapper().readValue(s, classOf[Object]))
  }

  def session(ctx: Ctx): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${ctx.work}/hadoop-tmp")
    val s = (if (ctx.traced)
      b.config("spark.hadoop.fs.graft.impl", classOf[CountingGraftFileSystem].getName)
    else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A fixed CPU kernel; its time flags host drift between runs. The
    * fastest of three repetitions, so a brief stall of one does not count.
    */
  def calibMs(): Double = (0 until 3).map { _ =>
    Stats.timeMs {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      calibSink = acc // keeps the loop from being optimised away
    }._1
  }.min
  @volatile private var calibSink = 0L

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(50); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val ctx = new Ctx(parseJson(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(args(0))), "UTF-8")).asInstanceOf[Map[String, Any]])
    val trace = new Trace
    // start, middle (after set-up) and end of every run, traced or not
    val calib = Seq.newBuilder[Double]
    calib += calibMs()
    lazy val spark = session(ctx)
    val w: Workload = ctx.workload match {
      case "recipient_read" => new RecipientRead(ctx, spark, trace)
      case "provider_query" => new ProviderQuery(ctx, trace)
      case "provider_churn" => new ProviderChurn(ctx, spark, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (w.needsSpark) spark
    val (prepareMs, _) = Stats.timeMs(w.prepare())
    val setupS = (0 until SETUP_REPS).map { rep =>
      Stats.timeMs(w.setup(rep))._1 / 1000.0
    }
    calib += calibMs()

    val checks = new Checks
    w.window(SETTLE_S, new OpLog, checks)
    val log = new OpLog
    var layers = Map.empty[String, Double]
    val t0 = System.nanoTime()
    if (!ctx.traced) w.window(ctx.seconds, log, checks)
    else {
      // first half untraced, second half traced: the throughput ratio is
      // the tracing overhead
      w.window(ctx.seconds / 2, log, checks)
      val gc0 = gcMs()
      trace.enabled = true
      log.traced = true
      w.beginTraced()
      w.window(ctx.seconds / 2, log, checks)
      trace.enabled = false
      val gcTraced = gcMs() - gc0
      val tracedOps = log.count(traced = true)
      val untracedOps = log.count(traced = false)
      layers = w.layers() ++ Map(
        "jvm.gc_ms" -> gcTraced.toDouble / math.max(1, tracedOps),
        "trace.overhead_frac" ->
          (if (untracedOps == 0) 0.0 else 1.0 - tracedOps.toDouble / untracedOps))
    }
    val windowS = (System.nanoTime() - t0) / 1e9
    val heapMb = liveHeapMb()
    calib += calibMs()
    val calibRuns = calib.result()
    val calibMedianMs = Stats.median(calibRuns)
    w.verify(checks)
    val props = w.properties
    w.close()
    if (ctx.traced) {
      layers += "host.calib_ms" -> calibMedianMs
      trace.write(s"${ctx.work}/spans.jsonl")
    }

    val opsOut = new java.io.PrintWriter(s"${ctx.work}/ops.tsv", "UTF-8")
    try log.ops.asScala.foreach { case (k, s, e, ok, tr) =>
      opsOut.println(s"$k\t$s\t$e\t${if (ok) 1 else 0}\t${if (tr) 1 else 0}")
    } finally opsOut.close()

    val result = Map(
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "live_heap_mb" -> heapMb,
      "checks_attempted" -> checks.attempted.get,
      "checks_failed" -> checks.failed.get,
      "check_messages" -> checks.messages.asScala.toSeq,
      "layers" -> layers,
      "properties" -> (props ++ Map(
        "prepare_s" -> prepareMs / 1000.0,
        "host.calib_ms" -> calibMedianMs,
        "host.calib_runs_ms" -> calibRuns)))
    java.nio.file.Files.write(java.nio.file.Paths.get(ctx.str("out")),
      JsonUtils.toJson(result).getBytes("UTF-8"))
    // Spark and HTTP server threads are non-daemon; end the JVM explicitly
    // once everything is written and closed.
    if (w.needsSpark) spark.stop()
    System.exit(0)
  }
}
