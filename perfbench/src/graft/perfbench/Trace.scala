package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a module's public API, made by the benchmark. */
case class Span(id: Long, parent: Long, op: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Spans of one operation share `op`; a span
  * opened inside another records it as `parent`. Disabled, `span` only
  * runs the body, so untraced runs pay one branch per call.
  */
class Trace {
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val opId = ThreadLocal.withInitial[Long](() => 0L)

  def beginOp(): Unit = opId.set(ids.incrementAndGet())

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0L), opId.get(), name,
          t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def durations(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def meanMs(name: String): Double = Stats.mean(durations(name))

  def medianMs(name: String): Double = Stats.median(durations(name))

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

/** Spark work per window: jobs, stages, tasks and task metrics, plus the
  * stage intervals needed for the driver-gap computation.
  */
class PlanListener extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val cpuNs, schedDelayMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val recordsRead = new AtomicLong
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      intervals.add((s * 1000000L, c * 1000000L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      val info = e.taskInfo
      val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
      schedDelayMs.addAndGet(math.max(0L, info.duration - busy))
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Union (ms) of stage intervals overlapping [startNs, endNs] on the
    * wall clock; stage times are epoch ms, so callers pass epoch nanos.
    */
  def stageUnionMs(fromEpochNs: Long, toEpochNs: Long): Double =
    Stats.unionNs(intervals.asScala.toSeq.collect {
      case (s, c) if c >= fromEpochNs && s <= toEpochNs =>
        (math.max(s, fromEpochNs), math.min(c, toEpochNs))
    }) / 1e6

  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "cpu_ns" -> cpuNs.get, "sched_ms" -> schedDelayMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get,
    "spill" -> spill.get, "records" -> recordsRead.get)
}

/** Spark work of a window for the `plan.*` per-layer metrics: listener
  * deltas and the per-op driver gap.
  */
class PlanStats(spark: SparkSession) {
  val listener = new PlanListener
  spark.sparkContext.addSparkListener(listener)
  private var base = listener.snapshot()
  private val intervals = new ConcurrentLinkedQueue[(Long, Long)]

  def begin(): Unit = { base = listener.snapshot(); intervals.clear() }

  /** Record one op's wall interval (epoch nanos) for the driver-gap metric;
    * stage events land asynchronously, so the gap is computed after the window.
    */
  def op(startEpochNs: Long, endEpochNs: Long): Unit = intervals.add((startEpochNs, endEpochNs))

  def delta(): Map[String, Double] = {
    val now = listener.snapshot()
    now.map { case (k, v) => k -> (v - base(k)).toDouble }
  }

  def layers(ops: Int): Map[String, Double] = {
    Thread.sleep(200) // let the listener bus drain
    val d = delta()
    val n = math.max(1, ops).toDouble
    val gap = intervals.asScala.toSeq.map { case (s, e) =>
      (e - s) / 1e6 - listener.stageUnionMs(s, e)
    }
    Map(
      "plan.jobs" -> d("jobs") / n,
      "plan.stages" -> d("stages") / n,
      "plan.tasks" -> d("tasks") / n,
      "plan.executor_cpu_ms" -> d("cpu_ns") / 1e6 / n,
      "plan.scheduler_delay_ms" -> d("sched_ms") / n,
      "plan.shuffle_read_mb" -> d("shuffle_read") / 1048576.0 / n,
      "plan.shuffle_write_mb" -> d("shuffle_write") / 1048576.0 / n,
      "plan.spill_mb" -> d("spill") / 1048576.0 / n,
      "plan.driver_gap_ms" -> Stats.mean(gap))
  }
}

object PlanStats {
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}
