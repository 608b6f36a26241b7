package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit

import graft.client.GraftRestClient
import graft.log.{GraftCatalog, GraftLog}
import graft.model._
import graft.server.{GraftServer, ServerConfig}
import graft.streaming.{GraftSourceOffset, RemoteGraftSource}

/** provider_churn: one open-loop writer commits metadata-only versions at
  * a fixed rate while three closed-loop followers track the head: two
  * `RemoteGraftSource`s (offset + batch planning) and one CDF follower over
  * `GraftRestClient.changes`. One operation is one follower trigger that
  * moved past the head: offset resolution and batch planning for a source,
  * the version probe and `/changes` fetch for the CDF follower. Polls that
  * find nothing new are counted (`streaming.empty_poll_ratio`), not timed.
  */
class ProviderChurn(ctx: Ctx, spark: => SparkSession, trace: Trace) extends Workload {
  private val conf = new Configuration()
  private val files = Synth.read(ctx.str("synth_tsv"))
  private val commits = ctx.seq("commits").map(_.asInstanceOf[Map[String, Any]]).toIndexedSeq
  private val rate = ctx.dbl("rate")
  private val token = "perfbench-token"
  private val table = "churn"
  private val base = files.map(_.version).max.toLong // head before the writer starts
  private val Followers = 3

  private var path: String = _
  private var server: GraftServer = _
  private var sources: Seq[RemoteGraftSource] = Nil
  private var cdfClient: GraftRestClient = _

  // writer state, kept across the two halves of a traced run
  @volatile private var next = 0 // index into `commits` of the next commit
  private val ackNs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val dueNs = new ConcurrentHashMap[Long, java.lang.Long]()
  private val commitMs = new ConcurrentHashMap[Long, java.lang.Double]()
  private val lateMs = new AtomicLong
  // follower state: covered version and per-version visibility times
  private val covered = new AtomicLongArray(Followers)
  private val prevOffset = new Array[GraftSourceOffset](2)
  private val visible = new ConcurrentHashMap[Long, Array[Long]]()
  private val polls, emptyPolls, triggers, cdfSigned = new AtomicLong
  private var log: OpLog = _
  private var checks: Checks = _
  private var base0: Map[String, Long] = Map.empty
  private var plan: PlanStats = _

  override def prepare(): Unit = {
    path = s"${ctx.work}/provider_churn"
    Synth.write(path, table, files, conf)
  }

  def setup(rep: Int): Unit = {
    close()
    if (plan == null) plan = new PlanStats(spark)
    GraftLog.invalidateListing(path)
    GraftCatalog.register(s"share1.default.$table", path)
    server = new GraftServer(ServerConfig(bearerToken = Some(token)), conf).start()
    val url = server.url
    sources = (0 until 2).map(_ => new RemoteGraftSource(spark, new GraftRestClient(url, Some(token)),
      "share1", "default", table, Map("startingVersion" -> base.toString,
        "queryTableVersionIntervalSeconds" -> "0", "ignoreChanges" -> "true")))
    cdfClient = new GraftRestClient(url, Some(token))
    // warm-up: each follower consumes the starting version once
    sources.zipWithIndex.foreach { case (s, i) =>
      prevOffset(i) = null
      follow(i, s)
    }
    (0 until Followers).foreach(i => covered.set(i, base))
    cdfClient.changes("share1", "default", table,
      Map("startingVersion" -> base.toString, "endingVersion" -> base.toString))
  }

  private def actionsOf(c: Map[String, Any], v: Long, ts: Long): Seq[Action] = {
    val adds = c("adds").asInstanceOf[Seq[Seq[Any]]].map { a =>
      Synth.add(Synth.F(v.toInt, a(0).toString, a(1).toString,
        a(2).asInstanceOf[Number].longValue(), a(3).asInstanceOf[Number].longValue(),
        a(4).asInstanceOf[Number].longValue(), a(5).asInstanceOf[Number].intValue()), ts)
    }
    val removes = c("removes").asInstanceOf[Seq[Any]].map(p =>
      RemoveFile(p.toString, dataChange = true, version = v, timestamp = ts))
    adds ++ removes
  }

  private def expectedAdds(from: Long, to: Long): Int =
    (from to to).map(v => if (v == base) files.count(_.version == base) else 50).sum

  /** Files in a planned (never executed) streaming batch. */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum

  /** One trigger of source `i`: latestOffset, then batch planning. False
    * when the poll found nothing new.
    */
  private def follow(i: Int, src: RemoteGraftSource): Boolean = {
    val prev = prevOffset(i)
    val t0 = System.nanoTime()
    val cur = trace.span("streaming.latest_offset")(
      src.latestOffset(prev, ReadLimit.allAvailable()))
    polls.incrementAndGet()
    if (cur == null || cur == prev) { emptyPolls.incrementAndGet(); return false }
    val to = GraftSourceOffset(cur.asInstanceOf[org.apache.spark.sql.execution.streaming.Offset])
    val df = trace.span("streaming.get_batch")(
      src.getBatch(Option(prev), to))
    triggers.incrementAndGet()
    val through = if (to.index == GraftSourceOffset.VERSION_CONSUMED) to.tableVersion - 1
      else to.tableVersion
    val from = if (prev == null) base else covered.get(i) + 1
    val planned = plannedFiles(df)
    val ok = planned == expectedAdds(from, through)
    if (log != null)
      log.add("source_trigger", t0, System.nanoTime(),
        checks(ok, s"source $i batch $from..$through planned $planned files"))
    prevOffset(i) = to
    markVisible(i, through)
    true
  }

  private def followCdf(): Boolean = {
    val last = covered.get(2)
    val t0 = System.nanoTime()
    val head = cdfClient.tableVersion("share1", "default", table)
    polls.incrementAndGet()
    if (head <= last) { emptyPolls.incrementAndGet(); return false }
    val r = trace.span("client.query")(cdfClient.changes("share1", "default", table,
      Map("startingVersion" -> (last + 1).toString, "endingVersion" -> head.toString)))
    cdfSigned.addAndGet(r.adds.size + r.removes.size)
    val n = head - last
    log.add("cdf_trigger", t0, System.nanoTime(),
      checks(r.adds.size == 50 * n && r.removes.size == 10 * n,
        s"cdf ${last + 1}..$head returned ${r.adds.size} adds, ${r.removes.size} removes"))
    markVisible(2, head)
    true
  }

  /** Follower `f` now covers every version up to `through`. */
  private def markVisible(f: Int, through: Long): Unit = {
    val now = System.nanoTime()
    val from = covered.get(f) + 1
    covered.set(f, math.max(covered.get(f), through))
    (from to through).foreach { v =>
      visible.computeIfAbsent(v, _ => Array.fill(Followers)(-1L))(f) = now
    }
  }

  def window(seconds: Double, log: OpLog, checks: Checks): Unit = {
    this.log = log
    this.checks = checks
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val first = next
    val writerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writer = new Thread(() => {
      var k = 0
      while (System.nanoTime() < deadline && next < commits.size) {
        val due = t0 + (k / rate * 1e9).toLong
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val v = base + 1 + next
        dueNs.put(v, due)
        val start = System.nanoTime()
        lateMs.addAndGet((start - due) / 1000000)
        val ts = Synth.versionTs(v)
        val name = if (v % GraftLog.CHECKPOINT_INTERVAL == 0) "log.commit_ckpt" else "log.commit"
        trace.span(name)(GraftLog.commit(path, v, actionsOf(commits(next), v, ts), conf))
        val ack = System.nanoTime()
        ackNs.put(v, ack)
        commitMs.put(v, (ack - due) / 1e6)
        next += 1
        k += 1
      }
      writerDone.set(true)
    })
    // followers stop once the writer is done and they cover its last version
    // (or 3 s after the deadline, so a stalled follower still ends the run)
    def caughtUp(f: Int) = writerDone.get && covered.get(f) >= base + next
    val hardStop = deadline + 3000000000L
    val followers = (0 until Followers).map { f =>
      new Thread(() => {
        while (!caughtUp(f) && System.nanoTime() < hardStop) {
          trace.beginOp()
          val moved =
            try { if (f < 2) follow(f, sources(f)) else followCdf() }
            catch { case e: Exception => checks(false, s"follower $f: ${e.getMessage}") }
          if (!moved) Thread.sleep(ProviderChurn.POLL_DELAY_MS)
        }
      })
    }
    writer.start()
    followers.foreach(_.start())
    writer.join()
    followers.foreach(_.join())
    (base + 1 + first to base + next).foreach { v =>
      checks((0 until Followers).forall(covered.get(_) >= v), s"version $v never became visible")
    }
  }

  private def counters(): Map[String, Long] = Map(
    "signed" -> server.signCount.get(), "listings" -> GraftLog.fullListings.get(),
    "polls" -> polls.get(), "empty" -> emptyPolls.get(), "triggers" -> triggers.get(),
    "cdf_signed" -> cdfSigned.get(), "graft_bytes" -> CountingGraftFileSystem.bytes.get())

  override def beginTraced(): Unit = {
    base0 = counters()
    plan.begin()
  }

  def layers(): Map[String, Double] = {
    val d = counters().map { case (k, v) => k -> (v - base0(k)).toDouble }
    val lags = for {
      v <- ackNs.keySet.asScala.toSeq
      seen <- Option(visible.get(v)).toSeq
      t <- seen if t >= 0
    } yield (t - ackNs.get(v)) / 1e6
    val commitLat = commitMs.values.asScala.map(_.doubleValue()).toSeq
    plan.layers(d("polls").toInt) ++
      Probes.log(path, conf, trace, Seq(base / 4, base / 2, 3 * base / 4)) ++ Map(
      "sources.graft_read_mb" -> d("graft_bytes") / 1048576.0 / math.max(1.0, d("polls")),
      "log.commit_ms" -> trace.medianMs("log.commit"),
      "log.commit_ckpt_ms" -> trace.medianMs("log.commit_ckpt"),
      "log.full_listings" -> d("listings"),
      "writer.commit_p50_ms" -> Stats.percentile(commitLat, 50),
      "writer.commit_p95_ms" -> Stats.percentile(commitLat, 95),
      "writer.late_ms" -> lateMs.get().toDouble / math.max(1, commitLat.size),
      "client.query_ms" -> trace.meanMs("client.query"),
      "streaming.latest_offset_ms" -> trace.meanMs("streaming.latest_offset"),
      "streaming.get_batch_ms" -> trace.meanMs("streaming.get_batch"),
      "streaming.files_signed_per_trigger" ->
        (d("signed") - d("cdf_signed")) / math.max(1.0, d("triggers")),
      "streaming.empty_poll_ratio" -> d("empty") / math.max(1.0, d("polls")),
      "streaming.visible_lag_p50_ms" -> Stats.percentile(lags, 50),
      "streaming.visible_lag_p95_ms" -> Stats.percentile(lags, 95),
      "server.files_signed" -> d("signed") / math.max(1.0, d("polls")))
  }

  override def verify(checks: Checks): Unit = {
    // a fresh log with every cache dropped holds exactly the files of the
    // initial table plus every acknowledged commit
    val live = ProviderChurn.liveFiles(files.map(_.path), commits.take(next))
    GraftLog.invalidateListing(path)
    val snap = new GraftLog(path, conf).snapshot(None)
    checks(snap.version == base + next, s"log head ${snap.version}, expected ${base + next}")
    checks(snap.files.map(_.path).toSet == live,
      s"log holds ${snap.files.size} files, expected ${live.size}")
  }

  override def properties: Map[String, Any] = Map(
    "initial_files" -> files.size, "initial_versions" -> (base + 1),
    "commits" -> next, "rate_per_s" -> rate,
    "adds_per_commit" -> 50, "removes_per_commit" -> 10)

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}

object ProviderChurn {
  /** Pause after a poll that found nothing new: Spark's default
    * `spark.sql.streaming.pollingDelay`, which a streaming query waits
    * before it polls its sources again.
    */
  val POLL_DELAY_MS = 10L

  /** Files live after applying `commits` (adds, then removes) to `initial`. */
  def liveFiles(initial: Seq[String], commits: Seq[Map[String, Any]]): Set[String] = {
    val live = scala.collection.mutable.Set(initial: _*)
    commits.foreach { c =>
      c("adds").asInstanceOf[Seq[Seq[Any]]].foreach(a => live += a.head.toString)
      c("removes").asInstanceOf[Seq[Any]].foreach(p => live -= p.toString)
    }
    live.toSet
  }
}
