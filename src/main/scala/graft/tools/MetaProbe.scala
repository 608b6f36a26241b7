package graft.tools

import org.apache.hadoop.conf.Configuration

import graft.log.{GraftCatalog, GraftLog}
import graft.model._
import graft.server.{GraftServer, ServerConfig}

/** Streaming catch-up probe over a many-commit synthetic table: for each
  * file count N it synthesizes a graft-format table of N/100 commits × 100
  * AddFiles (realistic per-file stats, a 200-date partition dimension,
  * automatic checkpoints) and drives the local and remote streaming
  * sources, plain and CDF, to AvailableNow exhaustion, timing each
  * trigger's offset walk and batch planning and counting the files the
  * remote source signs before its first trigger. Per-trigger cost must be
  * flat in the remaining backlog.
  *
  * The replay, stats-skipping, listing and pagination probes that used to
  * live here are covered by `perfbench`'s traced `provider_query` run
  * (`log.*`, `predicates.*`, `server.*` at 10^5 files).
  *
  * Usage: tools/run.sh graft.tools.MetaProbe [counts]
  * e.g.   tools/run.sh graft.tools.MetaProbe 10000,100000
  */
object MetaProbe {

  private val SCHEMA =
    """{"type":"struct","fields":[
      |{"name":"id","type":"long","nullable":false,"metadata":{}},
      |{"name":"amount","type":"double","nullable":true,"metadata":{}},
      |{"name":"category","type":"string","nullable":true,"metadata":{}},
      |{"name":"ds","type":"string","nullable":false,"metadata":{}}
      |]}""".stripMargin.replaceAll("\n", "")

  private val DATES = 200
  private def ds(i: Int): String =
    java.time.LocalDate.of(2026, 1, 1).plusDays(i % DATES).toString

  /** Synthesize a graft-format table with `n` active AddFiles across
    * `commits` commits (automatic checkpoints at the configured cadence).
    * Stats mirror what a real writer records: id ranges tile [0, 5e6·n)
    * so a range predicate has a knowable selectivity.
    */
  private def generate(path: String, n: Int, conf: Configuration,
      commits: Int = 20): Unit = {
    val dir = new java.io.File(path)
    if (dir.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(dir)
      GraftLog.invalidateListing(path)
    }
    val perCommit = n / commits
    val rowsPerFile = 5000000L
    var fileIdx = 0
    (0 until commits).foreach { v =>
      val files = (0 until perCommit).map { _ =>
        val i = fileIdx
        fileIdx += 1
        val lo = i.toLong * rowsPerFile
        val hi = lo + rowsPerFile - 1
        AddFile(
          path = s"ds=${ds(i)}/part-$i.parquet",
          partitionValues = Map("ds" -> ds(i)),
          size = 1000000000L,
          modificationTime = 1700000000000L + i,
          stats = Some(FileStats(
            numRecords = rowsPerFile,
            minValues = Map("id" -> lo.toString, "amount" -> "0.01",
              "category" -> s"cat${i % 7}"),
            maxValues = Map("id" -> hi.toString, "amount" -> "9999.99",
              "category" -> s"cat${i % 7}"),
            nullCount = Map("id" -> 0L, "amount" -> 3L, "category" -> 0L))),
          version = v,
          timestamp = 1700000000000L + v * 60000L)
      }
      val actions: Seq[Action] =
        if (v == 0)
          Seq(Protocol(), Metadata(id = s"metaprobe-$n", name = s"meta$n",
            schemaString = SCHEMA, partitionColumns = Seq("ds"),
            // CDF enabled so the stream section can drive the /changes
            // admission path against the same backlog
            configuration = Map("delta.enableChangeDataFeed" -> "true"))) ++ files
        else files
      GraftLog.commit(path, v, actions, conf)
    }
  }

  def main(args: Array[String]): Unit = {
    val counts = args.headOption.getOrElse("10000,30000,100000")
      .split(',').map(_.trim.toInt).toSeq
    val conf = new Configuration()
    val spark = graft.Harness.session()
    val outDir = s"${graft.log.SharedFixtures.targetDir}/metaprobe"

    counts.foreach { n =>
      // --- streaming backlog: a MANY-COMMIT history (n/100 versions ×
      // 100 files) consumed to AvailableNow exhaustion, local and remote.
      // Per-trigger offset+batch-planning cost must be flat in the
      // REMAINING backlog — an offset resolver that re-walks (or, remote,
      // re-FETCHES) everything from the current offset to latest per
      // trigger is quadratic across the stream. The remote first-trigger
      // sign count exposes eager whole-backlog fetching: a windowed
      // fetcher signs ~(window) files before trigger 1; an eager one
      // signs all n.
      import org.apache.spark.sql.connector.read.streaming.ReadLimit
      val versions = n / 100
      val spath = s"$outDir/s$n"
      generate(spath, n, conf, commits = versions)
      GraftLog.invalidateListing(spath)
      val perTrigger = 1000
      val limit = ReadLimit.maxFiles(perTrigger)

      type COffset = org.apache.spark.sql.connector.read.streaming.Offset
      type V1Offset = org.apache.spark.sql.execution.streaming.Offset
      // one trigger = latestOffset + getBatch PLANNING (the DataFrame is
      // metadata-only and never executed) — the real per-trigger tax
      def drive(latest: (COffset, ReadLimit) => COffset,
          batch: (Option[V1Offset], V1Offset) => Unit): (Int, Seq[Double]) = {
        val times = Seq.newBuilder[Double]
        var prev: COffset = null
        var triggers = 0
        var done = false
        while (!done) {
          val t0 = System.nanoTime()
          val cur = latest(prev, limit)
          if (cur == null || cur == prev) done = true
          else {
            batch(Option(prev).map(_.asInstanceOf[V1Offset]),
              cur.asInstanceOf[V1Offset])
            times += (System.nanoTime() - t0) / 1e6
            triggers += 1
            prev = cur
          }
        }
        (triggers, times.result())
      }
      def stats(ts: Seq[Double]): Map[String, Any] = Map(
        "first_ms" -> ts.head.round, "mid_ms" -> ts(ts.size / 2).round,
        "last_ms" -> ts.last.round, "total_ms" -> ts.sum.round)
      val wantTriggers = math.ceil(n.toDouble / perTrigger).toInt

      // local source
      val lSrc = new graft.streaming.GraftSource(spark, spath,
        Map("startingVersion" -> "0", "maxFilesPerTrigger" -> perTrigger.toString))
      val (lTrig, lTimes) = drive(lSrc.latestOffset, (s, e) => lSrc.getBatch(s, e))
      require(lTrig == wantTriggers,
        s"local stream made $lTrig triggers for $n files @ $perTrigger")

      // remote source (version-window RPCs, throttle disabled)
      GraftCatalog.register(s"share1.default.stream$n", spath)
      val server = new GraftServer(ServerConfig(bearerToken = Some("probe")),
        conf).start()
      val (rTrig, rTimes, firstSign, totalSign) = try {
        val client = new graft.client.GraftRestClient(server.url, Some("probe"))
        val src = new graft.streaming.RemoteGraftSource(spark, client,
          "share1", "default", s"stream$n",
          Map("startingVersion" -> "0", "maxFilesPerTrigger" -> perTrigger.toString,
            "maxVersionsPerRpc" -> "100", "queryTableVersionIntervalSeconds" -> "0"))
        val s0 = server.signCount.get()
        var fSign = -1L
        val (t, ts) = drive(
          (o, l) => {
            val r = src.latestOffset(o, l)
            if (fSign < 0) fSign = server.signCount.get() - s0
            r
          },
          (s, e) => src.getBatch(s, e))
        (t, ts, fSign, server.signCount.get() - s0)
      } finally {
        server.stop()
        GraftCatalog.unregister(s"share1.default.stream$n")
      }
      require(rTrig == wantTriggers,
        s"remote stream made $rTrig triggers for $n files @ $perTrigger")

      // CDF drains (whole-version atomic admission over the same
      // backlog; offset walk only — the synthetic files have no real
      // parquet, so batch assembly is out of scope here). The same
      // lazy-walk contract applies: per-trigger cost flat in the
      // remaining versions, remote trigger 1 fetches one window.
      val lcSrc = new graft.streaming.GraftSource(spark, spath,
        Map("startingVersion" -> "0", "readChangeFeed" -> "true",
          "maxFilesPerTrigger" -> perTrigger.toString))
      val (lcTrig, lcTimes) = drive(lcSrc.latestOffset, (_, _) => ())
      require(lcTrig == versions * 100 / perTrigger,
        s"local cdf made $lcTrig triggers")

      GraftCatalog.register(s"share1.default.streamc$n", spath)
      val server2 = new GraftServer(ServerConfig(bearerToken = Some("probe")),
        conf).start()
      val (rcTrig, rcTimes, rcFirstSign) = try {
        val client = new graft.client.GraftRestClient(server2.url, Some("probe"))
        val src = new graft.streaming.RemoteGraftSource(spark, client,
          "share1", "default", s"streamc$n",
          Map("startingVersion" -> "0", "readChangeFeed" -> "true",
            "maxFilesPerTrigger" -> perTrigger.toString,
            "maxVersionsPerRpc" -> "100",
            "queryTableVersionIntervalSeconds" -> "0"))
        val s0 = server2.signCount.get()
        var fSign = -1L
        val (t, ts) = drive(
          (o, l) => {
            val r = src.latestOffset(o, l)
            if (fSign < 0) fSign = server2.signCount.get() - s0
            r
          },
          (_, _) => ())
        (t, ts, fSign)
      } finally {
        server2.stop()
        GraftCatalog.unregister(s"share1.default.streamc$n")
      }
      require(rcTrig == versions * 100 / perTrigger,
        s"remote cdf made $rcTrig triggers")

      row ++= Map("n" -> n, "stream_versions" -> versions,
        "stream_triggers" -> lTrig)
      row ++= stats(lTimes).map { case (k, v) => s"local_$k" -> v }
      row ++= stats(rTimes).map { case (k, v) => s"remote_$k" -> v }
      row ++= Map("remote_first_trigger_sign" -> firstSign,
        "remote_total_sign" -> totalSign)
      row ++= stats(lcTimes).map { case (k, v) => s"local_cdf_$k" -> v }
      row ++= stats(rcTimes).map { case (k, v) => s"remote_cdf_$k" -> v }
      row ++= Map("remote_cdf_first_trigger_sign" -> rcFirstSign)
      rows += JsonUtils.toJson(row.toMap)
      row.clear()
    }

    val lines = rows.result()
    lines.foreach(println)
    new java.io.File(outDir).mkdirs()
    val out = new java.io.PrintWriter(s"$outDir/results.json")
    try lines.foreach(out.println) finally out.close()
    spark.stop()
  }

  private val rows = Seq.newBuilder[String]
  private val row = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}
