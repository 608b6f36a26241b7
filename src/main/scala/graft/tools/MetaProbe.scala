package graft.tools

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.types.StringType

import graft.log.{GraftCatalog, GraftLog}
import graft.model._
import graft.predicates.{FileSkippingEvaluator, JsonPredicates}
import graft.server.{GraftServer, PartitionHintPruner, ServerConfig}

/** Metadata-engine scale probe: the reference's actual hot path is
  * file-METADATA processing — 10,000-file query pages
  * (`server/.../config/ServerConfig.scala:66-67,93`), paginated snapshot
  * queries (`DeltaSharedTable.scala:465-514`), O(files) log replay. A
  * 100 TB table at ~1 GB/file is ~10^5 AddFiles; every row-scale fixture
  * in the bench corpus is tens of files, so this probe is the only place
  * the action-count axis is exercised.
  *
  * For each file count N it synthesizes a graft-format table (20 commits
  * of N/20 AddFiles each, realistic per-file stats, 200-date partition
  * dimension, automatic checkpoint at v10) and times, driver-side:
  *
  *  - `replay_cold_ms`   snapshot() with every process cache dropped
  *                       (listing + checkpoint read + tail commits)
  *  - `replay_warm_ms`   snapshot() on a fresh GraftLog, process caches
  *                       warm (the per-request server path)
  *  - `replay_nocp_ms`   snapshot() after checkpoint files are deleted —
  *                       the documented full-replay degradation path
  *  - `skip_eval_ms`     V2 stats-skipping eval of a 2-leaf AND over all N
  *  - `hint_prune_ms`    SQL predicate-hint partition pruning over all N
  *  - `list_files_ms`    GraftFileIndex.listFiles → PartitionDirectory
  *                       construction for the full snapshot
  *  - `list_pruned_ms`   listFiles with a partition filter (1/20 of dates)
  *  - `paginate_total_ms`/`pages`/`page_ms` full /query pagination over
  *                       HTTP at the 10k-file page limit, token round-trips
  *  - `sign_small_page_ms` one maxFiles=100 page — signing must be
  *                       O(files-returned); if this tracks `page_ms` the
  *                       per-page cost is dominated by O(N) recompute
  *
  * Scaling verdicts are printed as t(100k)/t(10k) ratios — a metadata
  * engine whose per-op cost is O(N) should sit near 10, anything
  * superlinear (driver-quadratic replay, per-page full re-sort blowup)
  * shows up as >> 10.
  *
  * Usage: tools/run.sh graft.tools.MetaProbe [counts] [reps]
  * e.g.   tools/run.sh graft.tools.MetaProbe 10000,30000,100000 3
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

  /** Best-of-reps; the FIRST run is timed too (no untimed warm-up —
    * cold measurements must actually be cold).
    */
  private def timeMs[T](reps: Int)(body: => T): (Double, T) = {
    var best = Double.MaxValue
    var last: Option[T] = None
    (0 until reps).foreach { _ =>
      val t0 = System.nanoTime()
      val r = body
      best = math.min(best, (System.nanoTime() - t0) / 1e6)
      last = Some(r)
    }
    (best, last.get)
  }

  def main(args: Array[String]): Unit = {
    val counts = args.headOption.getOrElse("10000,30000,100000")
      .split(',').map(_.trim.toInt).toSeq
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sections = args.lift(2).getOrElse("meta,stream").split(',').toSet
    val conf = new Configuration()
    val spark = graft.Harness.session()
    val http = HttpClient.newHttpClient()

    counts.foreach { n =>
      if (sections("meta")) {
      val path = s"/root/repo/target/metaprobe/t$n"
      val genT0 = System.nanoTime()
      generate(path, n, conf)
      val genMs = (System.nanoTime() - genT0) / 1e6

      // --- replay: cold (all caches dropped), then warm (per-request shape)
      GraftLog.invalidateListing(path)
      val (coldMs, snap) = timeMs(1) { new GraftLog(path, conf).snapshot(None) }
      require(snap.files.size == n, s"replay lost files: ${snap.files.size} != $n")
      val (warmMs, _) = timeMs(reps) { new GraftLog(path, conf).snapshot(None) }

      // --- stats skipping: 2-leaf AND range on id covering ~10% of files
      val hi = (n.toLong * 5000000L) / 10
      val predJson =
        s"""{"op":"and","children":[
           |{"op":"greaterThanOrEqual","children":[
           |  {"op":"column","name":"id","valueType":"long"},
           |  {"op":"literal","value":"0","valueType":"long"}]},
           |{"op":"lessThan","children":[
           |  {"op":"column","name":"id","valueType":"long"},
           |  {"op":"literal","value":"$hi","valueType":"long"}]}
           |]}""".stripMargin.replaceAll("\n", "")
      val op = Some(JsonPredicates.fromJson(predJson))
      val (skipMs, kept) = timeMs(reps) {
        FileSkippingEvaluator.filterFiles(op, Seq("ds"), snap.files)
      }
      require(kept.size == n / 10, s"skip kept ${kept.size}, expected ${n / 10}")

      // --- SQL-hint partition pruning: 10 of 200 dates
      val pSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ds", StringType, nullable = false)))
      val hints = Seq(s"ds >= '2026-01-01' AND ds <= '2026-01-10'")
      val (hintMs, hintKept) = timeMs(reps) {
        PartitionHintPruner.prune(hints, pSchema, snap.files)
      }
      require(hintKept.size == n / 20,
        s"hint kept ${hintKept.size}, expected ${n / 20}")

      // --- FileIndex listing (PartitionDirectory construction)
      val idx = new graft.sources.GraftFileIndex(spark, path, snap)
      val (listMs, dirs) = timeMs(reps) { idx.listFiles(Nil, Nil) }
      require(dirs.map(_.files.size).sum == n)
      val dsAttr = AttributeReference("ds", StringType, nullable = false)()
      val pf = Seq(org.apache.spark.sql.catalyst.expressions.And(
        GreaterThanOrEqual(dsAttr, Literal("2026-01-01")),
        LessThanOrEqual(dsAttr, Literal("2026-01-10"))))
      val (listPrunedMs, pdirs) = timeMs(reps) { idx.listFiles(pf, Nil) }
      require(pdirs.map(_.files.size).sum == n / 20)

      // --- server pagination at the 10k page limit, full token walk
      GraftCatalog.register(s"share1.default.meta$n", path)
      val server = new GraftServer(ServerConfig(bearerToken = Some("probe")),
        conf).start()
      try {
        // one page fetch for BOTH pagination probes: `bodyBase` selects
        // snapshot vs version-range, `tag` the counted line kind
        def fetchPage(bodyBase: String, tag: String, tok: Option[String])
            : (Double, Int, Option[String]) = {
          val body = tok match {
            case Some(t) => s"""{$bodyBase,"pageToken":"$t"}"""
            case None    => s"""{$bodyBase}"""
          }
          val req = HttpRequest.newBuilder(URI.create(
            s"${server.url}/shares/share1/schemas/default/tables/meta$n/query"))
            .header("Authorization", "Bearer probe")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build()
          val t0 = System.nanoTime()
          val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
          val ms = (System.nanoTime() - t0) / 1e6
          require(resp.statusCode() == 200, s"query failed: ${resp.body().take(300)}")
          val lines = resp.body().split('\n').filter(_.nonEmpty)
          val count = lines.count(_.contains(s""""$tag""""))
          val next = lines.lastOption
            .map(JsonUtils.fromJson[graft.server.wire.Line](_))
            .flatMap(l => Option(l.endStreamAction).flatMap(e => Option(e.nextPageToken)))
          (ms, count, next)
        }
        def page(tok: Option[String], maxFiles: Int): (Double, Int, Option[String]) =
          fetchPage(s""""maxFiles":$maxFiles""", "file", tok)
        // cold first page, then walk
        var tok: Option[String] = None
        var pages = 0
        var total = 0
        var sumMs = 0.0
        val pageTimes = Seq.newBuilder[Double]
        var done = false
        while (!done) {
          val (ms, got, next) = page(tok, 10000)
          pages += 1; total += got; sumMs += ms; pageTimes += ms
          tok = next
          done = next.isEmpty
        }
        require(total == n, s"pagination lost files: $total != $n")
        // small page: signing O(returned) check — a 100-file page against
        // the same N-file table isolates the per-page O(N) recompute cost
        val (smallMs, smallGot, _) = page(None, 100)
        require(smallGot == 100)
        row ++= Map(
          "paginate_total_ms" -> sumMs.round, "pages" -> pages,
          "page_ms" -> pageTimes.result().map(_.round),
          "sign_small_page_ms" -> smallMs.round)

        // version-range (/changes-equivalent) pagination: the render-
        // thunk path — signing/serialization must be per-page
        def rangePage(tok: Option[String], maxFiles: Int): (Double, Int, Option[String]) =
          fetchPage(s""""startingVersion":0,"maxFiles":$maxFiles""", "add", tok)
        var rTok: Option[String] = None
        var rPages = 0
        var rTotal = 0
        var rSum = 0.0
        var rDone = false
        while (!rDone) {
          val (ms, got, next) = rangePage(rTok, 10000)
          rPages += 1; rTotal += got; rSum += ms
          rTok = next
          rDone = next.isEmpty
        }
        require(rTotal == n, s"range pagination lost adds: $rTotal != $n")
        // historical metaData lines share the page budget, so a
        // 100-entry page carries 99-100 adds
        val (rSmallMs, rSmallGot, _) = rangePage(None, 100)
        require(rSmallGot >= 99 && rSmallGot <= 100, s"got $rSmallGot")
        row ++= Map("range_paginate_total_ms" -> rSum.round,
          "range_pages" -> rPages, "range_small_page_ms" -> rSmallMs.round)
      } finally server.stop()

      // --- full-replay degradation: drop checkpoints, re-measure
      val logDir = new java.io.File(s"$path/${GraftLog.LOG_DIR}")
      logDir.listFiles().filter(f => f.getName.endsWith(".checkpoint.json") ||
        f.getName == GraftLog.LAST_CHECKPOINT).foreach(_.delete())
      GraftLog.invalidateListing(path)
      val (nocpMs, snap2) = timeMs(1) { new GraftLog(path, conf).snapshot(None) }
      require(snap2.files.size == n)
      row ++= Map("n" -> n, "gen_ms" -> genMs.round,
        "replay_cold_ms" -> coldMs.round, "replay_warm_ms" -> warmMs.round,
        "replay_nocp_ms" -> nocpMs.round, "skip_eval_ms" -> skipMs.round,
        "hint_prune_ms" -> hintMs.round, "list_files_ms" -> listMs.round,
        "list_pruned_ms" -> listPrunedMs.round)
      rows += JsonUtils.toJson(row.toMap)
      row.clear()
      }

      // --- streaming backlog: a MANY-COMMIT history (n/100 versions ×
      // 100 files) consumed to AvailableNow exhaustion, local and remote.
      // Per-trigger offset+batch-planning cost must be flat in the
      // REMAINING backlog — an offset resolver that re-walks (or, remote,
      // re-FETCHES) everything from the current offset to latest per
      // trigger is quadratic across the stream. The remote first-trigger
      // sign count exposes eager whole-backlog fetching: a windowed
      // fetcher signs ~(window) files before trigger 1; an eager one
      // signs all n.
      if (sections("stream")) {
        import org.apache.spark.sql.connector.read.streaming.ReadLimit
        val versions = n / 100
        val spath = s"/root/repo/target/metaprobe/s$n"
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
    }

    val lines = rows.result()
    lines.foreach(println)
    new java.io.File("/root/repo/target/metaprobe").mkdirs()
    val out = new java.io.PrintWriter("/root/repo/target/metaprobe/results.json")
    try lines.foreach(out.println) finally out.close()
    spark.stop()
  }

  private val rows = Seq.newBuilder[String]
  private val row = scala.collection.mutable.LinkedHashMap.empty[String, Any]
}
