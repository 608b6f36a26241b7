package graft.log

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import graft.model._

/** A minimal versioned transaction log for shared tables.
  *
  * Layout: `<table>/_graft_log/<%020d>.json`, one NDJSON action per line —
  * the same log-replay data model the reference serves over REST (snapshot
  * resolution: reference `DeltaSharedTable.scala:382-416`; version-range
  * replay `DeltaSharedTable.scala:557-695`). File paths inside actions are
  * relative to the table root.
  *
  * Scale note: the log holds *file metadata*, not data. At 100 TB a table
  * is ~100k files × ~1 KB of action JSON — replay is a driver-side O(files)
  * scan exactly as in Delta; snapshots are cached per (table, version) by
  * [[GraftCatalog]] so repeated queries don't re-read the log.
  */
class GraftLog(val tablePath: String, conf: Configuration) {

  /** True when this table carries a genuine Delta Lake `_delta_log/` (and
    * no `_graft_log/`): commits parse as Delta actions, checkpoints are
    * parquet, history comes from commit-file mtimes — see
    * [[DeltaLogCompat]]. Everything ABOVE this class (scans, time travel,
    * CDF, streaming, server, catalogs) is format-agnostic. Detection is
    * cached per table path (one pair of existence probes, ever).
    */
  val deltaMode: Boolean = GraftLog.formatCache.getOrElseUpdate(tablePath, {
    val f = new Path(tablePath, GraftLog.LOG_DIR)
    val d = new Path(tablePath, DeltaLogCompat.LOG_DIR)
    val fsys = f.getFileSystem(conf)
    !fsys.exists(f) && fsys.exists(d)
  })

  private val logDir = new Path(tablePath,
    if (deltaMode) DeltaLogCompat.LOG_DIR else GraftLog.LOG_DIR)
  private def fs: FileSystem = logDir.getFileSystem(conf)

  /** Version listing with a process-wide cache. The log directory is
    * append-only with contiguous versions (every writer commits
    * `latestVersion()+1` and [[GraftLog.commit]] refuses overwrites), so
    * once listed it never needs re-listing: a call probes existence of
    * `cached.last + 1` (O(1) per new version) instead of re-listing the
    * whole directory (O(versions) metadata RPCs per request at 10^5
    * versions — the reference caches the equivalent via its snapshot
    * loader).
    */
  def listVersions(): Seq[Long] = GraftLog.listingCache.get(tablePath) match {
    case Some(cached) =>
      var vs = cached
      var next = vs.last + 1
      while (fs.exists(new Path(logDir, GraftLog.versionFileName(next)))) {
        vs = vs :+ next
        next += 1
      }
      if (vs ne cached) GraftLog.listingCache(tablePath) = vs
      vs
    case None =>
      if (!fs.exists(logDir)) return Nil
      GraftLog.fullListings.incrementAndGet()
      val vs = fs.listStatus(logDir).toVector
        .map(_.getPath.getName)
        .filter(_.matches("\\d{20}\\.json")) // excludes checkpoints/crc/marker
        .map(_.stripSuffix(".json").toLong)
        .sorted
      if (vs.nonEmpty) GraftLog.listingCache(tablePath) = vs
      vs
  }

  def latestVersion(): Long = {
    val vs = listVersions()
    require(vs.nonEmpty, s"no graft log at $tablePath")
    vs.last
  }

  /** Per-instance commit cache: a committed version file is immutable
    * (commit() refuses to overwrite), so actions can be memoized. Long-
    * lived holders (the streaming source) read each commit once and replay
    * from memory — per-micro-batch driver work is O(new versions), not
    * O(log) (round-1 advice item; reference caches snapshots the same way
    * via `DeltaSharedTableLoader`).
    */
  private val commitCache = scala.collection.mutable.HashMap.empty[Long, Seq[Action]]

  def readVersion(v: Long): Seq[Action] = commitCache.synchronized {
    commitCache.getOrElseUpdate(v, {
      val p = new Path(logDir, GraftLog.versionFileName(v))
      if (deltaMode) {
        // stamp actions with the table's monotonized commit timestamp so
        // CDF/_commit_timestamp and time travel agree (the values are a
        // pure function of immutable commit-file mtimes — stable across
        // calls, so memoization is safe)
        val ts = versionTimestamps().find(_._1 == v).map(_._2).getOrElse(0L)
        DeltaLogCompat.readCommit(fs, p, v, ts)
      } else {
        val in = fs.open(p)
        try {
          scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).map(JsonUtils.lineToAction).toList
        } finally in.close()
      }
    })
  }

  /** Drop memoized commits below `version`: a long-lived holder that has
    * moved past them bounds the memo to O(recent) versions.
    */
  def forgetCommitsBelow(version: Long): Unit =
    commitCache.synchronized { commitCache.filterInPlace((v, _) => v >= version) }

  /** Versions whose actions are memoized. */
  private[graft] def memoizedVersions: Seq[Long] =
    commitCache.synchronized { commitCache.keys.toVector }

  /** The Metadata and Protocol actions of commit `v`, in commit order,
    * read without decoding its file actions: only a line that names
    * `metaData` or `protocol` is decoded (a file line that merely
    * mentions the word is decoded and dropped).
    */
  def readStateActions(v: Long): Seq[Action] = {
    val memo = commitCache.synchronized(commitCache.get(v))
    val actions = memo.getOrElse {
      val in = fs.open(new Path(logDir, GraftLog.versionFileName(v)))
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .filter(l => l.contains("\"metaData\"") || l.contains("\"protocol\"")).toList
        finally in.close()
      lines.flatMap { l =>
        if (deltaMode) DeltaLogCompat.actionFromNode(JsonUtils.mapper.readTree(l), v, 0L)
        else Some(JsonUtils.lineToAction(l))
      }
    }
    actions.filter {
      case _: Metadata | _: Protocol => true
      case _ => false
    }
  }

  /** Commit-file timestamps, monotonized: a commit's timestamp is
    * `max(actions' max ts, prev + 1ms)` so time travel is well-defined even
    * when underlying mtimes are not monotonic (reference
    * `DeltaSharingHistoryManager.scala:41-58,101-114`).
    *
    * The monotonized prefix up to the newest checkpoint comes from the
    * checkpoint header (it was computed with this same fold when the
    * checkpoint was written), so only commits after it are read —
    * O(since-checkpoint), not O(versions).
    */
  def versionTimestamps(): Seq[(Long, Long)] = {
    if (deltaMode) return deltaVersionTimestamps()
    // The fold is memoized per table next to the listing: a committed
    // version's timestamp never changes, so a later call folds only the
    // commits listed since (O(new commits) for a fresh per-request log).
    GraftLog.timestampCache.get(tablePath).filter(_.nonEmpty) match {
      case Some(memo) =>
        val newer = listVersions().filter(_ > memo.last._1)
        if (newer.isEmpty) memo
        else {
          val out = fold(memo, newer)
          GraftLog.timestampCache(tablePath) = out
          out
        }
      case None =>
        val out = foldedVersionTimestamps()
        GraftLog.timestampCache(tablePath) = out
        out
    }
  }

  /** [[versionTimestamps]] without the memo: the newest checkpoint's
    * prefix, then the commits after it.
    */
  private[graft] def foldedVersionTimestamps(): Vector[(Long, Long)] = {
    val cp = checkpointAtOrBefore(Long.MaxValue)
    val from = cp.map(_.version + 1).getOrElse(Long.MinValue)
    fold(cp.map(_.timestamps.toVector).getOrElse(Vector.empty),
      listVersions().filter(_ >= from))
  }

  /** `prefix` extended with commits `versions`, each stamped with
    * `max(its actions' max ts, prev + 1ms)`.
    */
  private def fold(prefix: Vector[(Long, Long)], versions: Seq[Long]): Vector[(Long, Long)] = {
    var prev = prefix.lastOption.map(_._2).getOrElse(Long.MinValue)
    prefix ++ versions.map { v =>
      val ts0 = readVersion(v).map {
        case a: AddFile    => a.timestamp
        case a: RemoveFile => a.timestamp
        case a: AddCDCFile => a.timestamp
        case _             => 0L
      }.foldLeft(0L)(math.max)
      val ts = if (ts0 > prev) ts0 else prev + 1
      prev = ts
      (v, ts)
    }
  }

  /** Delta-mode history: commit-file modification times, monotonized —
    * exactly Delta's default (pre-in-commit-timestamp) rule and what the
    * reference reads (`DeltaSharingHistoryManager.getTimestampsByVersion`
    * lists the same mtimes). ONE directory listing, no commit-content
    * reads; delta checkpoints carry no timestamp index, so the prefix
    * optimization of the graft branch does not apply.
    *
    * In-commit-timestamp tables (`inCommitTimestamp` feature): once the
    * LATEST commit carries `commitInfo.inCommitTimestamp`, history must
    * come from those fields, not mtimes — a rewritten/copied log keeps
    * ICT values but not mtimes, and serving mtimes there gives WRONG
    * time travel. Per-commit: ICT when present, mtime before enablement
    * (Delta's own mixed-history rule), monotonized across both. The
    * O(versions) commitInfo reads only happen for ICT tables and are
    * memoized per instance.
    */
  private def deltaVersionTimestamps(): Seq[(Long, Long)] = {
    val sts = fs.listStatus(logDir).toVector
      .filter(_.getPath.getName.matches("\\d{20}\\.json"))
      .map(st => (st.getPath.getName.stripSuffix(".json").toLong,
        st.getModificationTime))
      .sortBy(_._1)
    val useIct = sts.lastOption.exists { case (v, _) => ictOf(v).isDefined }
    var prev = Long.MinValue
    sts.map { case (v, ts0) =>
      val base = if (useIct) ictOf(v).getOrElse(ts0) else ts0
      val ts = if (base > prev) base else prev + 1
      prev = ts
      (v, ts)
    }
  }

  /** Memoized `commitInfo.inCommitTimestamp` of a delta commit file. */
  private val ictCache = scala.collection.mutable.HashMap.empty[Long, Option[Long]]
  private[log] def ictOf(v: Long): Option[Long] = ictCache.synchronized {
    ictCache.getOrElseUpdate(v, {
      val p = new Path(logDir, GraftLog.versionFileName(v))
      try {
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).toList
          finally in.close()
        lines.iterator.map(JsonUtils.mapper.readTree)
          .collectFirst { case n if n.has("commitInfo") =>
            Option(n.get("commitInfo").get("inCommitTimestamp"))
              .filter(!_.isNull).map(_.asLong())
          }.flatten
      } catch { case scala.util.control.NonFatal(_) => None }
    })
  }

  /** Memoized `commitInfo.operation` of a delta commit file — the
    * operation name this engine (and any real delta writer) records;
    * [[graft.GraftTable.history]] prefers it over action-shape inference.
    * None for graft-format logs (no commitInfo line) or foreign commits
    * without one.
    */
  private val opCache = scala.collection.mutable.HashMap.empty[Long, Option[String]]
  def operationOf(v: Long): Option[String] = opCache.synchronized {
    opCache.getOrElseUpdate(v, {
      if (!deltaMode) None
      else try {
        val p = new Path(logDir, GraftLog.versionFileName(v))
        val in = fs.open(p)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).toList
          finally in.close()
        lines.iterator.map(JsonUtils.mapper.readTree)
          .collectFirst { case n if n.has("commitInfo") =>
            Option(n.get("commitInfo").get("operation"))
              .filter(!_.isNull).map(_.asText()).filter(_.nonEmpty)
          }.flatten
      } catch { case scala.util.control.NonFatal(_) => None }
    })
  }

  /** Latest version with commit timestamp <= `ts` (time travel, reference
    * `DeltaSharingHistoryManager.getVersionAtOrBeforeTimestamp`).
    */
  def versionAtOrBefore(ts: Long): Long = {
    val cand = versionTimestamps().takeWhile(_._2 <= ts)
    require(cand.nonEmpty, s"no version at or before timestamp $ts")
    cand.last._1
  }

  /** Earliest version with commit timestamp >= `ts` (CDF start boundary,
    * reference `DeltaSharingCDCReader.scala:95-111`).
    */
  def versionAtOrAfter(ts: Long): Long = {
    val cand = versionTimestamps().dropWhile(_._2 < ts)
    require(cand.nonEmpty, s"no version at or after timestamp $ts")
    cand.head._1
  }

  /** Compacted log ranges (`{s}.{e}.compacted.json`) present in a
    * delta-format log, ascending by start. One listing per process per
    * table (immutable once written; `invalidateListing` drops the cache).
    */
  private def compactedRanges(): Seq[(Long, Long, Path)] =
    GraftLog.compactedCache.getOrElseUpdate(tablePath, {
      try fs.listStatus(logDir).toSeq.map(_.getPath)
        .flatMap { p =>
          p.getName match {
            case GraftLog.COMPACTED_RE(s, e) => Some((s.toLong, e.toLong, p))
            case _ => None
          }
        }.sortBy(_._1)
      catch { case scala.util.control.NonFatal(_) => Nil }
    })

  /** Replay the log to the active-file set at `version` (default latest).
    *
    * Replay starts from the newest CHECKPOINT at-or-before the target
    * (consolidated state written every [[GraftLog.CHECKPOINT_INTERVAL]]
    * commits, discovered O(1) via the `_last_checkpoint` marker), so the
    * per-snapshot cost is O(commits since checkpoint) — at 10^5 versions
    * the difference between a metadata lookup and an O(versions) replay
    * per query. Commit files are never deleted, so a missing/corrupt
    * checkpoint only means falling back to full replay, never a wrong
    * answer.
    */
  def snapshot(version: Option[Long] = None): Snapshot =
    replay(version.getOrElse(latestVersion()), Nil)._1

  /** [[snapshot]] at `target`, using `cached` — other versions of this
    * table, each with the checkpoint its own replay started from — where
    * a cold replay would start from the same checkpoint:
    *
    *  - the newest such version below `target` is the base: its state
    *    plus commits `(base.version, target]` is the cold replay's state,
    *    files in the same order. The files reference the base's AddFile
    *    objects (not the base itself) and its index columns carry over;
    *  - an added file equal to the file at its path in the nearest such
    *    version above `target` is shared with it rather than kept twice.
    *
    * Without a base (or on a delta log with compacted ranges, which a
    * cold replay may read in place of commits) this is a cold replay.
    * Returns the snapshot and the checkpoint version its replay started
    * from (-1: none).
    */
  private[log] def replay(target: Long, cached: Seq[(Snapshot, Long)]): (Snapshot, Long) = {
    val cp = checkpointAtOrBefore(target)
    val cpVersion = cp.fold(-1L)(_.version)
    val peers = cached.collect { case (s, c) if c == cpVersion && s.version >= cpVersion => s }
    val base = peers.filter(_.version < target).maxByOption(_.version)
      .filterNot(_ => deltaMode && compactedRanges().nonEmpty)
    val above = peers.filter(_.version > target).minByOption(_.version).map(_.index)
    def shared(a: AddFile): AddFile = above.fold(a) { ix =>
      val j = ix.positionOf(a.path)
      if (j >= 0 && ix(j) == a) ix(j) else a
    }
    val versions = listVersions()
      .filter(v => v <= target && v > base.fold(cpVersion)(_.version))
    require(versions.nonEmpty || cp.nonEmpty,
      s"version $target not found in $tablePath")
    val active = new GraftLog.ActiveFiles(base.map(_.index))
    var meta: Metadata = base.map(_.metadata).orElse(cp.map(_.metadata)).orNull
    var proto: Protocol = base.map(_.protocol).orElse(cp.map(_.protocol)).getOrElse(Protocol())
    val txns = mutable.LinkedHashMap.empty[String, Long]
    val domains = mutable.LinkedHashMap.empty[String, String]
    base match {
      case Some(b) => txns ++= b.transactions; domains ++= b.domains
      case None => cp.foreach { c =>
        c.files.foreach(active.add); txns ++= c.txns; domains ++= c.domains
      }
    }
    // Delta minor log compaction ("Log Compaction"): a
    // `{s}.{e}.compacted.json` range whose replay is needed IN FULL
    // (s is the next version to apply, e <= target) substitutes for its
    // individual commit reads — O(ranges) instead of O(commits) IO on
    // long logs between checkpoints. Any read problem falls back to the
    // commit files; commits are never deleted, so this is purely an
    // accelerator. Per-file version attribution inside a substituted
    // range coarsens to the range end (same fidelity every compacted-log
    // reader accepts); change/CDF queries always read real commits.
    val batches: Seq[Seq[Action]] = {
      val ranges = if (deltaMode && base.isEmpty) compactedRanges() else Nil
      val vs = versions.toIndexedSeq
      val out = Seq.newBuilder[Seq[Action]]
      var i = 0
      while (i < vs.length) {
        val v = vs(i)
        val sub = ranges.find(r => r._1 == v && r._2 > v && r._2 <= target)
          .flatMap { case (_, e, f) =>
            try {
              val ts = try fs.getFileStatus(f).getModificationTime
                catch { case scala.util.control.NonFatal(_) => 0L }
              val acts = DeltaLogCompat.readCommit(fs, f, e, ts)
              GraftLog.compactedReads.incrementAndGet()
              Some((e, acts))
            } catch { case scala.util.control.NonFatal(_) => None }
          }
        sub match {
          case Some((e, acts)) =>
            out += acts
            i = vs.indexWhere(_ > e) match { case -1 => vs.length; case j => j }
          case None => out += readVersion(v); i += 1
        }
      }
      out.result()
    }
    batches.foreach(_.foreach {
      case a: AddFile    => active.add(shared(a))
      case r: RemoveFile => active.remove(r.path)
      case m: Metadata   => meta = m
      case p: Protocol   => proto = p
      case t: Txn        => txns(t.appId) = t.txnVersion // replay order: latest commit wins
      case d: DomainMetadata => // last writer wins per domain; removed tombstones
        if (d.removed) domains.remove(d.domain) else domains(d.domain) = d.configuration
      case _: AddCDCFile => // cdc files are not part of the main snapshot
    })
    require(meta != null, s"no metadata in log at $tablePath")
    // A genuine Delta table gated on a reader feature we don't decode
    // (typeWidening, variant, …) must fail HERE, loudly, not serve
    // mis-decoded rows (graft-format logs never carry feature gates).
    if (deltaMode) proto.assertReadable(tablePath)
    // Version checksum cross-check (delta "Version Checksum File"): if the
    // writer recorded this version's state summary, the replay must agree
    // — a drifted log/checkpoint fails the load instead of serving wrong
    // rows. Memoized read; absence (pre-checksum tables) is the base case.
    val files = active.result()
    if (deltaMode)
      Checksum.read(fs, logDir, target)
        .foreach(Checksum.validate(_, files, tablePath, target))
    (Snapshot(target, meta, proto, files, txns.toMap, domains.toMap), cpVersion)
  }

  // ------------------------------------------------------------ checkpoints

  /** Newest checkpoint with version <= `target`: the `_last_checkpoint`
    * marker resolves the common case (target at-or-after the last
    * checkpoint) in O(1); time travel below it falls back to one directory
    * listing. Loaded checkpoints are cached process-wide (immutable files).
    * Any read problem degrades to `None` — full replay, never an error.
    */
  private[graft] def checkpointAtOrBefore(target: Long): Option[GraftLog.CheckpointState] = {
    if (deltaMode) return deltaCheckpointAtOrBefore(target)
    // Jackson + erasure: numbers inside Seq[Seq[Long]] and Option[Long]
    // materialize as Integers — go through Number, never unbox Long
    // directly (the pre-fix CCE silently degraded EVERY header load to
    // full replay).
    def asLong(x: Any): Long = x.asInstanceOf[Number].longValue()
    def own(h: GraftLog.CheckpointHeader): Seq[(Long, Long)] = h.timestamps.map { t =>
      val s = t.asInstanceOf[Seq[Any]]
      (asLong(s(0)), asLong(s(1)))
    }
    def prevOf(h: GraftLog.CheckpointHeader): Option[Long] =
      h.prevCheckpoint.asInstanceOf[Option[Any]].map(asLong)
    def cached(v: Long) = GraftLog.checkpointCache.get((tablePath, v))
    // The timestamp prefix up to checkpoint `v`, from the header lines of
    // `v` and the checkpoints it chains to (down to one already loaded):
    // no older checkpoint body is parsed. A missing or unreadable link,
    // or one that does not point further down, is None.
    def prefixThrough(v: Long): Option[Seq[(Long, Long)]] = {
      var headers = List.empty[GraftLog.CheckpointHeader]
      var link: Option[Long] = Some(v)
      var base: Option[Seq[(Long, Long)]] = Some(Nil)
      while (link.isDefined) {
        val at = link.get
        link = None
        cached(at).map(_.timestamps) match {
          case Some(ts) => base = Some(ts)
          case None => readHeader(at) match {
            case Some(h) if prevOf(h).forall(_ < at) => headers = h :: headers; link = prevOf(h)
            case _ => base = None
          }
        }
      }
      base.map(b => headers.foldLeft(b.toVector)((pre, h) => pre ++ own(h)))
    }
    def load(v: Long): Option[GraftLog.CheckpointState] =
      cached(v)
        .orElse {
          val p = new Path(logDir, GraftLog.checkpointFileName(v))
          try {
            if (!fs.exists(p)) None
            else {
              val in = fs.open(p)
              val lines =
                try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
                  .filter(_.nonEmpty).toList
                finally in.close()
              GraftLog.checkpointBodies.incrementAndGet()
              val header = JsonUtils.fromJson[GraftLog.CheckpointHeader](lines.head)
              var meta: Metadata = null
              var proto: Protocol = Protocol()
              val files = Vector.newBuilder[AddFile]
              val txns = mutable.LinkedHashMap.empty[String, Long]
              val doms = mutable.LinkedHashMap.empty[String, String]
              lines.tail.map(JsonUtils.lineToAction).foreach {
                case a: AddFile  => files += a
                case m: Metadata => meta = m
                case p: Protocol => proto = p
                case t: graft.model.Txn => txns(t.appId) = t.txnVersion
                case d: DomainMetadata =>
                  if (d.removed) doms.remove(d.domain) else doms(d.domain) = d.configuration
                case _           => ()
              }
              require(meta != null, s"checkpoint $p has no metadata")
              // timestamp prefix chains through the previous checkpoint;
              // a broken link makes THIS checkpoint unusable (None) —
              // replay from commits still answers correctly.
              val prefix = prevOf(header) match {
                case None => Some(Nil)
                case Some(pv) => if (pv < v) prefixThrough(pv) else None
              }
              prefix.map { pre =>
                // a file that the nearest loaded checkpoint of this table
                // on either side holds, unchanged, is shared with it:
                // checkpoints of a growing table repeat most of their
                // files, and they load in any order (time travel)
                val loaded = GraftLog.checkpointCache.iterator.collect {
                  case ((t, u), st) if t == tablePath && u != v => st
                }.toSeq
                val near = (loaded.filter(_.version < v).maxByOption(_.version) ++
                  loaded.filter(_.version > v).minByOption(_.version)).map { st =>
                  val byPath = new java.util.HashMap[String, AddFile]()
                  st.files.foreach(f => byPath.put(f.path, f))
                  byPath
                }
                val shared = files.result().map { a =>
                  near.iterator.map(_.get(a.path)).find(e => e != null && e == a).getOrElse(a)
                }
                val st = GraftLog.CheckpointState(header.version,
                  pre ++ own(header), meta, proto, shared, txns.toMap, doms.toMap)
                GraftLog.checkpointCache.put((tablePath, v), st)
                st
              }
            }
          } catch { case scala.util.control.NonFatal(_) => None }
        }

    val marker = try {
      val p = new Path(logDir, GraftLog.LAST_CHECKPOINT)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        Some(JsonUtils.fromJson[GraftLog.CheckpointHeader](txt).version)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

    marker.filter(_ <= target).flatMap(load).orElse {
      // marker absent → no checkpoints were ever written (common small
      // tables): skip straight to full replay with zero extra listings.
      // Marker present but unusable (newer than the travel target, or its
      // file failed to load): one directory listing finds the newest
      // intact checkpoint at-or-before the target.
      if (marker.isEmpty) None
      else {
        val cps = try fs.listStatus(logDir).toSeq
          .map(_.getPath.getName)
          .filter(_.endsWith(".checkpoint.json"))
          .map(_.stripSuffix(".checkpoint.json").toLong)
          .filter(_ <= target)
        catch { case scala.util.control.NonFatal(_) => Seq.empty[Long] }
        cps.sorted.reverseIterator.flatMap(load(_).iterator).nextOption()
      }
    }
  }

  /** The header line of graft checkpoint `v` alone; None when it is
    * missing or unreadable.
    */
  private def readHeader(v: Long): Option[GraftLog.CheckpointHeader] =
    try {
      val in = fs.open(new Path(logDir, GraftLog.checkpointFileName(v)))
      val line =
        try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
        finally in.close()
      Option(line).map(JsonUtils.fromJson[GraftLog.CheckpointHeader](_))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The newest checkpoint at or below `target` that this process has
    * already loaded, without reading the log.
    */
  private[graft] def loadedCheckpointAtOrBefore(target: Long): Option[GraftLog.CheckpointState] =
    GraftLog.checkpointCache.iterator.collect {
      case ((t, v), st) if t == tablePath && v <= target => st
    }.maxByOption(_.version)

  /** Delta-mode checkpoint discovery: `_last_checkpoint` names the newest
    * checkpoint (and its part count) in O(1); time travel below it falls
    * back to one listing over `*.checkpoint[.N.M].parquet` names. Same
    * degradation contract as the graft branch: any read problem → None →
    * full commit replay.
    */
  private def deltaCheckpointAtOrBefore(target: Long): Option[GraftLog.CheckpointState] = {
    def load(v: Long, parts: Option[Int]): Option[GraftLog.CheckpointState] =
      GraftLog.checkpointCache.get((tablePath, v)).orElse {
        try {
          val files = DeltaLogCompat.discoverCheckpointFiles(fs, logDir, v, parts)
          if (files.isEmpty) None
          else {
            val (meta, proto, adds, txns, doms) =
              DeltaLogCompat.readCheckpoint(conf, files, v, logDir)
            val st = GraftLog.CheckpointState(v, Nil, meta, proto, adds, txns, doms)
            GraftLog.checkpointCache.put((tablePath, v), st)
            Some(st)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      }

    val marker = DeltaLogCompat.readLastCheckpoint(fs, logDir)
    marker.filter(_.version <= target)
      .flatMap(lc => load(lc.version, lc.parts))
      .orElse {
        if (marker.isEmpty) None
        else {
          // marker unusable for this target: one listing finds the newest
          // intact checkpoint at-or-before it (multi-part groups must be
          // complete — load() verifies every part exists)
          val names = try fs.listStatus(logDir).toSeq.map(_.getPath.getName)
          catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
          val single = "(\\d{20})\\.checkpoint\\.parquet".r
          val multi = "(\\d{20})\\.checkpoint\\.\\d{10}\\.(\\d{10})\\.parquet".r
          val v2 = "(\\d{20})\\.checkpoint\\.[0-9a-fA-F-]{36}\\.(?:json|parquet)".r
          val cands = names.collect {
            case single(v) => (v.toLong, None: Option[Int])
            case multi(v, n) => (v.toLong, Some(n.toInt))
            case v2(v) => (v.toLong, None: Option[Int]) // discover resolves the name
          }.distinct.filter(_._1 <= target)
          cands.sortBy(c => (c._1, c._2.isEmpty)).reverseIterator
            .flatMap { case (v, p) => load(v, p).iterator }.nextOption()
        }
      }
  }

  /** All actions in `[start, end]` with `dataChange=true`, grouped by
    * version, plus the historical metadata seen mid-range (streaming/CDF
    * backbone; reference `DeltaSharedTable.scala:557-695`).
    */
  def changes(start: Long, end: Long): Seq[CommitChange] = {
    changesIterator(start, end).toVector
  }

  /** Lazy [[changes]]: commits are read (and JSON-parsed, on a cold
    * cache) only as the iterator is pulled. The streaming source's
    * per-trigger admission consumes a bounded prefix of a possibly
    * enormous backlog — materializing the whole remaining range per
    * trigger would make an N-trigger catch-up O(backlog²).
    */
  def changesIterator(start: Long, end: Long): Iterator[CommitChange] = {
    require(start <= end, s"startingVersion($start) > endingVersion($end)")
    val vs = listVersions()
    require(vs.nonEmpty && start >= vs.head,
      s"startingVersion($start) before log start ${vs.headOption.getOrElse(-1L)}")
    val tss = versionTimestamps().toMap
    vs.iterator.filter(v => v >= start && v <= end).map { v =>
      CommitChange(v, tss(v), readVersion(v))
    }
  }
}

/** Active state at a version. `transactions` is the per-appId streaming
  * watermark map (latest [[graft.model.Txn]] per appId, replay order).
  */
case class Snapshot(version: Long, metadata: Metadata, protocol: Protocol,
    files: Seq[AddFile], transactions: Map[String, Long] = Map.empty,
    domains: Map[String, String] = Map.empty) {
  @transient lazy val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(metadata.schemaString)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The files' index: the only way production code filters a snapshot's
    * files. A replayed snapshot's `files` is already its index.
    */
  @transient lazy val index: graft.predicates.FileIndex =
    graft.predicates.FileIndex.of(files)
}

/** One committed version's actions. */
case class CommitChange(version: Long, timestamp: Long, actions: Seq[Action])

object GraftLog {
  val LOG_DIR = "_graft_log"

  /** The active files of a replay, in replay order: an add of an active
    * path replaces it in place, a re-add after a remove goes last (the
    * order of a `LinkedHashMap` keyed by path). Starts empty, or from the
    * files of `base`, which stay where they are and are found by binary
    * search in its path order.
    */
  private final class ActiveFiles(base: Option[graft.predicates.FileIndex]) {
    private val kept: Array[AddFile] = base.fold(Array.empty[AddFile])(_.toArray)
    private val alive = Array.fill(kept.length)(true)
    private val added = mutable.LinkedHashMap.empty[String, AddFile]

    /** Position in `base` of an active base file at `path`, else -1. */
    private def position(path: String): Int = base match {
      case Some(b) if !added.contains(path) =>
        val j = b.positionOf(path)
        if (j >= 0 && alive(j)) j else -1
      case _ => -1
    }

    def add(a: AddFile): Unit = position(a.path) match {
      case -1 => added(a.path) = a
      case j => kept(j) = a
    }

    def remove(path: String): Unit = position(path) match {
      case -1 => added.remove(path)
      case j => alive(j) = false
    }

    def result(): graft.predicates.FileIndex = base match {
      case None => graft.predicates.FileIndex(added.values.toArray)
      case Some(b) =>
        val live = kept.indices.filter(alive(_))
        val files = (live.map(kept) ++ added.values).toArray
        // a replaced file's columns are decoded again
        val fromBase = (live.map(j => if (kept(j) eq b(j)) j else -1) ++
          Iterator.fill(added.size)(-1)).toArray
        b.derive(files, fromBase)
    }
  }

  /** Write a consolidated checkpoint every N commits (Delta's default
    * checkpoint interval).
    */
  val CHECKPOINT_INTERVAL = 10

  val LAST_CHECKPOINT = "_last_checkpoint"

  def checkpointFileName(v: Long): String = f"$v%020d.checkpoint.json"

  /** First line of a checkpoint file (and the whole `_last_checkpoint`
    * marker): the checkpointed version plus the monotonized commit
    * timestamps ([v, ts] pairs) of versions in `(prevCheckpoint, version]`
    * ONLY — the earlier prefix is CHAINED from the previous checkpoint
    * (`prevCheckpoint`), so each checkpoint writes O(interval) timestamp
    * entries instead of O(versions): without chaining, cumulative write
    * amplification is quadratic at the 10^5-version scale. Loading
    * resolves the chain (each link cached process-wide); a broken link
    * degrades the whole checkpoint to None — full replay, never a wrong
    * answer. Pre-chaining checkpoints (full timestamps, no
    * `prevCheckpoint`) load unchanged.
    */
  private[log] case class CheckpointHeader(
      version: Long,
      timestamps: Seq[Seq[Long]] = Nil,
      prevCheckpoint: Option[Long] = None)

  private[log] case class CheckpointState(
      version: Long,
      timestamps: Seq[(Long, Long)],
      metadata: Metadata,
      protocol: Protocol,
      files: Seq[AddFile],
      txns: Map[String, Long] = Map.empty,
      domains: Map[String, String] = Map.empty)

  /** (tablePath, version) → parsed checkpoint; checkpoint files are
    * immutable so entries never invalidate. Bounded: one entry per
    * checkpoint actually read, and tables keep O(1) live checkpoints.
    */
  private val checkpointCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), CheckpointState]

  /** Consolidate the state at `version` into a checkpoint file + marker.
    * Idempotent (same content for the same immutable log prefix);
    * temp+rename like commits. Commit files are NEVER deleted — a
    * checkpoint is an accelerator, not a source of truth.
    */
  def writeCheckpoint(tablePath: String, version: Long, conf: Configuration): Unit = {
    val log = new GraftLog(tablePath, conf)
    val snap = log.snapshot(Some(version))
    // timestamps since the previous checkpoint only; the prefix chains
    val prevCp = log.checkpointAtOrBefore(version - 1)
    val tss = log.versionTimestamps().takeWhile(_._1 <= version)
      .filter(t => prevCp.forall(t._1 > _.version))
    val header = JsonUtils.toJson(
      CheckpointHeader(version, tss.map(t => Seq(t._1, t._2)),
        prevCheckpoint = prevCp.map(_.version)))
    val lines = header +:
      (JsonUtils.actionToLine(snap.protocol) +:
        JsonUtils.actionToLine(snap.metadata) +:
        (snap.transactions.toSeq.sortBy(_._1).map { case (app, tv) =>
          JsonUtils.actionToLine(graft.model.Txn(app, tv))
        } ++ snap.domains.toSeq.sortBy(_._1).map { case (d, c) =>
          JsonUtils.actionToLine(graft.model.DomainMetadata(d, c))
        } ++ snap.files.map(JsonUtils.actionToLine)))
    val logDir = new Path(tablePath, LOG_DIR)
    val fs = logDir.getFileSystem(conf)
    val target = new Path(logDir, checkpointFileName(version))
    val tmp = new Path(logDir, s".${checkpointFileName(version)}.tmp")
    val out = fs.create(tmp, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
    fs.delete(target, false) // idempotent rewrite (content is deterministic)
    require(fs.rename(tmp, target), s"failed to write checkpoint $target")
    // marker last: readers that see the marker always find the file.
    // Per-version tmp name: checkpointing runs OUTSIDE the commit lock
    // (it's an accelerator), so two concurrent checkpoint writers must
    // not fail each other's rename through a shared tmp file.
    val mTmp = new Path(logDir, s".$LAST_CHECKPOINT.$version.tmp")
    val mOut = fs.create(mTmp, true)
    try mOut.write(JsonUtils.toJson(CheckpointHeader(version)).getBytes("UTF-8"))
    finally mOut.close()
    val marker = new Path(logDir, LAST_CHECKPOINT)
    fs.delete(marker, false)
    require(fs.rename(mTmp, marker), s"failed to write $marker")
  }

  /** tablePath → contiguous cached version listing (see [[GraftLog.listVersions]]). */
  private val listingCache =
    scala.collection.concurrent.TrieMap.empty[String, Vector[Long]]

  /** tablePath → monotonized commit timestamps, ascending by version (see
    * [[GraftLog.versionTimestamps]]); graft-format logs only.
    */
  private val timestampCache =
    scala.collection.concurrent.TrieMap.empty[String, Vector[(Long, Long)]]

  /** Test hook: count of checkpoint bodies parsed. */
  private[graft] val checkpointBodies = new java.util.concurrent.atomic.AtomicLong

  /** tablePath → compacted log ranges; see [[GraftLog.compactedRanges]]. */
  private val compactedCache =
    scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Long, Path)]]

  private[log] val COMPACTED_RE = """(\d{20})\.(\d{20})\.compacted\.json""".r

  /** Test hook: count of compacted-range reads actually substituted. */
  private[graft] val compactedReads = new java.util.concurrent.atomic.AtomicLong

  /** tablePath → deltaMode (log-format detection, see [[GraftLog.deltaMode]]). */
  private val formatCache =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Test hook: count of full directory listings actually performed. */
  private[graft] val fullListings = new java.util.concurrent.atomic.AtomicLong

  /** Test hook: drop a table's cached listing and checkpoints (e.g. after
    * deleting it).
    */
  private[graft] def invalidateListing(tablePath: String): Unit = {
    listingCache.remove(tablePath)
    timestampCache.remove(tablePath)
    formatCache.remove(tablePath)
    compactedCache.remove(tablePath)
    checkpointCache.keys.filter(_._1 == tablePath).foreach(checkpointCache.remove)
    // a recreated table restarts version numbers — cached snapshots of
    // the old incarnation must not serve under the new table's keys
    GraftCatalog.invalidateSnapshots(tablePath)
    Checksum.invalidateTable(tablePath)
  }

  def versionFileName(v: Long): String = f"$v%020d.json"

  /** In-process commit mutual exclusion: `exists` + `rename` is
    * check-then-act, and local-FS rename REPLACES an existing target
    * silently — two racing same-version committers would otherwise both
    * "succeed" with one commit lost. Cross-process exclusion needs a
    * LogStore with atomic put-if-absent (what Delta requires of object
    * stores); in-process (this library's writer surface) the lock plus
    * the re-check below is sufficient.
    */
  private val commitLock = new Object

  /** Atomically write one commit file (temp + rename).
    *
    * Format routing: a table with a Delta-format log — or a version-0
    * commit with `deltaFormat = true` — is committed in REAL Delta format
    * ([[commitDeltaLocked]]): commitInfo line, Delta action JSON,
    * feature-gated protocol upgrades, mtime-as-history. Every TableBuilder
    * operation (create/append/delete/update/DV-delete/compact/vacuum)
    * therefore works identically on Delta-format tables, and any real
    * Delta reader can consume what graft writes.
    */
  def commit(
      tablePath: String, version: Long, actions: Seq[Action], conf: Configuration,
      deltaFormat: Boolean = false, operation: String = "WRITE"): Unit = {
    val isDelta = commitLock.synchronized {
      val d = deltaFormat || new GraftLog(tablePath, conf).deltaMode
      if (d) commitDeltaLocked(tablePath, version, actions, conf, operation)
      else commitLocked(tablePath, version, actions, conf)
      d
    }
    // Delta-style automatic checkpointing: every INTERVAL commits,
    // consolidate state so snapshot replay stays O(since-checkpoint).
    // Outside the lock: checkpointing is an O(files) accelerator write,
    // idempotent and never load-bearing for correctness — so a
    // checkpoint IO failure must NOT fail the (already durable) commit:
    // the caller would see failure for a committed version and a retry
    // would die on "version already committed".
    if (version > 0 && version % CHECKPOINT_INTERVAL == 0) {
      try {
        if (isDelta) {
          val log = new GraftLog(tablePath, conf)
          val snap = log.snapshot(Some(version))
          val cfg = snap.metadata.configuration
          def flag(k: String) = cfg.get(k).contains("true") ||
            cfg.get(s"delta.$k").contains("true")
          val dv = snap.protocol.features.contains("deletionVectors")
          val ict = flag("enableInCommitTimestamps")
          val rt = flag("enableRowTracking")
          val domains = rt || snap.domains.nonEmpty
          val v2 = cfg.get("delta.checkpointPolicy").contains("v2")
          // schema-derived writer features: the checkpoint's protocol
          // action must list everything the commits' protocol does, or a
          // replay FROM the checkpoint would claim a weaker protocol
          val schemaStr = snap.metadata.schemaString
          val identity = GeneratedColumns.hasIdentity(schemaStr)
          val generated = GeneratedColumns.hasGenerated(schemaStr)
          val defaults = Defaults.has(schemaStr)
          val widen = TypeWidening.has(schemaStr)
          val variant = TypeWidening.containsVariant(schemaStr)
          val ntz = TypeWidening.containsNtz(schemaStr)
          val gated = ict || dv || domains || v2 || identity || defaults ||
            widen || variant || ntz
          val protoNode = DeltaLogCompat.protocolNodeFor(
            dv, graft.model.ColumnMapping.isEnabled(snap.metadata),
            (if (ict) Set("inCommitTimestamp") else Set.empty[String]) ++
              (if (rt) Set("rowTracking") else Set.empty[String]) ++
              (if (domains) Set("domainMetadata") else Set.empty[String]) ++
              (if (identity) Set("identityColumns") else Set.empty[String]) ++
              (if (defaults) Set("allowColumnDefaults") else Set.empty[String]) ++
              (if (gated && generated) Set("generatedColumns") else Set.empty[String]) ++
              (if (gated && flag("enableChangeDataFeed"))
                Set("changeDataFeed") else Set.empty[String]) ++
              (if (gated && cfg.keys.exists(_.startsWith(Constraints.PREFIX)))
                Set("checkConstraints") else Set.empty[String]),
            (if (v2) Set("v2Checkpoint") else Set.empty[String]) ++
              (if (widen) Set("typeWidening") else Set.empty[String]) ++
              (if (variant) Set("variantType") else Set.empty[String]) ++
              (if (ntz) Set("timestampNtz") else Set.empty[String]))
          // the table's declared checkpointPolicy picks the layout the
          // automatic checkpoint writes (delta "V2 Spec Checkpoints")
          if (v2) DeltaLogCompat.writeCheckpointV2(conf, tablePath, version, protoNode)
          else DeltaLogCompat.writeCheckpoint(conf, tablePath, version, protoNode)
          // metadata cleanup rides the checkpoint (delta's cadence): only
          // when a retention is EXPLICITLY configured — graft stamps
          // synthetic commit mtimes (monotonized action timestamps), so
          // a default-on 30-day horizon could mistake a fixture's epoch
          // timestamps for ancient history
          if (cfg.contains(LogCleanup.RETENTION_KEY) &&
              !cfg.get(LogCleanup.ENABLED_KEY).contains("false"))
            LogCleanup.cleanUpWithRetention(tablePath, conf,
              LogCleanup.parseDurationMs(cfg(LogCleanup.RETENTION_KEY)),
              System.currentTimeMillis())
        } else {
          writeCheckpoint(tablePath, version, conf)
          val cfg = new GraftLog(tablePath, conf).snapshot(Some(version))
            .metadata.configuration
          if (cfg.contains(LogCleanup.RETENTION_KEY) &&
              !cfg.get(LogCleanup.ENABLED_KEY).contains("false"))
            LogCleanup.cleanUpWithRetention(tablePath, conf,
              LogCleanup.parseDurationMs(cfg(LogCleanup.RETENTION_KEY)),
              System.currentTimeMillis())
        }
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"graft: checkpoint at $tablePath v$version failed (commit is durable): $e")
      }
    }
  }

  /** Native Delta-format commit: the shared [[DeltaLogCompat]] writer
    * serializes the actions; this method adds the transactional
    * bookkeeping a real Delta writer performs —
    *
    *  - contiguity: only `latestVersion + 1` (or 0) may commit;
    *  - protocol upgrades: a commit that introduces deletion vectors or
    *    column mapping on a table whose protocol does not yet allow them
    *    gets the feature-gated protocol action injected (delta PROTOCOL
    *    "Table Features");
    *  - history: the commit file's mtime is the monotonized max action
    *    timestamp — the same fold graft-mode timestamps use, so the same
    *    builder calls produce the same history in either format.
    */
  private def commitDeltaLocked(
      tablePath: String, version: Long, actions: Seq[Action], conf: Configuration,
      operation: String = "WRITE"): Unit = {
    val logDir = new Path(tablePath, DeltaLogCompat.LOG_DIR)
    val fs = logDir.getFileSystem(conf)
    fs.mkdirs(logDir)

    val commitHasDv = actions.exists {
      case a: AddFile => a.deletionVector.isDefined
      case _          => false
    }
    val commitMeta = actions.collectFirst { case m: Metadata => m }
    val (prevSnap, prevTs, prevHasIct) =
      if (version == 0) (None: Option[Snapshot], Long.MinValue, false)
      else {
        val log = new GraftLog(tablePath, conf)
        require(log.deltaMode, s"$tablePath is not Delta-format")
        require(version == log.latestVersion() + 1,
          s"non-contiguous delta commit $version at $tablePath " +
            s"(latest is ${log.latestVersion()})")
        (Some(log.snapshot(None)),
          log.versionTimestamps().lastOption.map(_._2).getOrElse(Long.MinValue),
          log.ictOf(log.latestVersion()).isDefined)
      }
    val prevMinReader = prevSnap.map(_.protocol.minReaderVersion).getOrElse(0)
    val prevCm = prevSnap.exists(s => graft.model.ColumnMapping.isEnabled(s.metadata))
    val prevConfig = prevSnap.map(_.metadata.configuration).getOrElse(Map.empty[String, String])
    val prevSchema = prevSnap.map(_.metadata.schemaString).getOrElse("")
    val config = commitMeta.map(_.configuration).getOrElse(prevConfig)
    def flag(key: String): Boolean =
      config.get(key).contains("true") || config.get(s"delta.$key").contains("true")
    val usesIct = flag("enableInCommitTimestamps")
    val usesCm = commitMeta.map(graft.model.ColumnMapping.isEnabled).getOrElse(prevCm)
    val usesDv = commitHasDv || prevMinReader >= 3
    // row tracking / domain metadata are writer features that force the
    // feature-gated protocol (rowTracking REQUIRES domainMetadata — the
    // high watermark lives in a metadata domain)
    val usesRowTracking = flag("enableRowTracking")
    val hasDomainActions = usesRowTracking ||
      actions.exists(_.isInstanceOf[graft.model.DomainMetadata])
    // schema-declared writer features: identity columns require
    // minWriterVersion 6+ (spelled as a v7 feature here); generated
    // columns are legacy-implied at 4 but must be LISTED once gated
    val schemaStr = commitMeta.map(_.schemaString).getOrElse(prevSchema)
    val usesIdentity = GeneratedColumns.hasIdentity(schemaStr)
    val usesGenerated = GeneratedColumns.hasGenerated(schemaStr)
    // column DEFAULTs are a v7 writer feature (`allowColumnDefaults`) —
    // a writer that ignores CURRENT_DEFAULT would insert NULL where the
    // declared default belongs
    val usesDefaults = Defaults.has(schemaStr)
    // writer-only table features: ICT, plus — once the protocol is
    // feature-gated and legacy minWriterVersion implications stop
    // applying — an explicit entry for EVERY active legacy-implied
    // feature (CDF, CHECK constraints; the spec requires v7 protocols to
    // list all active writer features, while legacy minWriterVersion 4/5
    // implies them)
    // v2 checkpointPolicy is a reader+writer table feature: commits must
    // gate readers that cannot discover UUID-named checkpoint files
    val usesV2Cp = config.get("delta.checkpointPolicy").contains("v2")
    // reader+writer table features carried by the SCHEMA: widened columns
    // (files narrower than declared exist) and VARIANT columns both gate
    // readers that cannot decode them
    val usesWidening = TypeWidening.has(schemaStr)
    val usesVariant = TypeWidening.containsVariant(schemaStr)
    val usesNtz = TypeWidening.containsNtz(schemaStr)
    val readerExtras =
      (if (usesV2Cp) Set("v2Checkpoint") else Set.empty[String]) ++
        (if (usesWidening) Set("typeWidening") else Set.empty[String]) ++
        (if (usesVariant) Set("variantType") else Set.empty[String]) ++
        (if (usesNtz) Set("timestampNtz") else Set.empty[String])
    val gated = usesIct || usesDv || hasDomainActions || usesIdentity ||
      usesV2Cp || usesDefaults || usesWidening || usesVariant || usesNtz
    val writerExtras =
      (if (usesIct) Set("inCommitTimestamp") else Set.empty[String]) ++
        (if (usesRowTracking) Set("rowTracking") else Set.empty[String]) ++
        (if (hasDomainActions) Set("domainMetadata") else Set.empty[String]) ++
        (if (usesIdentity) Set("identityColumns") else Set.empty[String]) ++
        (if (usesDefaults) Set("allowColumnDefaults") else Set.empty[String]) ++
        (if (gated && usesGenerated)
          Set("generatedColumns") else Set.empty[String]) ++
        (if (gated && flag("enableChangeDataFeed"))
          Set("changeDataFeed") else Set.empty[String]) ++
        (if (gated && config.keys.exists(_.startsWith(Constraints.PREFIX)))
          Set("checkConstraints") else Set.empty[String])
    val protoNode =
      DeltaLogCompat.protocolNodeFor(usesDv, usesCm, writerExtras, readerExtras)
    val needUpgrade = version > 0 &&
      ((commitHasDv && prevMinReader < 3) ||
        (usesCm && prevMinReader < 2) ||
        (usesIct && !prevHasIct) ||
        // schema-declared writer features arriving AFTER create (ALTER
        // ADD COLUMN with DEFAULT / identity) must land their protocol
        // upgrade in the same commit — the feature list protects the
        // table from writers that would ignore the new field semantics
        (usesDefaults && !Defaults.has(prevSchema)) ||
        (usesIdentity && !GeneratedColumns.hasIdentity(prevSchema)) ||
        (usesWidening && !TypeWidening.has(prevSchema)) ||
        (usesVariant && prevSchema.nonEmpty &&
          !TypeWidening.containsVariant(prevSchema)) ||
        (usesNtz && prevSchema.nonEmpty &&
          !TypeWidening.containsNtz(prevSchema))) &&
      !actions.exists(_.isInstanceOf[Protocol])
    val out =
      if (needUpgrade)
        Protocol(if (usesDv) 3 else if (usesCm) 2 else 1, version) +: actions
      else actions

    // same monotonized fold as graft-mode versionTimestamps
    val tsReq = actions.map {
      case a: AddFile    => a.timestamp
      case r: RemoveFile => r.timestamp
      case c: AddCDCFile => c.timestamp
      case _             => 0L
    }.foldLeft(0L)(math.max)
    val ts = if (tsReq > prevTs) tsReq else prevTs + 1

    DeltaLogCompat.writeCommit(fs, logDir, version, out, ts, protoNode, ict = usesIct,
      operation = operation)
    // Version checksum (delta "Version Checksum File"): fold the commit's
    // actions over the prev snapshot already in hand — zero extra log IO —
    // and record the post-commit state summary. Accelerator semantics:
    // an IO failure here warns, the durable commit stands.
    try {
      val active = mutable.LinkedHashMap.empty[String, AddFile]
      prevSnap.foreach(_.files.foreach(f => active(f.path) = f))
      var meta = prevSnap.map(_.metadata).orNull
      val txns = mutable.LinkedHashMap.empty[String, Long]
      prevSnap.foreach(_.transactions.foreach { case (k, v) => txns(k) = v })
      val doms = mutable.LinkedHashMap.empty[String, String]
      prevSnap.foreach(_.domains.foreach { case (k, v) => doms(k) = v })
      out.foreach {
        case a: AddFile             => active(a.path) = a
        case r: RemoveFile          => active.remove(r.path)
        case m: Metadata            => meta = m
        case t: graft.model.Txn     => txns(t.appId) = t.txnVersion
        case d: graft.model.DomainMetadata =>
          if (d.removed) doms.remove(d.domain) else doms(d.domain) = d.configuration
        case _                      => ()
      }
      if (meta != null)
        Checksum.write(fs, logDir, version,
          Checksum.compute(active.values, meta, protoNode, txns.toMap, doms.toMap,
            if (usesIct) Some(ts) else None))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"graft: version checksum at $tablePath v$version failed (commit is durable): $e")
    }
    formatCache.put(tablePath, true)
    listingCache.get(tablePath) match {
      case Some(vs) if version == vs.last + 1 => listingCache(tablePath) = vs :+ version
      case Some(_)                            => listingCache.remove(tablePath)
      case None if version == 0               => listingCache(tablePath) = Vector(0L)
      case None                               => ()
    }
  }

  /** Conflict profile of an optimistic transaction — the inputs to the
    * (conservative) delta conflict matrix [[commitWithRebase]] applies
    * when concurrent commits win the version this transaction prepared.
    *
    *  - `isBlindAppend`: the txn only ADDS data it wrote itself (no
    *    reads) — rebasable over any data change;
    *  - `updatesMetadata`: metadata/identity-allocation updates conflict
    *    with EVERY concurrent commit (delta's rule — and identity values
    *    generated against a stale watermark cannot be re-derived without
    *    rewriting data);
    *  - `readFiles` / `removedFiles`: files the txn's outcome depends on
    *    / tombstones it writes — a winner deleting any of them aborts;
    *  - `txnAppIds`: streaming watermarks — same-app concurrent progress
    *    aborts (the replayed batch may now be double-applied);
    *  - `domains`: metadata domains written NON-rebasable (the
    *    rowTracking domain is NOT listed by append — the caller
    *    re-allocates ids against the fresh snapshot on every attempt).
    */
  case class CommitProfile(
      isBlindAppend: Boolean,
      updatesMetadata: Boolean = false,
      readFiles: Set[String] = Set.empty,
      removedFiles: Set[String] = Set.empty,
      txnAppIds: Set[String] = Set.empty,
      domains: Set[String] = Set.empty)

  /** First reason the winning commits forbid a rebase, None if safe. */
  private def firstConflict(
      winning: Seq[CommitChange], p: CommitProfile): Option[String] =
    winning.view.flatMap { c =>
      val wRemoved = c.actions.collect { case r: RemoveFile => r.path }.toSet
      val wAddsData = c.actions.exists {
        case a: AddFile => a.dataChange
        case _ => false
      }
      val wTxns = c.actions.collect { case t: Txn => t.appId }.toSet
      val wDomains = c.actions.collect { case d: DomainMetadata => d.domain }.toSet
      if (c.actions.exists(_.isInstanceOf[Protocol]))
        Some(s"protocol changed by concurrent commit ${c.version}")
      else if (c.actions.exists(_.isInstanceOf[Metadata]))
        Some(s"metadata changed by concurrent commit ${c.version}")
      else if (p.updatesMetadata)
        Some(s"this transaction updates table metadata but commit ${c.version} won")
      else if ((wRemoved & p.readFiles).nonEmpty)
        Some(s"concurrent commit ${c.version} deleted files this transaction read: " +
          (wRemoved & p.readFiles).take(3).mkString(", "))
      else if ((wRemoved & p.removedFiles).nonEmpty)
        Some(s"concurrent commit ${c.version} already deleted: " +
          (wRemoved & p.removedFiles).take(3).mkString(", "))
      else if (!p.isBlindAppend && wAddsData)
        Some(s"concurrent commit ${c.version} added data this read-based " +
          "transaction did not see")
      else if ((wTxns & p.txnAppIds).nonEmpty)
        Some(s"concurrent commit ${c.version} advanced transaction " +
          s"${(wTxns & p.txnAppIds).head}")
      else if ((wDomains & p.domains).nonEmpty)
        Some(s"concurrent commit ${c.version} updated metadata domain " +
          s"${(wDomains & p.domains).head}")
      else None
    }.headOption

  /** OPTIMISTIC commit: build the actions against the CURRENT snapshot,
    * attempt the next version, and when a concurrent commit wins the
    * slot, apply the conflict matrix to the winning commits — rebase and
    * retry when logically safe (actions are re-derived from the fresh
    * snapshot each attempt, so version stamps, row-id allocations, and
    * watermarks stay exact), abort with the first conflict reason when
    * not. This is the delta concurrency contract: concurrent blind
    * appends all succeed; anything a winner invalidated fails loudly
    * instead of silently losing it.
    */
  def commitWithRebase(
      tablePath: String,
      conf: Configuration,
      profile: CommitProfile,
      deltaFormat: Boolean = false,
      maxAttempts: Int = 10,
      operation: String = "WRITE")(
      mkActions: (Snapshot, Long) => Seq[Action]): Long = {
    val log = new GraftLog(tablePath, conf)
    var snap = log.snapshot(None)
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val v = snap.version + 1
      val actions = mkActions(snap, v)
      try {
        commit(tablePath, v, actions, conf, deltaFormat, operation)
        return v
      } catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              (e.getMessage.contains("already committed") ||
                e.getMessage.contains("non-contiguous delta commit")) =>
          val latest = log.latestVersion()
          firstConflict(log.changes(v, latest), profile).foreach { reason =>
            throw new java.util.ConcurrentModificationException(
              s"cannot commit to $tablePath: $reason")
          }
          snap = log.snapshot(None)
      }
    }
    throw new IllegalStateException(
      s"gave up committing to $tablePath after $maxAttempts rebase attempts")
  }

  private def commitLocked(
      tablePath: String, version: Long, actions: Seq[Action], conf: Configuration): Unit = {
    val logDir = new Path(tablePath, LOG_DIR)
    val fs = logDir.getFileSystem(conf)
    fs.mkdirs(logDir)
    val target = new Path(logDir, versionFileName(version))
    require(!fs.exists(target), s"version $version already committed at $tablePath")
    val tmp = new Path(logDir, s".${versionFileName(version)}.tmp")
    val out = fs.create(tmp, true)
    try actions.foreach { a => out.write((JsonUtils.actionToLine(a) + "\n").getBytes("UTF-8")) }
    finally out.close()
    require(fs.rename(tmp, target), s"failed to commit $target")
    // keep the process-wide listing cache exact for in-JVM writers:
    // contiguous appends extend it; a gapped commit (tests only) drops it
    // so the next read re-lists
    listingCache.get(tablePath) match {
      case Some(vs) if version == vs.last + 1 => listingCache(tablePath) = vs :+ version
      case Some(_)                            => listingCache.remove(tablePath)
      case None                               => ()
    }
  }
}
