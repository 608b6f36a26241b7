package graft.log

import java.util.{LinkedHashMap => JLinkedHashMap, Map => JMap}

import org.apache.spark.sql.SparkSession

/** Registry of shared tables: `share.schema.table` → storage location,
  * mirroring the reference's share/schema/table config tree
  * (`ServerConfig.scala:208-259`) with an LRU snapshot cache of the same
  * default size as the reference's `deltaTableCacheSize=10`
  * (`ServerConfig.scala:53-54`; loader `DeltaSharedTableLoaderscala:40-79`).
  */
object GraftCatalog {

  val SNAPSHOT_CACHE_SIZE = 10

  /** Per-table sharing posture, mirroring the reference's `TableConfig`
    * (`ServerConfig.scala:240-259`): `historyShared` gates every
    * history-addressed read (time travel, startingVersion ranges, CDF,
    * streaming) — a provider can share a snapshot WITHOUT its history;
    * `startVersion` hides versions below it even when history is shared.
    * Graft's fixture default is historyShared=true (the reference
    * defaults to false; every existing fixture shares history, and the
    * gate — not the default — is the semantics under test).
    */
  case class ShareConfig(
      location: String,
      historyShared: Boolean = true,
      startVersion: Long = 0L)

  private val tables = scala.collection.concurrent.TrieMap.empty[String, ShareConfig]

  /** (location, version) → snapshot, with the checkpoint version its
    * replay started from (what [[GraftLog.replay]] needs to derive a later
    * version from it).
    */
  private val snapshotCache =
    new JLinkedHashMap[(String, Long), (Snapshot, Long)](16, 0.75f, true) {
      override def removeEldestEntry(e: JMap.Entry[(String, Long), (Snapshot, Long)]): Boolean =
        size() > SNAPSHOT_CACHE_SIZE
    }

  def register(fqn: String, location: String): Unit =
    tables(fqn) = ShareConfig(location)

  def register(fqn: String, location: String,
      historyShared: Boolean, startVersion: Long = 0L): Unit =
    tables(fqn) = ShareConfig(location, historyShared, startVersion)

  def unregister(fqn: String): Unit = tables.remove(fqn)

  def shareConfig(fqn: String): ShareConfig =
    tables.getOrElse(fqn, throw new NoSuchElementException(
      s"table $fqn is not shared (known: ${tables.keys.toSeq.sorted.mkString(", ")})"))

  /** Version-pinned snapshot through the same LRU — the server resolves
    * page-token versions through here, so a 10-page walk over a 10^5-file
    * table replays the log once, not once per page (the reference's
    * `DeltaSharedTableLoader` caches per-version snapshots the same way).
    * A miss starts from the newest cached earlier version of the table
    * and applies only the commits after it, when a cold replay would
    * start from the same checkpoint, and shares the AddFile objects of a
    * cached later version ([[GraftLog.replay]]): cached versions hold
    * each parsed file once.
    */
  def snapshotAt(l: GraftLog, version: Long): Snapshot = {
    val key = (l.tablePath, version)
    // replay OUTSIDE the cache monitor (same discipline as
    // filteredListing): a cold 10^5-file replay takes hundreds of ms,
    // and holding the global lock for it would serialize every other
    // table's snapshot resolution behind it. Concurrent duplicate
    // replays of the same immutable version are benign — last put wins.
    val others = snapshotCache.synchronized {
      val cached = snapshotCache.get(key)
      if (cached != null) return cached._1
      val out = Seq.newBuilder[(Snapshot, Long)]
      snapshotCache.forEach((k, v) => if (k._1 == l.tablePath) out += v)
      out.result()
    }
    val entry = l.replay(version, others)
    snapshotCache.synchronized { snapshotCache.put(key, entry) }
    entry._1
  }

  /** (location, version, query checksum) → the positions, in the
    * snapshot's file index, of the pruned+limited listing in serving
    * order. A paginated /query walk runs the prune → skip → limit
    * pipeline ONCE; continuation pages slice the cached positions, so full
    * pagination is O(files) total instead of O(files × pages). Positions
    * are stable: a version's replay order does not depend on how it was
    * replayed. The checksum binds every query parameter that shapes the
    * listing, and the page token already proves the caller's parameters
    * hash to it.
    */
  private val filteredListings =
    new JLinkedHashMap[(String, Long, String), Array[Int]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: JMap.Entry[(String, Long, String), Array[Int]]): Boolean =
        size() > SNAPSHOT_CACHE_SIZE
    }

  def filteredListing(location: String, version: Long, checksum: String)(
      compute: => Array[Int]): Array[Int] = {
    filteredListings.synchronized {
      val cached = filteredListings.get((location, version, checksum))
      if (cached != null) return cached
    }
    val v = compute
    filteredListings.synchronized {
      filteredListings.put((location, version, checksum), v)
    }
    v
  }

  /** (location, start, end) → replayed commit range. The server builds a
    * fresh GraftLog per REQUEST, so its per-instance commit cache never
    * spans a page walk — without this every /changes page re-reads and
    * re-parses the whole range's action JSON (measured ~450 ms/page at
    * 100k actions). Committed versions are immutable, so a pinned
    * [start, end] range never invalidates except on table recreation.
    */
  private val changeRanges =
    new JLinkedHashMap[(String, Long, Long), Seq[CommitChange]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: JMap.Entry[(String, Long, Long), Seq[CommitChange]]): Boolean =
        size() > SNAPSHOT_CACHE_SIZE
    }

  def changesBetween(l: GraftLog, start: Long, requestedEnd: Long): Seq[CommitChange] = {
    // clamp the KEY to the table's current latest: GraftLog.changes
    // silently truncates a too-high endingVersion to existing commits,
    // so caching under the raw requested end would freeze that
    // truncation — a later commit inside [start, requestedEnd] would be
    // omitted from every subsequent identical request (appends never
    // invalidate; only recreation does). latestVersion() is the O(1)
    // listing-cache probe.
    val end = requestedEnd min l.latestVersion()
    val key = (l.tablePath, start, end)
    changeRanges.synchronized {
      val cached = changeRanges.get(key)
      if (cached != null) return cached
    }
    val v = l.changes(start, end) // outside the lock, like snapshotAt
    changeRanges.synchronized { changeRanges.put(key, v) }
    v
  }

  /** Drop cached snapshots of `location` — required when a table is
    * RECREATED at the same path (overwrite / drop+create): version
    * numbers restart, so (location, version) keys would serve the old
    * incarnation's state.
    */
  private[graft] def invalidateSnapshots(location: String): Unit = {
    snapshotCache.synchronized {
      snapshotCache.keySet.removeIf(_._1 == location)
    }
    filteredListings.synchronized {
      filteredListings.keySet.removeIf(_._1 == location)
    }
    changeRanges.synchronized {
      changeRanges.keySet.removeIf(_._1 == location)
    }
  }

  def location(fqn: String): String = shareConfig(fqn).location

  def listTables(): Seq[String] = tables.keys.toSeq.sorted

  def log(spark: SparkSession, fqn: String): GraftLog =
    new GraftLog(location(fqn), spark.sessionState.newHadoopConf())

  /** Snapshot with LRU caching keyed by (location, resolved version). */
  def snapshot(spark: SparkSession, fqn: String, version: Option[Long] = None,
      timestampMs: Option[Long] = None): Snapshot = {
    require(version.isEmpty || timestampMs.isEmpty,
      "at most one of version/timestamp may be set")
    val l = log(spark, fqn)
    val resolved = version
      .orElse(timestampMs.map(l.versionAtOrBefore))
      .getOrElse(l.latestVersion())
    snapshotAt(l, resolved)
  }
}
