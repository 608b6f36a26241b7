package graft.client

import scala.collection.concurrent.TrieMap

/** Driver-side pre-signed-URL cache with expiry-aware refresh (T8: the
  * reference's `CachedTableManager`/`PreSignedUrlCache.scala:33-260`).
  *
  * Scan tasks address files as `graft:///<fileId>/<size>`;
  * [[graft.sources.GraftFileSystem]] resolves the id here at open time.
  * When an entry is within `refreshThresholdMs` of expiry (reference
  * default: 10 min before), the registering query's refresher closure is
  * re-run to fetch fresh URLs before the read starts — long queries never
  * hold stale links. On a real multi-JVM cluster this map sits behind a
  * driver RPC endpoint exactly like the reference's; in local mode the
  * shared JVM makes the lookup direct.
  */
object GraftUrlCache {

  case class Entry(url: String, expiration: Long)

  /** The entry for one served file: `exp` is the wire
    * `expirationTimestamp` (null = never expires).
    */
  def entry(id: String, url: String, exp: java.lang.Long): (String, Entry) =
    id -> Entry(url, Option(exp).map(_.longValue()).getOrElse(Long.MaxValue))

  @volatile var refreshThresholdMs: Long = 10 * 60 * 1000L

  private val entries = TrieMap.empty[String, Entry]
  private val refresherOf = TrieMap.empty[String, String] // fileId → refresher key
  private val refreshers = TrieMap.empty[String, () => Map[String, Entry]]

  /** Soft cap before expired entries are swept (the reference bounds its
    * cache with weak refs + a cleanup thread; a sweep on registration is
    * the local-mode equivalent).
    */
  private val SWEEP_THRESHOLD = 100000

  /** Register a query's id→url map plus the closure that re-signs them. */
  def register(
      refresherKey: String,
      files: Map[String, Entry],
      refresher: () => Map[String, Entry]): Unit = {
    if (entries.size > SWEEP_THRESHOLD) {
      val cutoff = System.currentTimeMillis()
      entries.filterInPlace((_, e) => e.expiration > cutoff)
      refresherOf.filterInPlace((id, _) => entries.contains(id))
      // a refresher closure whose every file entry was swept can never be
      // invoked again — drop it too (a tailing stream registers one per
      // version window; without this the closure map grows unboundedly)
      val live = refresherOf.values.toSet
      refreshers.filterInPlace((k, _) => live.contains(k))
    }
    entries ++= files
    files.keys.foreach(refresherOf(_) = refresherKey)
    refreshers(refresherKey) = refresher
  }

  /** Drop a query's entries + refresher (streaming sources call this for
    * version windows at or below the committed offset — those file ids
    * can never be read again).
    */
  def unregister(refresherKey: String): Unit = {
    refresherOf.filterInPlace { (id, k) =>
      if (k == refresherKey) { entries.remove(id); false } else true
    }
    refreshers.remove(refresherKey)
  }

  /** Current URL for a file id, refreshing the whole owning query's URL
    * set first when close to expiry.
    */
  def resolve(fileId: String): String = resolveWithExpiration(fileId)._1

  /** As [[resolve]], also returning the entry's expiration — the shape the
    * executor-side RPC fetcher caches against
    * ([[org.apache.spark.graft.GraftUrlRpc]]).
    */
  def resolveWithExpiration(fileId: String): (String, Long) = {
    val e = entries.getOrElse(fileId,
      throw new java.io.FileNotFoundException(s"no cached URL for file id $fileId"))
    if (e.expiration - System.currentTimeMillis() < refreshThresholdMs) {
      refresherOf.get(fileId).flatMap(refreshers.get).foreach { refresh =>
        entries ++= refresh()
      }
    }
    val cur = entries(fileId)
    (cur.url, cur.expiration)
  }

  /** Test hook. */
  private[graft] def clear(): Unit = { entries.clear(); refresherOf.clear(); refreshers.clear() }
}
