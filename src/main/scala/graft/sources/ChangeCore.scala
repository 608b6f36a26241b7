package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.client.{GraftRestClient, GraftUrlCache}
import graft.log.{DeletionVectors, GraftCDF, GraftCatalog, GraftLog}
import graft.model.{Action, AddCDCFile, AddFile, ColumnMapping, DeletionVectorDescriptor, Metadata, RemoveFile, RoaringBitmapArray}
import graft.server.wire

/** The change core: how a shared table's commits become Change Data Feed
  * rows. Every CDF reader goes through it — the batch relation
  * ([[GraftChangeRelation]]) and both streaming sources:
  *
  *  - [[ChangeCommit]]: one version's change files, as any transport
  *    describes them;
  *  - [[ChangeCore.rows]]: the one classifier (reference
  *    `DeltaSharingCDCReader.scala:244-292`, client assembly
  *    `RemoteDeltaCDFRelation.scala:73-139`) — cdc files first, else new
  *    adds, pure removes and deletion-vector updates, each read through
  *    [[GraftCDF.readChanges]];
  *  - three transports: the local log ([[LocalChanges]]) and `/changes`
  *    in the parquet or the delta dialect ([[RemoteChanges]]).
  */
private[graft] trait ChangeTransport {
  /** Earliest version committed at-or-after `timestamp` (a range start). */
  def versionAtOrAfter(timestamp: String): Long
  /** Latest version committed at-or-before `timestamp` (a range end). */
  def versionAtOrBefore(timestamp: String): Long
  /** The change rows of `[start, end]`; no `end` reads to the latest version. */
  def changes(start: Long, end: Option[Long]): DataFrame
}

/** One file a change commit names: `key` is its identity across commits
  * (the table-relative path locally, the server's file id remotely),
  * `path` the one the scan opens and its row filters key on.
  */
private[graft] final case class ChangeFile(
    key: String,
    path: Path,
    size: Long,
    partitionValues: Map[String, String],
    dv: Option[Dv] = None,
    dataChange: Boolean = true)

/** One version's change files. */
private[graft] final case class ChangeCommit(
    version: Long,
    timestamp: Long,
    cdc: Seq[ChangeFile],
    adds: Seq[ChangeFile],
    removes: Seq[ChangeFile]) {

  /** The files a change read opens: the cdc files when there are any. */
  private def read: Seq[ChangeFile] =
    if (cdc.nonEmpty) cdc else adds.filter(_.dataChange) ++ removes.filter(_.dataChange)

  /** The stream's admission unit. */
  def nFiles: Int = read.size
  def bytes: Long = read.map(_.size).sum
}

/** The deletion vector of every file live just below version `next`, by
  * file key. [[ChangeCore.rows]] advances it past each commit it reads.
  */
private[graft] final class ChangeState(var next: Long) {
  val dvs: mutable.HashMap[String, Option[Dv]] = mutable.HashMap.empty
}

private[graft] object ChangeCore {

  /** The change rows of `commits` (ascending versions) read with `layout`.
    * `state` must hold the state below the first commit; on return it
    * holds the state after the last.
    */
  def rows(
      spark: SparkSession,
      layout: Layout,
      commits: Seq[ChangeCommit],
      state: ChangeState): DataFrame = {
    layout.prepare(spark)
    commits.flatMap(classify(spark, layout, _, state)) match {
      case Nil => spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        GraftCDF.withCdfColumns(layout.logical))
      case dfs => dfs.reduce(_.unionByName(_))
    }
  }

  private def bitmapOf(dv: Option[Dv]): Set[Long] =
    dv.fold(Set.empty[Long])(d => RoaringBitmapArray.deserialize(d.bytes).toSeq.toSet)

  /** One commit's change rows, classified against the pre-commit state
    * (delta's CDC reader derives row changes from DV diffs the same way).
    * A dataChange add of a known file is a DV update in place: the rows
    * newly set in its DV are deletes, rows newly cleared are restored
    * inserts. A remove of a DV-carrying file deletes only its live rows.
    */
  private def classify(
      spark: SparkSession,
      layout: Layout,
      c: ChangeCommit,
      state: ChangeState): Seq[DataFrame] = {
    val ts = new java.sql.Timestamp(c.timestamp)
    def read(files: Seq[ChangeFile], changeType: Option[String],
        keep: Map[String, Array[Byte]] = Map.empty,
        drop: Map[String, Array[Byte]] = Map.empty): Seq[DataFrame] =
      GraftCDF.readChanges(spark, layout, files.map(f => f.path.toString -> f.partitionValues),
        changeType, c.version, ts, keep, drop).toSeq
    def bitmaps(blobs: Seq[(ChangeFile, Array[Byte])]): Map[String, Array[Byte]] =
      ScanCore.bySpelling(blobs.map { case (f, b) => f.path -> b })

    val adds = c.adds.filter(_.dataChange)
    val addedKeys = adds.map(_.key).toSet
    val (dvUpdates, newAdds) = adds.partition(a => state.dvs.contains(a.key))
    val pureRemoves = c.removes.filter(r => r.dataChange && !addedKeys(r.key))

    val emitted =
      if (c.cdc.nonEmpty) read(c.cdc, None)
      else {
        val diffs = dvUpdates.map { a =>
          val (was, now) = (bitmapOf(state.dvs(a.key)), bitmapOf(a.dv))
          (a, now.diff(was), was.diff(now))
        }
        def diff(sel: ((ChangeFile, Set[Long], Set[Long])) => Set[Long], changeType: String) = {
          val hit = diffs.filter(sel(_).nonEmpty)
          read(hit.map(_._1), Some(changeType),
            keep = bitmaps(hit.map(d => d._1 -> RoaringBitmapArray(sel(d)).serialize())))
        }
        read(newAdds, Some("insert"), drop = bitmaps(newAdds.flatMap(a => a.dv.map(a -> _.bytes)))) ++
          read(pureRemoves, Some("delete"), drop = bitmaps(pureRemoves.flatMap(r =>
            state.dvs.getOrElse(r.key, None).map(r -> _.bytes)))) ++
          diff(_._2, "delete") ++
          diff(_._3, "insert")
      }

    // advance with EVERY add and remove (dataChange=false compaction swaps
    // included: later commits may touch the swapped-in files)
    val allAddKeys = c.adds.map(_.key).toSet
    c.adds.foreach(a => state.dvs(a.key) = a.dv)
    c.removes.filterNot(r => allAddKeys(r.key)).foreach(r => state.dvs.remove(r.key))
    state.next = c.version + 1
    emitted
  }
}

/** Transport 1: the table's own log. Commits are read through `log`'s
  * commit memo, so a streaming source that admitted a range reads it once.
  * Each version must have had CDF on when it committed (a version written
  * while CDF was off has no capture, and synthesized changes for it would
  * be wrong), and the column-mapping mode must not change mid-range.
  */
private[graft] final class LocalChanges(spark: SparkSession, log: GraftLog)
    extends ChangeTransport {

  private val tablePath = log.tablePath
  private lazy val conf = spark.sessionState.newHadoopConf()
  private lazy val root = {
    val r = new Path(tablePath)
    r.getFileSystem(conf).makeQualified(r)
  }

  override def versionAtOrAfter(timestamp: String): Long =
    log.versionAtOrAfter(graft.server.GraftServer.parseWireTimestamp(timestamp))

  override def versionAtOrBefore(timestamp: String): Long =
    log.versionAtOrBefore(graft.server.GraftServer.parseWireTimestamp(timestamp))

  override def changes(start: Long, end: Option[Long]): DataFrame = {
    val latest = log.latestVersion()
    val last = end.getOrElse(latest)
    require(start <= last, s"startingVersion($start) > endingVersion($last)")
    require(start <= latest, s"startingVersion($start) is after the latest version $latest")
    // The END boundary's schema reads every version in range: schema
    // evolution only widens what older files can express (added columns
    // null-fill, widened types upcast in place), so the end schema is the
    // one type all emitted rows share — the same choice delta's CDCReader
    // makes when the schema changed mid-range.
    val meta = GraftCatalog.tableStateAt(log, math.min(last, latest))._1
    require(GraftCDF.isEnabled(GraftCatalog.tableStateAt(log, start)._1) ||
      GraftCDF.isEnabled(meta),
      s"Change Data Feed is not enabled on table $tablePath " +
        "(set configuration enableChangeDataFeed=true, e.g. via " +
        "ALTER TABLE ... SET TBLPROPERTIES)")
    ColumnMapping.assertNoAdvancedFeatures(
      meta, s"change data feed of $tablePath", allowCm = true, allowDv = true)
    ChangeCore.rows(spark, Layout.of(meta), commits(start, last, ColumnMapping.mode(meta)).toVector,
      stateBefore(start))
  }

  /** Commits in `[start, end]`, read one version at a time as the walk pulls. */
  def versions(start: Long, end: Long): Iterator[(Long, Seq[Action])] = {
    val vs = log.listVersions()
    require(vs.nonEmpty && start >= vs.head,
      s"startingVersion($start) before log start ${vs.headOption.getOrElse(-1L)}")
    vs.iterator.dropWhile(_ < start).takeWhile(_ <= end).map(v => v -> log.readVersion(v))
  }

  private def dv(p: Path, d: DeletionVectorDescriptor): Dv =
    new Dv(p, () => DeletionVectors.resolveBytes(tablePath, d, conf))

  private def file(
      path: String, size: Long, partitionValues: Map[String, String],
      deletionVector: Option[DeletionVectorDescriptor] = None,
      dataChange: Boolean = true): ChangeFile = {
    val p = new Path(root, path)
    ChangeFile(path, p, size, partitionValues, deletionVector.map(dv(p, _)), dataChange)
  }

  /** The change commits of `[start, end]`, lazily, for files whose
    * columns use column-mapping mode `cmMode`.
    */
  def commits(start: Long, end: Long, cmMode: String): Iterator[ChangeCommit] = {
    lazy val timestamps = log.versionTimestamps().toMap
    // enablement as of the range start; metadata in a commit governs that
    // same commit's data actions
    var cdfOn = GraftCDF.isEnabled(GraftCatalog.tableStateAt(log, start)._1)
    versions(start, end).map { case (v, actions) =>
      actions.foreach {
        case m: Metadata =>
          ColumnMapping.assertNoAdvancedFeatures(
            m, s"change data feed of $tablePath (version $v)", allowCm = true, allowDv = true)
          // a mode flip mid-range would change how files in LATER
          // versions spell their columns — refuse rather than mis-read
          require(ColumnMapping.mode(m) == cmMode,
            s"change data feed of $tablePath: column-mapping mode changed " +
              s"mid-range at version $v ($cmMode -> ${ColumnMapping.mode(m)})")
          cdfOn = GraftCDF.isEnabled(m)
        case _ => ()
      }
      val commit = ChangeCommit(v, timestamps(v),
        cdc = actions.collect { case c: AddCDCFile => file(c.path, c.size, c.partitionValues) },
        adds = actions.collect { case a: AddFile =>
          file(a.path, a.size, a.partitionValues, a.deletionVector, a.dataChange) },
        removes = actions.collect { case r: RemoveFile =>
          file(r.path, r.size, r.partitionValues, dataChange = r.dataChange) })
      require(cdfOn || commit.nFiles == 0,
        s"Change Data Feed of $tablePath: version $v committed " +
          "while CDF was disabled — its row changes were never captured; " +
          "start the range after the enabling SET TBLPROPERTIES commit")
      commit
    }
  }

  /** The state below `version`: the files of the snapshot one version down. */
  def stateBefore(version: Long): ChangeState = {
    val state = new ChangeState(version)
    if (version > 0) log.snapshot(Some(version - 1)).files.foreach { f =>
      state.dvs(f.path) = f.deletionVector.map(dv(new Path(root, f.path), _))
    }
    state
  }
}

/** Transports 2 and 3: `/changes` of a remote shared table. The parquet
  * dialect serves no deletion vectors (the server refuses such ranges), so
  * nothing is needed of the state below a range. The delta dialect, which
  * tables with deletion vectors or column mapping require, serves raw
  * delta actions: adds carry their DV descriptors, and the state below a
  * range comes from one `/query` at the version below it. File identity
  * across responses is the server's stable file id (the pre-signed URL
  * changes per response, the id does not); in the delta dialect every
  * served file INSTANCE reads through a version-scoped `graft://` id, so
  * the same physical file read at two versions (different DV keep-sets)
  * never collides in the path-keyed DV filter.
  */
private[graft] final class RemoteChanges(
    spark: SparkSession,
    client: GraftRestClient,
    share: String,
    schemaName: String,
    table: String,
    delta: Boolean) extends ChangeTransport {
  import RemoteChanges.Fetched

  /** One served file: the `graft://` id it reads through and its URL. */
  private case class Served(
      version: Long, timestamp: Long, kind: Int, id: String, file: ChangeFile,
      url: String, expiration: java.lang.Long)
  private val CDC = 0
  private val ADD = 1
  private val REMOVE = 2

  private def dv(path: Path, d: wire.DeltaDvW): Dv = new Dv(path, () => ScanCore.fetchDvBytes(d))

  private def file(key: String, id: String, size: Long, partitionValues: Map[String, String],
      deletionVector: Option[wire.DeltaDvW] = None, dataChange: Boolean = true): ChangeFile = {
    val path = GraftFileSystem.encodePath(id, size)
    ChangeFile(key, path, size, partitionValues, deletionVector.map(dv(path, _)), dataChange)
  }

  override def versionAtOrAfter(timestamp: String): Long =
    client.tableVersion(share, schemaName, table, startingTimestamp = Some(timestamp))

  override def versionAtOrBefore(timestamp: String): Long =
    client.deltaMetadata(share, schemaName, table, timestamp = Some(timestamp))._2

  def fetch(start: Long, end: Option[Long]): Fetched = {
    val params = Map("startingVersion" -> start.toString) ++
      end.map(e => "endingVersion" -> e.toString)
    val (layout, schemas, served) =
      if (delta) {
        val res = client.deltaChanges(share, schemaName, table, params)
        val dm = res.metas.headOption.getOrElse(throw new IllegalStateException(
          s"no metaData line in delta changes response for $share.$schemaName.$table"))
          .deltaMetadata
        (Layout.ofWire(dm.schemaString, dm.partitionColumns, dm.configuration),
          res.metas.map(m => m.deltaMetadata.schemaString -> m.version),
          res.files.map { f =>
            val v = Option(f.version).map(_.longValue()).getOrElse(-1L)
            val id = s"${f.id}~v$v"
            def served(kind: Int, file: ChangeFile, url: String) = Served(v,
              Option(f.timestamp).map(_.longValue()).getOrElse(0L), kind, id, file, url,
              f.expirationTimestamp)
            val a = f.deltaSingleAction
            if (a.cdc != null)
              served(CDC, file(f.id, id, a.cdc.size, a.cdc.partitionValues), a.cdc.path)
            else if (a.add != null)
              served(ADD, file(f.id, id, a.add.size, a.add.partitionValues,
                Option(a.add.deletionVector), a.add.dataChange), a.add.path)
            else served(REMOVE, file(f.id, id, a.remove.size, a.remove.partitionValues,
              dataChange = a.remove.dataChange), a.remove.path)
          })
      } else {
        val res = client.changes(share, schemaName, table, params)
        val m = res.metadata
        // the parquet dialect refuses column-mapped tables: names are logical
        (Layout(DataType.fromJson(m.schemaString).asInstanceOf[StructType],
          m.partitionColumns, idMode = false),
          res.metas.map(m => m.schemaString -> m.version),
          res.cdfs.map(c => Served(c.version, c.timestamp, CDC, c.id,
            file(c.id, c.id, c.size, c.partitionValues), c.url, c.expirationTimestamp)) ++
            res.adds.map(a => Served(a.version, a.timestamp, ADD, a.id,
              file(a.id, a.id, a.size, a.partitionValues), a.url, a.expirationTimestamp)) ++
            res.removes.map(r => Served(r.version, r.timestamp, REMOVE, r.id,
              file(r.id, r.id, r.size, r.partitionValues), r.url, r.expirationTimestamp)))
      }
    val commits = served.groupBy(_.version).toSeq.sortBy(_._1).map { case (v, fs) =>
      def of(kind: Int) = fs.filter(_.kind == kind).sortBy(_.id).map(_.file)
      ChangeCommit(v, fs.map(_.timestamp).max, of(CDC), of(ADD), of(REMOVE))
    }
    Fetched(layout, schemas, commits,
      served.map(s => GraftUrlCache.entry(s.id, s.url, s.expiration)).toMap)
  }

  /** The state below `version`: nothing in the parquet dialect; in the
    * delta dialect, the files of a `/query` one version down. Pre-signed
    * DV URLs expire, so each call asks afresh.
    */
  def stateBefore(version: Long): ChangeState = {
    val state = new ChangeState(version)
    if (delta && version > 0)
      client.deltaQuery(share, schemaName, table, wire.QueryRequest(version = version - 1))
        .files.foreach { f =>
          val add = f.deltaSingleAction.add
          state.dvs(f.id) =
            Option(add.deletionVector).map(dv(GraftFileSystem.encodePath(f.id, add.size), _))
        }
    state
  }

  /** One `/changes` request for the range, its URLs registered with a
    * refresher that re-runs it.
    */
  override def changes(start: Long, end: Option[Long]): DataFrame = {
    GraftFileSystem.register(spark)
    val res = fetch(start, end)
    GraftUrlCache.register(s"changes:$share.$schemaName.$table@$start-$end#$delta", res.urls,
      () => fetch(start, end).urls)
    ChangeCore.rows(spark, res.layout, res.commits, stateBefore(start))
  }
}

private[graft] object RemoteChanges {
  /** One `/changes` response: the layout of its first metadata, the
    * schemas of all its metadata lines with their versions, the change
    * commits of the versions it names, and the URL-cache entries of every
    * served file.
    */
  final case class Fetched(
      layout: Layout,
      schemas: Seq[(String, java.lang.Long)],
      commits: Seq[ChangeCommit],
      urls: Map[String, GraftUrlCache.Entry])
}
