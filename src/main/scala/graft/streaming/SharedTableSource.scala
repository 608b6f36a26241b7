package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.types.StructType

import graft.sources.{ChangeCommit, ChangeCore, ChangeState, Layout}

/** The one streaming contract behind [[GraftSource]] (local log) and
  * [[RemoteGraftSource]] (REST): the reference's `DeltaSharingSource`
  * (`client/.../DeltaSharingSource.scala:93-1207`), written once over a
  * transport that supplies the table's versions, files and DataFrames.
  *
  * Semantics:
  *  - snapshot-then-tail (T2): with no `startingVersion`/`startingTimestamp`
  *    the stream first consumes the snapshot at the table's version when
  *    the source was created (`isStartingVersion=true`), then tails the
  *    change log; `startingVersion=N` starts replay at N.
  *  - stable in-version ordering (O1): the transport orders each version's
  *    files, so offsets are reproducible.
  *  - admission control (T3): `maxFilesPerTrigger` (default 1000) /
  *    `maxBytesPerTrigger`; at least one file is always admitted.
  *  - empty-version sentinels (T5): offsets advance through versions with
  *    no data files via `index = -1`.
  *  - change-commit policing (T6): a removing commit fails the stream
  *    unless `ignoreChanges`/`ignoreDeletes`; `skipChangeCommits` drops
  *    such commits entirely.
  *  - Trigger.AvailableNow (T9): the end version is frozen at
  *    `prepareForTriggerAvailableNow`.
  *  - CDF (T10): `readChangeFeed=true` streams row-level changes with the
  *    3 CDF metadata columns. Versions are admitted ATOMICALLY (a commit's
  *    update_preimage/postimage rows never split across batches —
  *    reference `DeltaSharingSource.scala:743-766`), so offsets advance in
  *    whole versions. Without a start option the stream tails changes from
  *    the table's version when the source was created.
  *
  * @tparam F one data file as the transport describes it
  */
abstract class SharedTableSource[F](spark: SparkSession, options: Map[String, String])
    extends Source
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  import GraftSourceOffset.VERSION_CONSUMED

  // ------------------------------------------------------ the transport

  /** The table as error messages and `toString` name it. */
  protected def tableName: String
  protected def tableId: String
  /** How the table's files spell its columns, as of the source's start. */
  protected def layout: Layout
  protected def tableSchema: StructType = layout.logical
  /** The table's version when the source was created. */
  protected def versionAtStart: Long
  protected def latestVersion(): Long
  /** Earliest version committed at-or-after a `startingTimestamp` value. */
  protected def versionAtOrAfter(timestamp: String): Long
  /** The data files of the snapshot at `version`, in offset order. */
  protected def snapshotFiles(version: Long): Seq[F]
  /** Per version in `[start, end]`: its data-changing adds in offset order
    * and whether it removes data. LAZY — admission stops pulling at its
    * cap, so a trigger reads O(admitted) versions of a long backlog. The
    * transport's mid-stream metadata and protocol guards run here.
    */
  protected def commits(start: Long, end: Long): Iterator[(Long, Seq[F], Boolean)]
  /** Per version in `[start, end]`, lazily: its change commit. */
  protected def changeCommits(start: Long, end: Long): Iterator[ChangeCommit]
  /** The change core's state below `version`. */
  protected def changeStateBefore(version: Long): ChangeState
  protected def sizeOf(file: F): Long
  /** The streaming micro-batch over `files`. */
  protected def batchDF(files: Seq[F]): DataFrame
  /** Drop per-version state below `version`: it can never be read again. */
  protected def releaseBelow(version: Long): Unit
  /** Test hook: versions whose commit actions the transport holds. */
  private[graft] def heldCommitVersions: Iterable[Long]

  // ------------------------------------------------------------ options

  /** Replay start: explicit version, or a timestamp resolved to the
    * earliest version committed at-or-after it (reference
    * `DeltaSharingOptions` startingVersion/startingTimestamp resolution).
    * Lazy: the transport is not yet constructed when this class is.
    */
  private lazy val startingVersion: Option[Long] =
    (options.get("startingVersion"), options.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "at most one of startingVersion/startingTimestamp may be set")
      case (Some(v), None) => Some(v.toLong)
      case (None, Some(ts)) => Some(versionAtOrAfter(ts))
      case _ => None
    }
  protected val cdfMode: Boolean = options.get("readChangeFeed").exists(_.toBoolean)
  private val maxFilesPerTrigger: Int =
    options.get("maxFilesPerTrigger").map(_.toInt).getOrElse(GraftSource.DEFAULT_MAX_FILES)
  private val maxBytesPerTrigger: Option[Long] = options.get("maxBytesPerTrigger").map(_.toLong)
  private val ignoreRemoves: Boolean =
    Seq("ignoreChanges", "ignoreDeletes").exists(k => options.get(k).exists(_.toBoolean))
  private val skipChangeCommits: Boolean = options.get("skipChangeCommits").exists(_.toBoolean)

  /** First version a CDF stream consumes. */
  private lazy val cdfStartVersion: Long = startingVersion.getOrElse(versionAtStart)

  override lazy val schema: StructType =
    if (cdfMode) graft.log.GraftCDF.withCdfColumns(tableSchema) else tableSchema

  /** Frozen end version for Trigger.AvailableNow. */
  @volatile private var frozenEndVersion: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    frozenEndVersion = Some(latestVersion())

  override def getDefaultReadLimit: ReadLimit = {
    // Mirrors the reference's AdmissionLimits.toReadLimit
    // (DeltaSharingSource.scala:1144-1155): a byte cap gets its own custom
    // ReadLimit (Spark has no built-in one), composed with the file cap
    // when both are set. Bytes-only must NOT degrade to allAvailable.
    val fileLimit =
      options.get("maxFilesPerTrigger").map(_ => ReadLimit.maxFiles(maxFilesPerTrigger))
    val byteLimit = maxBytesPerTrigger.map(GraftReadMaxBytes(_))
    (fileLimit, byteLimit) match {
      case (Some(f), Some(b)) => ReadLimit.compositeLimit(Array[ReadLimit](f, b))
      case (None, Some(b))    => b
      case _                  => ReadLimit.maxFiles(maxFilesPerTrigger)
    }
  }

  // ----------------------------------------------------- the offset walk

  /** One file (or sentinel) of the stream, in offset order. */
  private case class IndexedFile(
      version: Long, index: Long, file: Option[F], isStarting: Boolean) {
    def offset: GraftSourceOffset = GraftSourceOffset(tableId, version, index, isStarting)
  }

  /** Snapshot file lists, memoized: the starting-snapshot phase is drained
    * across many triggers and `latestOffset` + `getBatch` each resume it
    * from an offset index, so without the memo every trigger would re-read
    * (or re-fetch over REST) and re-order the whole snapshot.
    */
  private val snapshotCache =
    scala.collection.concurrent.TrieMap.empty[Long, IndexedSeq[F]]

  /** All files after `from` (exclusive) up to `endVersion` (inclusive), in
    * offset order, as a LAZY iterator; `from=None` ⇒ start of stream per
    * options. Laziness is the scale contract: `latestOffset` feeds this
    * straight into early-stopping admission, so each trigger does
    * O(admitted) work — an eager walk would rebuild the entire remaining
    * backlog per trigger, O(backlog²) across a long catch-up (measured:
    * MetaProbe `stream` section).
    *
    * Sentinels sit at `(version + 1, -1)` — "before any file of the NEXT
    * version" — so they sort strictly after the files of the version they
    * close ((v, n-1) < (v+1, -1) < (v+1, 0)). This is what lets offsets
    * advance through empty and skipped versions (the reference bumps
    * finished versions to (v+1, index=-1) the same way,
    * `DeltaSharingSource.scala:969-992`).
    */
  private def filesAfter(
      from: Option[GraftSourceOffset], endVersion: Long): Iterator[IndexedFile] = {

    def snapshot(version: Long, fromIndex: Long): Iterator[IndexedFile] =
      snapshotCache.getOrElseUpdate(version, snapshotFiles(version).toIndexedSeq)
        .iterator.zipWithIndex.collect {
          case (f, i) if i > fromIndex => IndexedFile(version, i.toLong, Some(f), isStarting = true)
        } ++ Iterator.single(IndexedFile(version + 1, VERSION_CONSUMED, None, isStarting = false))

    def changes(fromVersion: Long, fromIndex: Long): Iterator[IndexedFile] =
      if (fromVersion > endVersion) Iterator.empty
      else commits(fromVersion, endVersion).flatMap { case (v, adds, hasRemoves) =>
        val kept =
          if (dropCommit(v, hasRemoves)) Nil
          else adds.iterator.zipWithIndex.collect {
            case (f, i) if v > fromVersion || i > fromIndex =>
              IndexedFile(v, i.toLong, Some(f), isStarting = false)
          }.toVector
        kept :+ IndexedFile(v + 1, VERSION_CONSUMED, None, isStarting = false)
      }

    from match {
      case None =>
        startingVersion match {
          case Some(sv) => changes(sv, Long.MinValue)
          case None =>
            val snapV = math.min(versionAtStart, endVersion)
            snapshot(snapV, Long.MinValue) ++ changes(snapV + 1, Long.MinValue)
        }
      case Some(o) if o.isStartingVersion =>
        snapshot(o.tableVersion, o.index) ++ changes(o.tableVersion + 1, Long.MinValue)
      case Some(o) if o.index == VERSION_CONSUMED => changes(o.tableVersion, Long.MinValue)
      case Some(o) => changes(o.tableVersion, o.index)
    }
  }

  /** Change-commit policing (T6): whether version `v` is skipped whole. A
    * removing commit the options do not cover fails the stream.
    */
  private def dropCommit(v: Long, hasRemoves: Boolean): Boolean = {
    if (hasRemoves && !skipChangeCommits && !ignoreRemoves) {
      throw new UnsupportedOperationException(
        s"Detected a data update/delete in version $v of table $tableName. " +
          "Streaming sources only support appends; set the 'skipChangeCommits' option " +
          "to skip such commits, or 'ignoreChanges'/'ignoreDeletes' to stream the " +
          "added files anyway.")
    }
    hasRemoves && skipChangeCommits
  }

  // ------------------------------------------------------ Source surface

  override def latestOffset(startOffset: streaming.Offset, limit: ReadLimit): streaming.Offset = {
    val from = Option(startOffset).map(o => GraftSourceOffset(o.asInstanceOf[Offset]))
    val endVersion = frozenEndVersion.getOrElse(latestVersion())
    val last =
      if (cdfMode) {
        val startV = from.map(_.tableVersion).getOrElse(cdfStartVersion)
        val units =
          if (startV > endVersion) Iterator.empty
          else changeCommits(startV, endVersion).map(c => (c.version, c.nFiles, c.bytes))
        Admission.admitVersions(units, limit).lastOption.map(v =>
          GraftSourceOffset(tableId, v + 1, VERSION_CONSUMED, isStartingVersion = false))
      } else {
        Admission.admit(filesAfter(from, endVersion), limit)(
          _.file.isDefined, _.file.map(sizeOf).getOrElse(0L)).lastOption.map(_.offset)
      }
    last.orElse(from).orNull
  }

  override def getOffset: Option[Offset] =
    Option(latestOffset(null, getDefaultReadLimit)).map(_.asInstanceOf[Offset])

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(GraftSourceOffset(_))
    val to = GraftSourceOffset(end)
    from.foreach(f => GraftSourceOffset.validate(f, to))
    // a sentinel (v+1, -1) means "consumed through v": walking v+1 would
    // read — and police — a commit outside the batch
    val endV = if (to.index == VERSION_CONSUMED) to.tableVersion - 1 else to.tableVersion
    if (cdfMode) return cdfBatch(from.map(_.tableVersion).getOrElse(cdfStartVersion), endV)
    batchDF(filesAfter(from, endV).takeWhile(_.offset.compare(to) <= 0)
      .flatMap(_.file).toVector) // bounded by the batch
  }

  /** CDF micro-batch: the change core's rows of the transport's commits
    * handed to the stream execution as a streaming-flagged RDD (every
    * getBatch result must satisfy the engine's isStreaming assertion).
    */
  private def cdfBatch(fromV: Long, toV: Long): DataFrame = {
    val rows =
      if (fromV > toV) spark.sparkContext.emptyRDD[InternalRow]
      else ChangeCore.rows(spark, layout, changeCommits(fromV, toV).toVector, // bounded by the batch
        changeStateBefore(fromV)).queryExecution.toRdd
    GraftSqlBridge.streamingDataFrameFromRdd(spark, rows, schema)
  }

  /** Spark committed everything up to `end`. Once the committed offset
    * leaves the starting snapshot, the walk can never re-enter it: drop the
    * snapshot list (reference pops consumed files the same way,
    * `DeltaSharingSource.popSortedFetchedFiles:353-369`). Versions below
    * `end.tableVersion - 1` can never be read again either, so a stream
    * tailing a table for weeks holds O(recent) state, not O(history).
    */
  override def commit(end: Offset): Unit = {
    val o = GraftSourceOffset(end)
    if (!o.isStartingVersion) snapshotCache.clear()
    releaseBelow(o.tableVersion - 1)
  }

  /** Test hook: number of snapshot file lists currently pinned. */
  private[graft] def pinnedSnapshotLists: Int = snapshotCache.size

  override def stop(): Unit = ()

  override def toString: String = s"${getClass.getSimpleName}[$tableName]"
}

/** Byte-cap ReadLimit — Spark ships no built-in one; the reference defines
  * its own `ReadMaxBytes` the same way (DeltaSharingSource.scala:1209-1213).
  */
case class GraftReadMaxBytes(bytes: Long) extends ReadLimit
