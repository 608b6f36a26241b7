package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.log.{GraftLog, Snapshot}
import graft.model.{AddFile, ColumnMapping, RemoveFile}
import graft.sources.{ChangeCommit, ChangeState, Layout, LocalChanges, ScanCore, SnapshotListing}

/** Micro-batch streaming source over a LOCAL graft table: the
  * [[SharedTableSource]] contract read straight from the table's log.
  *
  * The transport: files are ordered by path within a version; commits are
  * read through one [[GraftLog]] whose commit memo is released as Spark
  * commits offsets; every metadata commit tailed mid-stream must stay
  * read-compatible with the start schema and keep the column-mapping mode;
  * files carrying deletion vectors cannot be tailed. Column-mapped tables
  * stream: batches are the scan core's live rows of the admitted files.
  * CDF batches are the change core's rows of the commits admission read,
  * over the start layout; tables with deletion vectors stream their
  * changes, and the change state is carried from one batch to the next.
  */
class GraftSource(
    spark: SparkSession,
    tablePath: String,
    options: Map[String, String])
    extends SharedTableSource[AddFile](spark, options) {

  // One log instance for the life of the source: its commit memo serves
  // `latestOffset` and `getBatch` of one micro-batch from one read.
  private val tableLog = new GraftLog(tablePath, spark.sessionState.newHadoopConf())

  private val initialSnapshot: Snapshot = tableLog.snapshot(None)
  // tailing adds of a DV table would emit deleted rows; the change core
  // classifies DV commits
  ColumnMapping.assertNoAdvancedFeatures(
    initialSnapshot.metadata, s"streaming from $tablePath", allowCm = true, allowDv = cdfMode)
  private val cmMode = ColumnMapping.mode(initialSnapshot.metadata)
  // batches read the start snapshot's physical layout
  private val listing = new SnapshotListing(spark, tablePath, initialSnapshot)
  private val changes = new LocalChanges(spark, tableLog)

  override protected def tableName: String = tablePath
  override protected val tableId: String = initialSnapshot.metadata.id
  override protected def layout: Layout = listing.layout
  override protected def versionAtStart: Long = initialSnapshot.version
  override protected def latestVersion(): Long = tableLog.latestVersion()

  /** ISO-8601 or epoch millis; a timestamp past the last commit is an error. */
  override protected def versionAtOrAfter(timestamp: String): Long =
    tableLog.versionAtOrAfter(graft.server.GraftServer.parseWireTimestamp(timestamp))

  override protected def snapshotFiles(version: Long): Seq[AddFile] = {
    val index = tableLog.snapshot(Some(version)).index
    index.pathOrder.toIndexedSeq.map(index)
  }

  override protected def commits(
      start: Long, end: Long): Iterator[(Long, Seq[AddFile], Boolean)] =
    changes.versions(start, end).map { case (v, actions) =>
      // T7 schema-drift guard: every metadata commit consumed mid-stream
      // must stay read-compatible with the analysis-time schema, else
      // rows would silently decode wrong (reference checks each fetched
      // Metadata the same way, `DeltaSharingSource.scala:639-644`)
      actions.collect { case m: graft.model.Metadata => m }.foreach { m =>
        graft.model.SchemaCompat.assertReadCompatible(tableSchema,
          DataType.fromJson(m.schemaString).asInstanceOf[StructType],
          s"$tablePath (version $v)")
        // features enabled mid-stream are as unreadable as at start; a
        // column-mapping mode flip would change how later files spell
        // their columns
        ColumnMapping.assertNoAdvancedFeatures(
          m, s"streaming from $tablePath (version $v)", allowCm = true)
        require(ColumnMapping.mode(m) == cmMode,
          s"streaming from $tablePath: column-mapping mode changed at " +
            s"version $v ($cmMode -> ${ColumnMapping.mode(m)})")
      }
      if (actions.exists { case a: AddFile => a.deletionVector.isDefined; case _ => false })
        throw new UnsupportedOperationException(
          s"streaming from $tablePath (version $v) does not support files with deletion vectors")
      val adds = actions.collect { case a: AddFile if a.dataChange => a }.sortBy(_.path)
      (v, adds, actions.exists { case r: RemoveFile => r.dataChange; case _ => false })
    }

  override protected def changeCommits(start: Long, end: Long): Iterator[ChangeCommit] =
    changes.commits(start, end, cmMode)

  /** The state the last batch left, when this batch follows it. */
  @volatile private var heldState: Option[ChangeState] = None

  override protected def changeStateBefore(version: Long): ChangeState =
    heldState.filter(_.next == version).getOrElse {
      val state = changes.stateBefore(version)
      heldState = Some(state)
      state
    }

  override protected def sizeOf(file: AddFile): Long = file.size

  override protected def batchDF(files: Seq[AddFile]): DataFrame =
    ScanCore.liveRows(spark, listing.fixed(files), streaming = true)

  override protected def releaseBelow(version: Long): Unit =
    tableLog.forgetCommitsBelow(version)

  override private[graft] def heldCommitVersions: Iterable[Long] = tableLog.memoizedVersions
}

object GraftSource {
  /** Reference default `maxFilesPerTrigger` (DeltaSharingOptions.scala:194). */
  val DEFAULT_MAX_FILES = 1000
}
