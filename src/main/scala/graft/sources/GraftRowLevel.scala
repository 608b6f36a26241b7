package graft.sources

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.log.{GraftLog, Snapshot, TableBuilder}
import graft.model.RemoveFile

/** Group-based (copy-on-write) DSv2 row-level operations: SQL `UPDATE`,
  * `MERGE INTO`, and complex `DELETE` on graft/Delta-format tables.
  *
  * Spark's rewrite rules (`RewriteUpdateTable` and friends) drive the
  * whole plan; the connector contributes exactly two things:
  *
  *  1. a SCAN whose pushed filters prune GROUPS (files) — never rows:
  *     the command's condition reaches [[GraftRowLevelScanBuilder]], the
  *     shared stats-skipping [[GraftFileIndex]] picks the candidate
  *     files, and the scan then reads EVERY row of those files with no
  *     parquet row-group predicate (dropping a row here would silently
  *     delete it, since the write replaces whole groups);
  *  2. a WRITE that atomically replaces exactly those candidate files
  *     with the rewritten rows Spark computes (`RemoveFile` for each
  *     candidate + `AddFile` per written file, one commit).
  *
  * Scale: candidate selection is O(files) metadata on stats; IO is
  * proportional to the stats-overlapping fraction of the table — an
  * `UPDATE … WHERE k = 5` on a k-clustered 100 TB table rewrites a
  * handful of files. The write is a plain distributed parquet write
  * (one file per task, Spark's own `ParquetFileFormat` writer), and the
  * commit is O(new files) driver metadata.
  */
class GraftRowLevelOperation(
    tablePath: String,
    snapshot: Snapshot,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  require(snapshot.metadata.partitionColumns.isEmpty,
    s"row-level ${cmd} supports non-partitioned tables")
  // DV-ENABLED (config) is fine as long as no file actually carries a DV
  // yet — the group rewrite reads raw parquet, which is exact then; a
  // file WITH a DV would resurrect its deleted rows, so that refuses
  graft.model.ColumnMapping.assertNoAdvancedFeatures(
    snapshot.metadata, s"row-level $cmd on $tablePath", allowDv = true)
  require(snapshot.files.forall(_.deletionVector.isEmpty),
    s"row-level $cmd on $tablePath: table has deletion vectors; the " +
      "group rewrite would resurrect deleted rows")
  // the group rewrite sees only replacement rows — it cannot attribute
  // them to insert/update/delete, so it cannot emit cdc rows. On a
  // CDF-enabled table a silent gap in the change feed corrupts every
  // downstream incremental consumer: refuse loudly and point at the
  // CDF-capturing writers.
  require(!graft.log.GraftCDF.isEnabled(snapshot.metadata),
    s"row-level $cmd on $tablePath: the table has change data feed " +
      "enabled, and the SQL group rewrite does not capture cdc rows — " +
      "use TableBuilder.deleteWhere/updateWhere or Merge.merge (full CDF " +
      "capture), or disable the feed")

  /** Files the scan chose (and the write must replace). Defaults to the
    * full snapshot: a scan without pushed filters reads everything, so
    * the write must replace everything.
    */
  @volatile private[sources] var candidates: Seq[graft.model.AddFile] = snapshot.files

  override def command(): RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftRowLevelScanBuilder(this, tablePath, snapshot)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(GraftRowLevelOperation.this,
          tablePath, snapshot, info.schema())
    }

  override def description(): String = s"graft-row-level-$cmd:`$tablePath`"
}

/** Pushed filters prune candidate FILES via stats; the scan itself reads
  * all rows of the kept files (pushed = empty at read time — see class
  * doc above for why row dropping would corrupt the rewrite).
  */
class GraftRowLevelScanBuilder(
    op: GraftRowLevelOperation,
    tablePath: String,
    snapshot: Snapshot)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private val spark = SparkSession.active
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = snapshot.schema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // group filters are best-effort; Spark keeps row semantics
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // same three-way pruning as every other scan, through the shared
    // FileIndex — then REMEMBER the survivors: they are the groups the
    // write replaces
    val exprs = pushed.flatMap(KernelFilters.toCatalyst(_, snapshot.schema))
    val index = new GraftFileIndex(spark, tablePath, snapshot)
    val kept = index.listFiles(Nil, exprs.toSeq)
      .flatMap(_.files).map(_.getPath.toUri.getPath).toSet
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val candidates = snapshot.files.filter(f =>
      kept.contains(fs.makeQualified(new Path(root, f.path)).toUri.getPath))
    op.candidates = candidates
    new GraftRowLevelScan(spark, op, tablePath, snapshot, required)
  }
}

/** The row-level scan: a kernel scan over the current candidate set that
  * also accepts RUNTIME group filters (`SupportsRuntimeV2Filtering`) —
  * Spark's `RowLevelOperationRuntimeGroupFiltering` computes the rows a
  * MERGE/UPDATE actually matches (join/condition at runtime), projects
  * the declared filter attributes, and hands back IN-list predicates;
  * stats skipping then shrinks the candidate files to those that can
  * hold a matched key. This is what keeps `MERGE INTO` from rewriting
  * the whole table: a join condition is invisible to static pushdown,
  * so without the runtime pass every file is a candidate.
  *
  * Over-limit IN lists collapse to a `[min, max]` range inside the
  * predicate converter — sound superset pruning at any list size.
  */
class GraftRowLevelScan(
    spark: SparkSession,
    op: GraftRowLevelOperation,
    tablePath: String,
    snapshot: Snapshot,
    required: StructType)
    extends GraftKernelScan(spark, s"graft-row-level:`$tablePath`",
      snapshot.schema, Set.empty,
      new GraftFileIndex(spark, tablePath, snapshot.copy(files = op.candidates)),
      required, Array.empty, None)
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  // re-plan over whatever the candidate set has been narrowed to by the
  // time Spark plans partitions (static build-time pruning + runtime
  // group filters both land in op.candidates)
  override protected def currentIndex: GraftFileIndex =
    new GraftFileIndex(spark, tablePath, snapshot.copy(files = op.candidates))

  /** EXACTLY ONE stats-eligible column — the leading one (merge keys
    * conventionally lead the schema). Declaring several makes Spark
    * bundle them into a struct-IN runtime predicate that no V1 filter
    * can express (so nothing would prune); a single attribute arrives
    * as a plain IN list the stats gate understands.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    snapshot.schema.fields.iterator
      .filter(f => graft.model.StatsCodec.typeName(f.dataType).isDefined)
      .take(1)
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val exprs = predicates.toSeq
      .flatMap(p => org.apache.spark.sql.GraftBatchDf.predicateToV1(p))
      .flatMap(f => KernelFilters.toCatalyst(f, snapshot.schema))
    if (exprs.isEmpty) return // untranslatable runtime filter: keep all
    val index = new GraftFileIndex(spark, tablePath,
      snapshot.copy(files = op.candidates))
    val kept = index.listFiles(Nil, exprs)
      .flatMap(_.files).map(_.getPath.toUri.getPath).toSet
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    op.candidates = op.candidates.filter(f =>
      kept.contains(fs.makeQualified(new org.apache.hadoop.fs.Path(root, f.path))
        .toUri.getPath))
  }
}

/** Replaces the operation's candidate files with the rewritten rows in
  * one atomic commit (remove candidates + add new files).
  */
class GraftReplaceDataWrite(
    op: GraftRowLevelOperation,
    tablePath: String,
    snapshot: Snapshot,
    writeSchema: StructType) extends Write with BatchWrite {

  /** delta history spelling of the SQL command driving this rewrite. */
  private def operationName: String = op.command() match {
    case RowLevelOperation.Command.DELETE => "DELETE"
    case RowLevelOperation.Command.UPDATE => "UPDATE"
    case RowLevelOperation.Command.MERGE  => "MERGE"
    case other                            => other.toString
  }

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // ParquetFileFormat.prepareWrite configures the job conf (write
    // support class, schema, codec, rebase mode) and returns the factory
    // FileFormatWriter itself would use — the rewrite emits files
    // byte-compatible with every other writer in the engine
    val factory = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, writeSchema)
    new GraftRowLevelWriterFactory(
      factory, tablePath, writeSchema.json, new KernelConf(job.getConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val written = messages.collect {
      case GraftWrittenFile(rel) if rel != null => rel
    }.toSet
    val logR = new GraftLog(tablePath, conf)
    val version = logR.latestVersion() + 1
    val prev = logR.snapshot(None)
    TableBuilder.assertNotAppendOnly(prev.metadata, s"row-level SQL write on $tablePath")
    val adds = TableBuilder.scanDataFiles(
      spark, tablePath, writeSchema, Nil, version, onlyRelPaths = Some(written))
    val removes = op.candidates.map(f =>
      RemoveFile(f.path, f.partitionValues, f.size, dataChange = true, version))
    // SQL row-level rewrites are data-changing: fresh row ids
    val (stamped, domActs) = graft.log.RowTracking.stamp(
      prev.metadata, prev.domains, version, adds)
    GraftLog.commit(tablePath, version, removes ++ stamped ++ domActs, conf,
      operation = operationName)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    messages.collect { case GraftWrittenFile(rel) if rel != null => rel }
      .foreach(rel => fs.delete(new Path(root, rel), false))
  }

  override def description(): String = s"graft-replace-data:`$tablePath`"
}

case class GraftWrittenFile(relPath: String) extends WriterCommitMessage

/** One parquet file per non-empty task, written straight into the table
  * root (invisible to readers until the commit references it — the log
  * is the source of truth, same as every other writer here).
  */
class GraftRowLevelWriterFactory(
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    tablePath: String,
    schemaJson: String,
    conf: KernelConf) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var rel: String = _

      private def ensureOpen(): Unit = if (writer == null) {
        val ctx = new TaskAttemptContextImpl(new org.apache.hadoop.conf.Configuration(conf.value),
          new TaskAttemptID(new TaskID(new JobID("graft-rowlevel", 0),
            TaskType.MAP, partitionId), taskId.toInt))
        rel = f"part-$partitionId%05d-${UUID.randomUUID()}${factory.getFileExtension(ctx)}"
        writer = factory.newInstance(s"$tablePath/$rel", schema, ctx)
      }

      /** Spark's group-based rewrite plans prepend `__row_operation`
        * (`RowDeltaUtils.OPERATION_COLUMN`) to the replacement rows, and
        * `ReplaceDataExec` only strips it via its row projection when the
        * operation requested metadata attributes — a connector with no
        * metadata columns receives the raw row. Project the data columns
        * out with Spark's own `ProjectingInternalRow` (extra leading
        * columns, if any, are exactly the non-data prefix: the write
        * schema is the trailing `schema.length` fields).
        */
      private var proj: org.apache.spark.sql.catalyst.ProjectingInternalRow = _
      private var checked = false

      override def write(row: InternalRow): Unit = {
        if (!checked) {
          checked = true
          val shift = row.numFields - schema.length
          require(shift >= 0,
            s"row has ${row.numFields} fields but write schema has ${schema.length}")
          if (shift > 0) proj = org.apache.spark.sql.catalyst.ProjectingInternalRow(
            schema, shift until row.numFields)
        }
        ensureOpen()
        if (proj == null) writer.write(row)
        else { proj.project(row); writer.write(proj) }
      }

      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        GraftWrittenFile(rel) // null rel = empty task, filtered by commit
      }

      override def abort(): Unit = {
        if (writer != null) {
          writer.close()
          val p = new Path(s"$tablePath/$rel")
          p.getFileSystem(conf.value).delete(p, false)
        }
      }

      override def close(): Unit = ()
    }
}
