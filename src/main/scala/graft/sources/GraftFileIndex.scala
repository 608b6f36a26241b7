package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, BindReferences, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.log.Snapshot

/** The one FileIndex over a shared table — the point where Catalyst hands
  * over partition filters + data filters and gets a pruned file list back
  * (the reference's `RemoteDeltaSnapshotFileIndex.listFiles`,
  * `RemoteDeltaFileIndex.scala:209-236`). The files come from a
  * [[Listing]]: a local snapshot, a remote `/query` or a fixed list.
  *
  * Prunings compose, all best-effort supersets (Spark re-applies every
  * filter on rows, so over-listing is only a perf cost — `PROTOCOL.md:
  * 2128-2158`):
  *   1. the listing's own (stats skipping locally, jsonPredicateHints
  *      remotely);
  *   2. partition pruning: an interpreted Catalyst predicate over each
  *      file's typed partition values;
  *   3. limit hint ([[GraftLimitPushDown]]): with no filter, the listing
  *      returns only the files covering the limit's live rows (reference
  *      `DeltaSharedTableKernel.scala:293-297,445-449`).
  *
  * Scale: O(files) driver-side metadata work, the shape of Delta's own
  * log-replay listing; no data is touched until Spark schedules the scan.
  */
class GraftFileIndex private[graft] (
    spark: SparkSession,
    private[graft] val listing: Listing,
    val limitHint: Option[Long] = None)
    extends FileIndex {

  def this(spark: SparkSession, tablePath: String, snapshot: Snapshot) =
    this(spark, new SnapshotListing(spark, tablePath, snapshot))

  override val partitionSchema: StructType = listing.layout.partitionSchema

  /** Schema of the data stored inside the parquet files. */
  val dataSchema: StructType = listing.layout.dataSchema

  def withLimit(n: Long): GraftFileIndex =
    new GraftFileIndex(spark, listing, Some(limitHint.fold(n)(math.min(_, n))))

  /** A parquet relation over this index. */
  def relation: HadoopFsRelation = HadoopFsRelation(
    location = this,
    partitionSchema = partitionSchema,
    dataSchema = dataSchema,
    bucketSpec = None,
    fileFormat = new ParquetFileFormat,
    options = Map.empty)(spark)

  override def rootPaths: Seq[Path] = listing.rootPaths

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // a limit covers rows only when nothing filters them
    val limit = limitHint.filter(_ => partitionFilters.isEmpty && dataFilters.isEmpty)
    directories(prunePartitions(partitionFilters,
      listing.list(partitionFilters, dataFilters, limit)))
  }

  private def prunePartitions(
      filters: Seq[Expression], files: Seq[ListedFile]): Seq[ListedFile] = {
    if (filters.isEmpty || partitionSchema.isEmpty) return files
    val attrs: Seq[Attribute] =
      partitionSchema.map(f => AttributeReference(f.name, f.dataType, nullable = true)())
    val resolved = filters.filter(_.references.forall(r => attrs.exists(_.name == r.name)))
    if (resolved.isEmpty) return files
    val bound = BindReferences.bindReference(resolved.map(_.transform {
      case a: Attribute => attrs.find(_.name == a.name).getOrElse(a)
    }).reduce(And), attrs)
    val predicate = Predicate.create(bound)
    predicate.initialize(0)
    files.filter(f => predicate.eval(partitionRow(f.partitionValues)))
  }

  /** Typed partition values row ("" ⇒ null, string cast to the column type
    * — reference `RemoteDeltaFileIndex.scala:96-98`).
    */
  private def partitionRow(values: Map[String, String]): InternalRow =
    InternalRow.fromSeq(partitionSchema.map { field =>
      val v = values.getOrElse(field.name, "")
      if (v == null || v.isEmpty) null
      else Cast(Literal(UTF8String.fromString(v), StringType), field.dataType,
        Some(spark.sessionState.conf.sessionLocalTimeZone)).eval()
    })

  /** Group files by partition values (reference `RemoteDeltaFileIndex.scala:88-122`). */
  private def directories(files: Seq[ListedFile]): Seq[PartitionDirectory] = {
    def status(f: ListedFile): FileStatus =
      new FileStatus(f.size, false, 1, GraftFileSystem.BLOCK_SIZE, f.modificationTime, f.path)
    if (partitionSchema.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, files.map(status).toArray))
    else files.groupBy(_.partitionValues).toSeq.map { case (values, group) =>
      PartitionDirectory(partitionRow(values), group.map(status).toArray)
    }
  }

  private lazy val allFiles = listing.list(Nil, Nil, limitHint)

  override def inputFiles: Array[String] = allFiles.map(_.path.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = allFiles.map(_.size).sum
}
