package graft.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.model.{Action, AddFile, DomainMetadata, Metadata}

/** Row tracking (delta PROTOCOL "Row Tracking"): every row of a tracked
  * table has a durable integer id and a commit version.
  *
  *  - FRESH values are metadata-derived: a row's id is
  *    `add.baseRowId + <row position in file>` and its commit version is
  *    `add.defaultRowCommitVersion`. Writers allocate `baseRowId` ranges
  *    above a table-wide high watermark stored in the
  *    `delta.rowTracking` metadata domain
  *    (`{"rowIdHighWaterMark": N}`).
  *  - STABLE values survive layout-only rewrites (OPTIMIZE / ZORDER,
  *    `dataChange = false`): the rewriter MATERIALIZES each moved row's
  *    old id/commit-version into hidden physical columns (names in the
  *    `delta.rowTracking.materialized*ColumnName` table properties), and
  *    readers prefer the materialized value over the fresh one.
  *    Data-changing rewrites (UPDATE / MERGE) assign fresh ids — the
  *    tracked id identifies a surviving physical row, not a logical key.
  *
  * Scale shape: allocation is O(new files) driver metadata; the read
  * side derives ids scan-side from one BROADCAST file-info join
  * (O(files) build, no shuffle of data rows — the DV-bitmap shape).
  */
object RowTracking {

  val DOMAIN = "delta.rowTracking"
  val ENABLED_KEY = "delta.enableRowTracking"
  val MAT_ROW_ID_KEY = "delta.rowTracking.materializedRowIdColumnName"
  val MAT_RCV_KEY = "delta.rowTracking.materializedRowCommitVersionColumnName"

  def enabled(meta: Metadata): Boolean =
    meta.configuration.get(ENABLED_KEY).contains("true")

  /** Highest allocated row id, -1 before any allocation. */
  def highWaterMark(domains: Map[String, String]): Long =
    domains.get(DOMAIN).flatMap { cfg =>
      try Option(graft.model.JsonUtils.mapper.readTree(cfg)
        .get("rowIdHighWaterMark")).filter(!_.isNull).map(_.asLong())
      catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(-1L)

  /** Table properties a row-tracked table needs beyond the enable flag:
    * deterministic names for the materialized columns (delta generates
    * UUID-suffixed names for the same reason — they must never collide
    * with user schema).
    */
  def tableProperties(tablePath: String): Map[String, String] = {
    val uuid = java.util.UUID.nameUUIDFromBytes(
      s"rowTracking:$tablePath".getBytes("UTF-8")).toString
    Map(ENABLED_KEY -> "true",
      MAT_ROW_ID_KEY -> s"_row-id-col-$uuid",
      MAT_RCV_KEY -> s"_row-commit-version-col-$uuid")
  }

  /** Assign contiguous fresh-row-id ranges (file order) above the
    * current high watermark and emit the domain update carrying the new
    * watermark. Identity when the table does not track rows.
    */
  def stamp(meta: Metadata, domains: Map[String, String], version: Long,
      adds: Seq[AddFile]): (Seq[AddFile], Seq[Action]) = {
    if (!enabled(meta) || adds.isEmpty) return (adds, Nil)
    var next = highWaterMark(domains) + 1
    val stamped = adds.map { a =>
      val n = a.stats.map(_.numRecords).getOrElse(throw new IllegalStateException(
        s"row tracking needs numRecords stats for ${a.path}"))
      val s = a.copy(baseRowId = Some(next), defaultRowCommitVersion = Some(version))
      next += n
      s
    }
    (stamped, Seq(DomainMetadata(DOMAIN,
      s"""{"rowIdHighWaterMark":${next - 1}}""", version = version)))
  }

  /** Per-file info frame (`__fp`, `__base`, `__rcv`) for the broadcast
    * join — one row per path SPELLING so `_metadata.file_path` always
    * matches (see [[graft.sources.ScanCore.bySpelling]]).
    */
  private def fileInfo(
      spark: SparkSession, tablePath: String, files: Seq[AddFile]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tablePath).getFileSystem(conf)
    val rows = graft.sources.ScanCore.bySpelling(files.map(f =>
      fs.makeQualified(new Path(tablePath, f.path)) -> (
        f.baseRowId.map(java.lang.Long.valueOf).orNull,
        f.defaultRowCommitVersion.map(java.lang.Long.valueOf)
          .getOrElse(java.lang.Long.valueOf(f.version)))))
      .toSeq.map { case (sp, (base, rcv)) => (sp, base, rcv) }
    import spark.implicits._
    rows.toDF("__fp", "__base", "__rcv")
  }

  /** Attach `__fp` / `__ri` metadata columns plus the file's allocation
    * info to a raw parquet scan. Callers derive ids and drop the helpers.
    */
  private def withAllocation(
      spark: SparkSession, tablePath: String, files: Seq[AddFile],
      scan: DataFrame): DataFrame =
    scan
      .withColumn("__fp", col("_metadata.file_path"))
      .withColumn("__ri", col("_metadata.row_index"))
      .join(broadcast(fileInfo(spark, tablePath, files)), Seq("__fp"), "left")

  /** Fresh-or-materialized row id / commit version columns. `matId` /
    * `matRcv` name the materialized physical columns IF the scan schema
    * includes them. A file with neither materialized values nor a
    * `baseRowId` fails loudly — serving NULL ids would silently break
    * downstream identity joins.
    */
  private def rowIdCol(matId: Option[String]): Column = {
    val fresh = col("__base") + col("__ri")
    val c = matId.map(m => coalesce(col(m), fresh)).getOrElse(fresh)
    when(c.isNull, raise_error(concat(
      lit("row tracking: file without baseRowId: "), col("__fp")))).otherwise(c)
  }
  private def rcvCol(matRcv: Option[String]): Column =
    matRcv.map(m => coalesce(col(m), col("__rcv"))).getOrElse(col("__rcv"))

  /** Snapshot scan extended with `_row_id` and `_row_commit_version`.
    * Honors deletion vectors, column mapping, hive partitions, and
    * materialized (stable) values from layout rewrites.
    */
  def withRowIds(spark: SparkSession, tablePath: String,
      version: Option[Long] = None): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val snap = new GraftLog(tablePath, conf).snapshot(version)
    require(enabled(snap.metadata),
      s"table $tablePath does not have row tracking enabled " +
        s"(set $ENABLED_KEY=true at create time)")
    val scan = new graft.sources.SnapshotListing(spark, tablePath, snap)
    val layout = scan.layout
    layout.prepare(spark)
    val physSchema = layout.physical
    val config = snap.metadata.configuration
    val matId = config.get(MAT_ROW_ID_KEY)
    val matRcv = config.get(MAT_RCV_KEY)
    val extra = (matId.toSeq ++ matRcv.toSeq)
      .filterNot(physSchema.fieldNames.contains)
      .map(StructField(_, LongType, nullable = true))
    val readSchema = StructType(physSchema.fields ++ extra)

    def abs(rel: String): String = new Path(tablePath, rel).toString

    if (snap.files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(snap.schema.fields :+
          StructField("_row_id", LongType) :+ StructField("_row_commit_version", LongType)))

    // basePath keeps hive partition columns resolvable from an explicit
    // active-file list (removed-but-on-disk files must not be scanned)
    val raw = spark.read.option("basePath", tablePath).schema(readSchema)
      .parquet(snap.files.map(f => abs(f.path)): _*)
    val live = graft.sources.ScanCore.filterDeleted(
      withAllocation(spark, tablePath, snap.files, raw), scan.dvBitmaps)
    layout.toLogical(live,
      rowIdCol(matId).as("_row_id"), rcvCol(matRcv).as("_row_commit_version"))
  }

  /** For a layout-only rewrite (compact/zorder): extend the bin's scan
    * with the MATERIALIZED old id/commit-version columns so stable values
    * survive the move. Input `scan` must be a raw parquet read of
    * `files` (metadata columns still available); output carries exactly
    * the input data columns plus the two materialized columns.
    */
  def materializeForRewrite(
      spark: SparkSession, tablePath: String, meta: Metadata,
      files: Seq[AddFile], scan: DataFrame): DataFrame = {
    val matId = meta.configuration.get(MAT_ROW_ID_KEY)
    val matRcv = meta.configuration.get(MAT_RCV_KEY)
    require(matId.isDefined && matRcv.isDefined,
      s"row-tracked table $tablePath lacks materialized column names")
    val dataCols = scan.columns.filterNot(c =>
      c == matId.get || c == matRcv.get).toIndexedSeq
    withAllocation(spark, tablePath, files, scan)
      .select(dataCols.map(col) :+
        rowIdCol(matId).as(matId.get) :+ rcvCol(matRcv).as(matRcv.get): _*)
  }

  /** The read schema a rewrite should use for row-tracked sources: the
    * physical data schema plus the materialized columns (absent in files
    * written before any rewrite — they read as NULL and fall back to
    * fresh values).
    */
  def rewriteReadSchema(meta: Metadata, dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++
      (meta.configuration.get(MAT_ROW_ID_KEY).toSeq ++
        meta.configuration.get(MAT_RCV_KEY).toSeq)
        .filterNot(dataSchema.fieldNames.contains)
        .map(StructField(_, LongType, nullable = true)))
}
