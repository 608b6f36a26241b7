package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

import graft.client.{GraftRestClient, GraftUrlCache}
import graft.log.{DeletionVectors, Snapshot}
import graft.model.{AddFile, ColumnMapping, Z85}
import graft.predicates.{JsonPredicates, OpConverter}
import graft.server.wire

/** The scan core: how a list of a shared table's files becomes live
  * logical rows. Every reader of table files goes through it — the batch
  * relations, both streaming sources, CDF and the log layer's rewrites:
  *
  *  - [[Layout]]: the physical schema the files use, the id-mode read flag,
  *    the physical→logical rename and its inverse;
  *  - [[Listing]]: the files of one pinned table version for a filter and
  *    limit hint, over three transports (a local snapshot, a remote
  *    `/query`, a fixed list), each listed file carrying its deletion
  *    vector;
  *  - [[ScanCore]]: DV bitmaps keyed by every path spelling, the scan-side
  *    DV row filter, and the one assembly of both over a [[GraftFileIndex]].
  *
  * Deletion vectors and column mapping are reader features over Delta's
  * per-file log; as in Delta, they are applied in one scan.
  */
private[graft] final case class Layout(
    logical: StructType, partitionColumns: Seq[String], idMode: Boolean) {

  /** logical top-level name → physical name (identity without mapping). */
  val names: Map[String, String] = ColumnMapping.nameMap(logical)

  /** The schema as the parquet files spell it. */
  val physical: StructType = ColumnMapping.physicalSchema(logical, idMode)

  def physicalName(c: String): String = names.getOrElse(c, c)

  val physicalPartitionColumns: Seq[String] = partitionColumns.map(physicalName)

  def partitionSchema: StructType = StructType(physicalPartitionColumns.map(physical(_)))

  /** Columns stored inside the files (partition columns live in paths). */
  def dataSchema: StructType =
    StructType(physical.filterNot(f => physicalPartitionColumns.contains(f.name)))

  def isMapped: Boolean = names.exists { case (l, p) => l != p }

  /** Make `spark` able to read these files. ID mode matches file columns
    * by parquet field id (the physical schema carries `parquet.field.id`);
    * Spark's reader honors those ids only when the session flag is on.
    * Setting it is safe for other reads: the flag only changes behavior
    * for requested schemas carrying field-id metadata.
    */
  def prepare(spark: SparkSession): Unit =
    if (idMode) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")

  /** Physical columns renamed to logical, in logical column order, then `extra`. */
  def toLogical(df: DataFrame, extra: Column*): DataFrame =
    df.select(logical.fields.toIndexedSeq.map(f =>
      col(physicalName(f.name)).as(f.name)) ++ extra: _*)

  /** The inverse of [[toLogical]]: logical columns renamed to physical,
    * carrying the physical field metadata (parquet field ids in id mode,
    * so written files stay id-addressable); other columns pass through.
    */
  def toPhysical(df: DataFrame): DataFrame = {
    val extras = df.columns.filterNot(names.contains).toIndexedSeq
    df.select(logical.fields.toIndexedSeq.map { f =>
      val p = physicalName(f.name)
      col(f.name).as(p, physical(p).metadata)
    } ++ extras.map(col): _*)
  }

  /** A filter over logical names, respelled over the physical names the
    * files' stats and partition values use.
    */
  def physicalFilter(e: Expression): Expression =
    if (!isMapped) e
    else e.transform { case a: AttributeReference => a.withName(physicalName(a.name)) }
}

private[graft] object Layout {
  def of(meta: graft.model.Metadata): Layout =
    Layout(DataType.fromJson(meta.schemaString).asInstanceOf[StructType], meta.partitionColumns,
      ColumnMapping.isIdMode(meta))

  /** From served metadata (`configuration` may be null on the wire). */
  def ofWire(
      schemaString: String, partitionColumns: Seq[String],
      configuration: Map[String, String]): Layout =
    Layout(DataType.fromJson(schemaString).asInstanceOf[StructType], partitionColumns,
      Option(configuration).flatMap(_.get(ColumnMapping.MODE_KEY))
        .exists(_.equalsIgnoreCase("id")))
}

/** A file's deletion vector: `key` is the path its rows report as
  * `_metadata.file_path` (in any spelling); the bitmap bytes are resolved
  * once, on first use — DVs are metadata-sized and read on the driver.
  */
private[graft] final class Dv(val key: Path, load: () => Array[Byte]) {
  lazy val bytes: Array[Byte] = load()
}

/** One file a listing chose: the path the scan opens, its partition
  * values (keyed by physical name) and its deletion vector, if any.
  */
private[graft] final case class ListedFile(
    path: Path,
    size: Long,
    partitionValues: Map[String, String],
    modificationTime: Long = 0L,
    dv: Option[Dv] = None)

/** The files of ONE pinned table version. `list` answers a filter (over
  * logical names; best-effort, Spark re-applies every filter on rows) and,
  * when no filter is given, a limit hint: the files that cover `limit`
  * live rows.
  */
private[graft] trait Listing {
  def layout: Layout
  def rootPaths: Seq[Path]
  def list(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      limit: Option[Long]): Seq[ListedFile]
}

/** Transport 1: a local snapshot. Stats skipping runs over the snapshot's
  * file index (physical names); the limit cut counts live rows.
  */
private[graft] final class SnapshotListing(
    spark: SparkSession, tablePath: String, val snapshot: Snapshot) extends Listing {

  val layout: Layout = Layout.of(snapshot.metadata)
  private val root = new Path(tablePath)
  private lazy val conf = spark.sessionState.newHadoopConf()
  private lazy val qualifiedRoot = root.getFileSystem(conf).makeQualified(root)

  override def rootPaths: Seq[Path] = Seq(root)

  override def list(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      limit: Option[Long]): Seq[ListedFile] = {
    // the snapshot's index, walked in replay order (a limit keeps the
    // first files the log lists)
    val kept = OpConverter.convert(dataFilters.map(layout.physicalFilter)) match {
      case None => snapshot.files
      case hint => snapshot.index.filter(hint, layout.physicalPartitionColumns)
    }
    ScanCore.coveringLimit(kept, limit).map(listed)
  }

  private def listed(f: AddFile): ListedFile =
    ListedFile(new Path(root, f.path), f.size, f.partitionValues, f.modificationTime,
      f.deletionVector.map(d => new Dv(qualified(f.path),
        () => DeletionVectors.resolveBytes(tablePath, d, conf))))

  /** A fixed listing of `files` (admitted by a streaming source). */
  def fixed(files: Seq[AddFile]): FixedListing =
    new FixedListing(layout, files.map(listed), rootPaths)

  /** The path a table file's rows report as `_metadata.file_path`. */
  def qualified(relPath: String): Path = new Path(qualifiedRoot, relPath)

  /** DV bitmaps of the snapshot's files, keyed by every path spelling. */
  lazy val dvBitmaps: Map[String, Array[Byte]] =
    ScanCore.bitmaps(snapshot.files.filter(_.deletionVector.isDefined).map(listed))

  /** The live logical rows of the files at `relPaths`, read straight from
    * parquet — the log layer's rewrites, which pick files by row content.
    * `basePath` resolves hive partition columns from directory names.
    */
  def readLive(relPaths: Seq[String], basePath: Boolean = false): DataFrame = {
    layout.prepare(spark)
    val reader = if (basePath) spark.read.option("basePath", tablePath) else spark.read
    layout.toLogical(ScanCore.filterDeleted(
      reader.schema(layout.physical).parquet(relPaths.map(new Path(root, _).toString): _*),
      dvBitmaps))
  }
}

/** Transport 3: a fixed file list — chosen by a streaming source's offset
  * walk or by a delta-dialect `/query`; the index only prunes partitions.
  */
private[graft] final class FixedListing(
    val layout: Layout, files: Seq[ListedFile], val rootPaths: Seq[Path] = Nil)
    extends Listing {
  override def list(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      limit: Option[Long]): Seq[ListedFile] = files
}

/** The REST transports share the per-shape memo and URL registration: the
  * version is pinned at construction, so one `/query` per distinct
  * (hint, limit) shape serves every planning and execution pass, and each
  * shape registers a refresher that re-runs THAT query, so executors
  * always resolve live pre-signed URLs (reference `QueryUtils.scala:30-55`).
  */
private[graft] abstract class RemoteListing extends Listing {
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(Option[String], Option[Long]), Seq[ListedFile]]

  override def list(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression],
      limit: Option[Long]): Seq[ListedFile] = {
    val hint = OpConverter.convert(partitionFilters ++ dataFilters).map(JsonPredicates.toJson)
    memo.getOrElseUpdate((hint, limit), fetch(hint, limit))
  }

  protected def fetch(hint: Option[String], limit: Option[Long]): Seq[ListedFile]
}

/** Transport 2: the remote parquet dialect — `/query` with the filters as
  * jsonPredicateHints (the server cuts a limit on live rows), scan bytes
  * through `graft://` paths the [[GraftFileSystem]] resolves.
  */
private[graft] final class QueryListing(
    client: GraftRestClient,
    share: String,
    schema: String,
    table: String,
    versionAsOf: Option[Long] = None,
    timestampAsOf: Option[String] = None) extends RemoteListing {

  private val (meta, pinnedVersion): (wire.Metadata, Long) =
    client.metadata(share, schema, table, versionAsOf, timestampAsOf)

  // the parquet dialect refuses column-mapped tables: names are logical
  val layout: Layout = Layout(
    DataType.fromJson(meta.schemaString).asInstanceOf[StructType],
    meta.partitionColumns, idMode = false)

  /** Table configuration as served in the wire metadata (feature guards). */
  def configuration: Map[String, String] = meta.configuration

  override def rootPaths: Seq[Path] = Seq(GraftFileSystem.encodePath(meta.id, 0L))

  override protected def fetch(hint: Option[String], limit: Option[Long]): Seq[ListedFile] = {
    val req = wire.QueryRequest(
      jsonPredicateHints = hint.orNull,
      limitHint = limit.map(Long.box).orNull,
      version = pinnedVersion)
    def urls(files: Seq[wire.File]) =
      files.map(f => GraftUrlCache.entry(f.id, f.url, f.expirationTimestamp)).toMap
    val res = client.query(share, schema, table, req)
    GraftUrlCache.register(s"$share.$schema.$table@$pinnedVersion#${(hint, limit).hashCode}",
      urls(res.files), () => urls(client.query(share, schema, table, req).files))
    res.files.map(f =>
      ListedFile(GraftFileSystem.encodePath(f.id, f.size), f.size, f.partitionValues))
  }
}

/** The remote delta dialect, which tables with deletion vectors or column
  * mapping require (`GraftServer.negotiateFormat`): `/query` with
  * `responseformat=delta`; each add carries its DV descriptor (pre-signed
  * "p" URL or inline "i"). Hints speak logical names; the server re-keys
  * column-mapped stats.
  */
private[graft] final class DeltaQueryListing(
    client: GraftRestClient,
    share: String,
    schemaName: String,
    table: String,
    versionAsOf: Option[Long] = None,
    timestampAsOf: Option[String] = None) extends RemoteListing {

  private val (metaLine, metaVersion) = client.deltaMetadata(share, schemaName, table)
  private val meta = metaLine.deltaMetadata
  private val pinnedVersion: Long = versionAsOf
    .orElse(timestampAsOf.map(ts =>
      client.deltaQuery(share, schemaName, table, wire.QueryRequest(timestamp = ts)).version))
    .getOrElse(metaVersion)

  val layout: Layout = Layout.ofWire(meta.schemaString, meta.partitionColumns, meta.configuration)

  override def rootPaths: Seq[Path] = Seq(GraftFileSystem.encodePath(meta.id, 0L))

  override protected def fetch(hint: Option[String], limit: Option[Long]): Seq[ListedFile] = {
    val req = wire.QueryRequest(
      version = Long.box(pinnedVersion),
      jsonPredicateHints = hint.orNull,
      limitHint = limit.map(Long.box).orNull)
    def urls(r: client.DeltaQueryResult) = r.files.map(f => GraftUrlCache.entry(
      f.id, f.deltaSingleAction.add.path, f.expirationTimestamp)).toMap
    val res = client.deltaQuery(share, schemaName, table, req)
    GraftUrlCache.register(s"$share.$schemaName.$table@delta$pinnedVersion#${req.hashCode}",
      urls(res), () => urls(client.deltaQuery(share, schemaName, table, req)))
    res.files.map(f => ScanCore.servedFile(f.id, f.deltaSingleAction.add))
  }
}

private[graft] object ScanCore {

  /** The live logical rows of a listing's files: a parquet scan over a
    * [[GraftFileIndex]] in physical names, then the DV row filter, then the
    * rename to logical names. Catalyst pushes user filters through both
    * (the rename is an alias Project, the DV predicate deterministic), so
    * parquet pushdown and partition pruning still see them. A streaming
    * frame without DVs stays a streaming file relation; with DVs it is
    * assembled as a batch and handed over as rows.
    */
  def liveRows(spark: SparkSession, listing: Listing, streaming: Boolean = false): DataFrame = {
    val layout = listing.layout
    layout.prepare(spark)
    val index = new GraftFileIndex(spark, listing)
    val dvs = bitmaps(listing.list(Nil, Nil, None))
    def logical(df: DataFrame) = if (layout.isMapped) layout.toLogical(df) else df
    if (streaming && dvs.isEmpty)
      logical(GraftSqlBridge.ofRowsStreaming(spark,
        LogicalRelation(index.relation, isStreaming = true)))
    else {
      val live = logical(filterDeleted(spark.baseRelationToDataFrame(index.relation), dvs))
      if (!streaming) live
      else GraftSqlBridge.streamingDataFrameFromRdd(spark, live.queryExecution.toRdd, live.schema)
    }
  }

  /** The listed file for one served delta-dialect add. */
  private[graft] def servedFile(id: String, add: wire.DeltaAddW): ListedFile = {
    val path = GraftFileSystem.encodePath(id, add.size)
    ListedFile(path, add.size, add.partitionValues,
      dv = Option(add.deletionVector).map(d => new Dv(path, () => fetchDvBytes(d))))
  }

  /** The first files, in listing order, that cover `limit` live rows. */
  def coveringLimit(files: Seq[AddFile], limit: Option[Long]): Seq[AddFile] = limit match {
    case None => files
    case Some(n) =>
      var cum = 0L
      files.takeWhile { f =>
        val take = cum < n
        cum = if (f.liveRecords > Long.MaxValue - cum) Long.MaxValue else cum + f.liveRecords
        take
      }
  }

  /** Every spelling `_metadata.file_path` may use for a listed path:
    * scheme-less, `scheme:/...` (qualified `Path.toString`), `scheme://...`
    * (URI form). A key missed here fails OPEN (deleted rows served), so all
    * spellings are always registered.
    */
  private def pathSpellings(p: Path): Seq[String] =
    Seq(p.toString, p.toUri.toString, p.toUri.getPath).distinct

  /** `entries` keyed by every spelling of their paths. */
  def bySpelling[V](entries: Seq[(Path, V)]): Map[String, V] =
    entries.flatMap { case (p, v) => pathSpellings(p).map(_ -> v) }.toMap

  /** DV bitmaps of `files`, keyed by every path spelling. */
  def bitmaps(files: Seq[ListedFile]): Map[String, Array[Byte]] =
    bySpelling(files.flatMap(_.dv.map(d => d.key -> d.bytes)))

  private def deletedColumn(df: DataFrame, byPath: Map[String, Array[Byte]]): Column = {
    val bcast = df.sparkSession.sparkContext.broadcast(byPath)
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    column(graft.functions.DvRowDeleted(
      expression(col("_metadata.file_path")),
      expression(col("_metadata.row_index")),
      bcast))
  }

  /** Drop the rows whose `(_metadata.file_path, _metadata.row_index)` is
    * set in the file's broadcast bitmap — scan-side, no join, no shuffle.
    */
  def filterDeleted(df: DataFrame, byPath: Map[String, Array[Byte]]): DataFrame =
    if (byPath.isEmpty) df else df.filter(!deletedColumn(df, byPath))

  /** Keep ONLY the rows set in the bitmaps (CDF derives the rows a
    * deletion-vector update touched by selecting the DV diff).
    */
  def selectDeleted(df: DataFrame, byPath: Map[String, Array[Byte]]): DataFrame =
    df.filter(deletedColumn(df, byPath))

  /** One shared client for driver-side DV fetches (a per-file
    * HttpClient.newHttpClient would rebuild a connection pool per DV).
    */
  private lazy val http = java.net.http.HttpClient.newHttpClient()

  /** Resolve a served DV descriptor to serialized-bitmap bytes: "p" is a
    * pre-signed URL of the framed DV file (one driver-side GET — the
    * refreshable URL cache is unnecessary for a one-shot metadata fetch),
    * "i" is inline z85. Verification shares
    * [[graft.log.DeletionVectors.verifiedBlob]] with the local path.
    */
  def fetchDvBytes(dv: wire.DeltaDvW): Array[Byte] = dv.storageType match {
    case "i" => Z85.decode(dv.pathOrInlineDv)
    case "p" =>
      // retry transient failures like the REST client does (5xx /
      // transport); 4xx (expired/tampered URL) surface immediately
      var attempt = 0
      var delay = 500L
      while (true) {
        val result: Either[Throwable, java.net.http.HttpResponse[Array[Byte]]] =
          try Right(http.send(
            java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(dv.pathOrInlineDv)).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofByteArray()))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        result match {
          case Right(resp) if resp.statusCode() < 400 =>
            return DeletionVectors.verifiedBlob(resp.body(),
              graft.model.DeletionVectorDescriptor("p", dv.pathOrInlineDv,
                Option(dv.offset).map(_.intValue()), dv.sizeInBytes, dv.cardinality),
              "pre-signed DV")
          case Right(resp) if resp.statusCode() < 500 || attempt >= 3 =>
            throw new graft.client.GraftClientException(resp.statusCode(),
              s"DV fetch failed (${resp.statusCode()})")
          case Left(e) if attempt >= 3 =>
            throw new graft.client.GraftClientException(0, s"DV fetch failed: $e")
          case _ => Thread.sleep(delay); delay *= 2; attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    case other =>
      throw new IllegalArgumentException(s"unknown served DV storageType '$other'")
  }
}
