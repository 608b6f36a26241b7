package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, GenericInternalRow, Literal}
import org.apache.spark.sql.catalyst.{expressions => ce}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.log.{GraftCatalog, GraftLog, Snapshot}

/** SURVEY §2.1 S2 — the "kernel" columnar scan: a second, independent read
  * path over the same graft log, built on DataSource V2 with vectorized
  * parquet `ColumnarBatch` reads (the reference's kernel-based scan is the
  * alternative to its classic scan path, `DeltaSharedTableKernel.scala` vs
  * `DeltaSharedTable.scala`; here the split is DSv2-columnar vs
  * V1-`HadoopFsRelation`).
  *
  * `spark.read.format("graft-kernel").option("table", ...)` (or `path`,
  * plus `versionAsOf`/`timestampAsOf`). Differences from the V1 path:
  *
  *  - column pruning and filter pushdown arrive through the typed DSv2
  *    hooks (`SupportsPushDownRequiredColumns` / `SupportsPushDownFilters`
  *    / `SupportsPushDownLimit`) instead of `FileIndex.listFiles`;
  *  - batches flow to Spark as `ColumnarBatch` (whole-stage codegen
  *    consumes the vectors directly; `ColumnarToRow` appears only when a
  *    downstream operator needs rows);
  *  - every pushed filter is ALSO returned as a post-scan filter, so Spark
  *    re-applies it on rows — pruning stays a best-effort superset exactly
  *    like the V1 path (PROTOCOL best-effort contract).
  *
  * Scale: pruning is O(files) driver-side metadata work shared with
  * [[GraftFileIndex]]; files are split at `maxPartitionBytes` boundaries so
  * a 100 TB table fans out across executors at the same granularity as
  * Spark's own parquet source, and row-group stats inside each split are
  * still consulted by the parquet reader via the pushed
  * `FilterPredicate`.
  */
class GraftKernelSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-kernel"

  private def load(options: CaseInsensitiveStringMap): (String, Snapshot) = {
    val spark = SparkSession.active
    val params = options.asCaseSensitiveMap().asScala.toMap
    val path = params.get("table").map(GraftCatalog.location)
      .orElse(params.get("path"))
      .getOrElse(throw new IllegalArgumentException("option 'table' or 'path' required"))
    val log = new GraftLog(path, spark.sessionState.newHadoopConf())
    val version = params.get("versionAsOf").map(_.toLong)
    val timestamp = params.get("timestampAsOf")
      .map(s => graft.model.StatsCodec.parseTimestamp(s).toEpochMilli)
    require(version.isEmpty || timestamp.isEmpty,
      "at most one of versionAsOf/timestampAsOf may be set")
    val snapshot = log.snapshot(version.orElse(timestamp.map(log.versionAtOrBefore)))
    // this path decodes raw parquet bytes; advanced reader features need
    // the wrapping V1 relation (DV row filter / logical renames)
    require(snapshot.files.forall(_.deletionVector.isEmpty) &&
      !graft.model.ColumnMapping.isEnabled(snapshot.metadata),
      "graft-kernel does not support deletion vectors / column mapping; " +
        "use format(\"graft\") which applies them on the read path")
    (path, snapshot)
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    load(options)._2.schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val (path, snapshot) = load(new CaseInsensitiveStringMap(properties))
    new GraftKernelTable(path, snapshot)
  }
}

class GraftKernelTable(
    protected val tablePath: String, protected val snapshot: Snapshot)
    extends GraftLocalTable with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
  override def name(): String = s"graft-kernel:`$tablePath`@v${snapshot.version}"

  /** SQL `UPDATE` / `MERGE INTO` / complex `DELETE` — group-based
    * copy-on-write rewrites (see [[GraftRowLevelOperation]]). Simple
    * filter deletes still take the cheaper `deleteWhere` metadata path
    * (Spark's `OptimizeMetadataOnlyDeleteFromTable` prefers it).
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new GraftRowLevelOperation(tablePath, snapshot, info.command())

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val index = new GraftFileIndex(spark, tablePath, snapshot)
    new GraftKernelScanBuilder(spark, name(), snapshot.schema,
      snapshot.metadata.partitionColumns.toSet,
      limit => limit.fold(index)(n => index.withLimit(n.toLong)))
  }
}

/** The same DSv2 columnar scan over a REMOTE shared table: partition
  * planning goes through a [[GraftFileIndex]] over a `/query` listing
  * (jsonPredicateHints to the server, pre-signed URLs registered in the
  * refreshing cache) and scan tasks read parquet bytes via `graft://` Range requests — the
  * kernel path and the REST path composed. Advanced reader features are
  * refused like the local kernel scan (the table's configuration travels
  * in the wire metadata).
  */
class RemoteGraftKernelTable(
    spark: SparkSession,
    baseIndex: GraftFileIndex,
    label: String) extends Table with SupportsRead {
  override def name(): String = label
  override def schema(): StructType = baseIndex.listing.layout.logical
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftKernelScanBuilder(spark, label, schema(),
      baseIndex.partitionSchema.fieldNames.toSet,
      limit => limit.fold(baseIndex)(n => baseIndex.withLimit(n.toLong)))
}

/** Collects Spark's pushdown calls, then builds the scan. All pushed
  * filters are echoed back as residuals (sound superset pruning).
  */
class GraftKernelScanBuilder(
    spark: SparkSession,
    label: String,
    fullSchema: StructType,
    partitionCols: Set[String],
    mkIndex: Option[Int] => GraftFileIndex)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // Spark re-applies everything on rows — superset contract
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    false // "false" = best-effort: Spark keeps its own Limit on top
  }

  override def build(): Scan =
    new GraftKernelScan(spark, label, fullSchema, partitionCols,
      mkIndex(limit), required, pushed, limit)
}

case class GraftKernelInputPartition(
    filePath: String,
    start: Long,
    length: Long,
    /** Catalyst-internal values of the REQUESTED partition columns. */
    partitionValues: Array[Any]) extends InputPartition

class GraftKernelScan(
    spark: SparkSession,
    label: String,
    fullSchema: StructType,
    partitionCols: Set[String],
    index: GraftFileIndex,
    required: StructType,
    pushed: Array[Filter],
    limit: Option[Int]) extends Scan with Batch {

  /** Requested columns that live in the parquet files, in requested order. */
  private val requiredData = StructType(required.filterNot(f => partitionCols(f.name)))
  /** Requested partition columns (constant per file). */
  private val requiredPart = StructType(required.filter(f => partitionCols(f.name)))

  /** Reader output: data vectors first, then partition-value vectors — the
    * order `VectorizedParquetRecordReader.initBatch` appends them in.
    */
  override def readSchema(): StructType = StructType(requiredData ++ requiredPart)

  override def toBatch: Batch = this

  override def description(): String =
    s"$label pushed=[${pushed.mkString(", ")}]" +
      limit.fold("")(n => s" limit=$n")

  /** Index the scan plans over — a subclass may narrow it after runtime
    * filtering (row-level group pruning).
    */
  protected def currentIndex: GraftFileIndex = index

  override def planInputPartitions(): Array[InputPartition] = {
    val index = currentIndex
    // same three prunings as the V1 path, via the shared FileIndex
    val exprs = pushed.flatMap(KernelFilters.toCatalyst(_, fullSchema))
    val (partExprs, dataExprs) =
      exprs.partition(_.references.forall(a => partitionCols(a.name)))
    val dirs = index.listFiles(partExprs.toSeq, dataExprs.toSeq)
    // project each directory's full partition row down to requiredPart
    val partIdx = requiredPart.map(f => index.partitionSchema.fieldIndex(f.name))
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val out = Array.newBuilder[InputPartition]
    dirs.foreach { dir =>
      val values = partIdx.map(i => dir.values.get(i,
        index.partitionSchema(i).dataType)).toArray
      dir.files.foreach { st =>
        var off = 0L
        val len = st.getLen
        while (off < len) {
          val chunk = math.min(maxSplit, len - off)
          out += GraftKernelInputPartition(st.getPath.toString, off, chunk, values)
          off += chunk
        }
      }
    }
    out.result()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = spark.sessionState.newHadoopConf()
    KernelFilters.toParquet(pushed, requiredData).foreach(
      org.apache.parquet.hadoop.ParquetInputFormat.setFilterPredicate(conf, _))
    new GraftKernelReaderFactory(
      new KernelConf(conf),
      requiredData.json,
      requiredPart.json,
      spark.sessionState.conf.sessionLocalTimeZone,
      spark.sessionState.conf.parquetVectorizedReaderBatchSize)
  }
}

/** Java-serializable Hadoop Configuration carrier (the factory ships to
  * executors with Spark's closure serializer).
  */
class KernelConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

class GraftKernelReaderFactory(
    conf: KernelConf,
    dataSchemaJson: String,
    partSchemaJson: String,
    sessionTz: String,
    capacity: Int) extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  private def openReader(p: GraftKernelInputPartition): VectorizedParquetRecordReader = {
    val dataSchema = DataType.fromJson(dataSchemaJson).asInstanceOf[StructType]
    val partSchema = DataType.fromJson(partSchemaJson).asInstanceOf[StructType]
    val c = new Configuration(conf.value)
    // the keys ParquetReadSupport.init reads (ParquetFileFormat sets the
    // same ones before handing a split to the vectorized reader)
    c.set("org.apache.spark.sql.parquet.row.requested_schema", dataSchema.json)
    c.set("parquet.read.support.class",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport")
    c.set("spark.sql.session.timeZone", sessionTz)
    // ParquetToSparkSchemaConverter reads these with a bare .toBoolean —
    // every key must be present with a literal true/false
    c.setBoolean("spark.sql.parquet.binaryAsString", false)
    c.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    c.setBoolean("spark.sql.caseSensitive", false)
    c.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    c.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    c.setBoolean("spark.sql.parquet.fieldId.read.enabled", false)
    c.setBoolean("spark.sql.parquet.fieldId.read.ignoreMissing", false)
    c.setBoolean("spark.sql.parquet.timestampNTZ.enabled", true)
    // mapred.FileSplit (extends the mapreduce one) — the vectorized
    // reader's base class downcasts to the mapred flavor
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(p.filePath), p.start, p.length, Array.empty[String])
    val ctx = new TaskAttemptContextImpl(c,
      new TaskAttemptID(new TaskID(new JobID("graft-kernel", 0), TaskType.MAP, 0), 0))
    // graft fixtures are proleptic-Gregorian (written by modern Spark):
    // rebase mode CORRECTED; a general library would read the writer tag
    // from the footer the way ParquetFileFormat resolves RebaseSpec
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, capacity)
    var ok = false
    try {
      reader.initialize(split, ctx)
      reader.initBatch(partSchema, new GenericInternalRow(p.partitionValues))
      reader.enableReturningBatches()
      ok = true
      reader
    } finally if (!ok) reader.close()
  }

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val reader = openReader(partition.asInstanceOf[GraftKernelInputPartition])
    new PartitionReader[ColumnarBatch] {
      override def next(): Boolean = reader.nextKeyValue()
      override def get(): ColumnarBatch =
        reader.getCurrentValue.asInstanceOf[ColumnarBatch]
      override def close(): Unit = reader.close()
    }
  }

  /** Row fallback (unused when columnar reads are supported, but the
    * contract requires it): same batches, iterated row-wise.
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val batches = createColumnarReader(partition)
    new PartitionReader[InternalRow] {
      private var rows: java.util.Iterator[InternalRow] = java.util.Collections.emptyIterator()
      override def next(): Boolean = {
        while (!rows.hasNext) {
          if (!batches.next()) return false
          rows = batches.get().rowIterator()
        }
        true
      }
      override def get(): InternalRow = rows.next()
      override def close(): Unit = batches.close()
    }
  }
}

/** V1 `sources.Filter` translations: to Catalyst (for the shared file-level
  * pruning) and to parquet `FilterPredicate` (row-group stats skipping
  * inside each split). Both are best-effort — an untranslatable node just
  * drops out, which only widens the superset.
  */
object KernelFilters {

  def toCatalyst(f: Filter, schema: StructType): Option[Expression] = {
    def ref(name: String): Option[Attribute] =
      schema.find(_.name == name).map(x =>
        AttributeReference(x.name, x.dataType, nullable = true)())
    def lit(name: String, v: Any): Option[Expression] =
      schema.find(_.name == name).map(x => Literal.create(v, x.dataType))
    f match {
      case sources.EqualTo(a, v) =>
        for (r <- ref(a); l <- lit(a, v)) yield ce.EqualTo(r, l)
      case sources.GreaterThan(a, v) =>
        for (r <- ref(a); l <- lit(a, v)) yield ce.GreaterThan(r, l)
      case sources.GreaterThanOrEqual(a, v) =>
        for (r <- ref(a); l <- lit(a, v)) yield ce.GreaterThanOrEqual(r, l)
      case sources.LessThan(a, v) =>
        for (r <- ref(a); l <- lit(a, v)) yield ce.LessThan(r, l)
      case sources.LessThanOrEqual(a, v) =>
        for (r <- ref(a); l <- lit(a, v)) yield ce.LessThanOrEqual(r, l)
      case sources.In(a, vs) =>
        for (r <- ref(a); ls <- traverse(vs.toSeq.map(lit(a, _)))) yield ce.In(r, ls)
      case sources.IsNull(a) => ref(a).map(ce.IsNull)
      case sources.IsNotNull(a) => ref(a).map(ce.IsNotNull)
      case sources.StringStartsWith(a, p) =>
        ref(a).map(r => ce.StartsWith(r, Literal.create(p)))
      case sources.And(l, r) =>
        // one-sided And is still a sound (weaker) filter for pruning
        (toCatalyst(l, schema), toCatalyst(r, schema)) match {
          case (Some(a), Some(b)) => Some(ce.And(a, b))
          case (a, b)             => a.orElse(b)
        }
      case sources.Or(l, r) =>
        for (a <- toCatalyst(l, schema); b <- toCatalyst(r, schema)) yield ce.Or(a, b)
      case sources.Not(c) => toCatalyst(c, schema).flatMap {
        // Not over a PARTIAL translation would be unsound; only negate
        // nodes that translated completely (leaves and full Or/And trees
        // are complete by construction of this match — And is the one
        // partial case, so it is excluded)
        case _: ce.And => None
        case e         => Some(ce.Not(e))
      }
      case _ => None
    }
  }

  private def traverse[A](xs: Seq[Option[A]]): Option[Seq[A]] =
    if (xs.forall(_.isDefined)) Some(xs.map(_.get)) else None

  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.io.api.Binary
  import org.apache.spark.sql.types._

  /** Comparison filters → parquet `FilterApi` predicate over the file's
    * primitive columns (the subset `ParquetFilters` itself supports for
    * flat schemas; timestamps/decimals are skipped — physical encodings
    * vary).
    */
  def toParquet(filters: Array[Filter], dataSchema: StructType): Option[FilterPredicate] = {
    val preds = filters.flatMap(toParquetOne(_, dataSchema))
    preds.reduceOption(FilterApi.and)
  }

  private def toParquetOne(f: Filter, schema: StructType): Option[FilterPredicate] = {
    def typ(name: String): Option[DataType] = schema.find(_.name == name).map(_.dataType)
    def cmp(a: String, v: Any,
        in: (org.apache.parquet.filter2.predicate.Operators.IntColumn, Integer) => FilterPredicate,
        ln: (org.apache.parquet.filter2.predicate.Operators.LongColumn, java.lang.Long) => FilterPredicate,
        db: (org.apache.parquet.filter2.predicate.Operators.DoubleColumn, java.lang.Double) => FilterPredicate,
        fl: (org.apache.parquet.filter2.predicate.Operators.FloatColumn, java.lang.Float) => FilterPredicate,
        bin: (org.apache.parquet.filter2.predicate.Operators.BinaryColumn, Binary) => FilterPredicate)
        : Option[FilterPredicate] =
      (typ(a), v) match {
        case (Some(IntegerType), x: Int)    => Some(in(FilterApi.intColumn(a), x))
        case (Some(DateType), x: java.sql.Date) =>
          Some(in(FilterApi.intColumn(a), x.toLocalDate.toEpochDay.toInt))
        case (Some(DateType), x: java.time.LocalDate) =>
          Some(in(FilterApi.intColumn(a), x.toEpochDay.toInt))
        case (Some(LongType), x: Long)      => Some(ln(FilterApi.longColumn(a), x))
        case (Some(DoubleType), x: Double)  => Some(db(FilterApi.doubleColumn(a), x))
        case (Some(FloatType), x: Float)    => Some(fl(FilterApi.floatColumn(a), x))
        case (Some(StringType), x: String)  =>
          Some(bin(FilterApi.binaryColumn(a), Binary.fromString(x)))
        case _ => None
      }
    f match {
      case sources.EqualTo(a, v) if v != null =>
        cmp(a, v, FilterApi.eq(_, _), FilterApi.eq(_, _), FilterApi.eq(_, _),
          FilterApi.eq(_, _), FilterApi.eq(_, _))
      case sources.GreaterThan(a, v) =>
        cmp(a, v, FilterApi.gt(_, _), FilterApi.gt(_, _), FilterApi.gt(_, _),
          FilterApi.gt(_, _), FilterApi.gt(_, _))
      case sources.GreaterThanOrEqual(a, v) =>
        cmp(a, v, FilterApi.gtEq(_, _), FilterApi.gtEq(_, _), FilterApi.gtEq(_, _),
          FilterApi.gtEq(_, _), FilterApi.gtEq(_, _))
      case sources.LessThan(a, v) =>
        cmp(a, v, FilterApi.lt(_, _), FilterApi.lt(_, _), FilterApi.lt(_, _),
          FilterApi.lt(_, _), FilterApi.lt(_, _))
      case sources.LessThanOrEqual(a, v) =>
        cmp(a, v, FilterApi.ltEq(_, _), FilterApi.ltEq(_, _), FilterApi.ltEq(_, _),
          FilterApi.ltEq(_, _), FilterApi.ltEq(_, _))
      case sources.And(l, r) =>
        (toParquetOne(l, schema), toParquetOne(r, schema)) match {
          case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
          case (a, b)             => a.orElse(b) // sound to weaken an And
        }
      case sources.Or(l, r) =>
        for (a <- toParquetOne(l, schema); b <- toParquetOne(r, schema))
          yield FilterApi.or(a, b)
      case _ => None
    }
  }
}
