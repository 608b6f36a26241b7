package graft.sources

import java.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDeleteV2, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.log.Snapshot

/** What the local catalog tables ([[GraftKernelTable]],
  * [[GraftV1FallbackTable]]) share: SQL writes and SQL `DELETE`.
  *
  *  - `INSERT INTO` appends a new log version through the table builder
  *    (schema-checked, stats computed, Delta-format commits on
  *    Delta-format tables); `INSERT OVERWRITE` recreates at version 0
  *    preserving partitioning, configuration and log format. The
  *    DataFrame-based V1 write is exactly the builder's input shape.
  *  - `DELETE FROM … WHERE …`: the analyzer lowers the condition to
  *    connector predicates, translated through Spark's own V1 bridge into
  *    the `Column` the row-level writer evaluates (`DELETE FROM t` with no
  *    WHERE arrives as `AlwaysTrue`). The delta DV contract decides the
  *    writer: a table with `delta.enableDeletionVectors=true` (or existing
  *    DVs) deletes by WRITING deletion vectors (merge-on-read, zero data
  *    file rewrites), anything else rewrites only the files holding
  *    matches ([[graft.log.TableBuilder.deleteWhere]]).
  */
private[sources] trait GraftLocalTable extends Table with SupportsWrite with SupportsDeleteV2 {
  protected def tablePath: String
  protected def snapshot: Snapshot

  override def schema(): StructType = snapshot.schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
            val spark = data.sparkSession
            val conf = spark.sessionState.newHadoopConf()
            if (overwrite) {
              val wasDelta = new graft.log.GraftLog(tablePath, conf).deltaMode
              val p = new org.apache.hadoop.fs.Path(tablePath)
              p.getFileSystem(conf).delete(p, true)
              graft.log.GraftLog.invalidateListing(tablePath)
              graft.log.TableBuilder.create(spark, data, tablePath,
                partitionCols = snapshot.metadata.partitionColumns,
                name = snapshot.metadata.name,
                configuration = snapshot.metadata.configuration,
                deltaFormat = wasDelta)
            } else {
              graft.log.TableBuilder.append(spark, data, tablePath)
            }
          }
      }
    }

  private def deleteCondition(predicates: Array[Predicate]): Option[Column] = {
    if (snapshot.metadata.partitionColumns.nonEmpty) return None
    val cols = predicates.toSeq.map(p =>
      org.apache.spark.sql.GraftBatchDf.predicateToV1(p).flatMap(FilterColumns.one))
    if (cols.exists(_.isEmpty)) None
    else Some(cols.flatten.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)))
  }

  override def canDeleteWhere(predicates: Array[Predicate]): Boolean =
    deleteCondition(predicates).isDefined

  override def deleteWhere(predicates: Array[Predicate]): Unit = {
    val cond = deleteCondition(predicates).getOrElse(throw new UnsupportedOperationException(
      s"DELETE condition not expressible as connector filters: ${predicates.mkString(", ")}"))
    val spark = SparkSession.active
    val dvMode =
      snapshot.metadata.configuration.get("delta.enableDeletionVectors").contains("true") ||
        snapshot.files.exists(_.deletionVector.isDefined)
    if (dvMode) graft.log.TableBuilder.deleteWhereDV(spark, tablePath, cond)
    else graft.log.TableBuilder.deleteWhere(spark, tablePath, cond)
  }
}

/** Catalog `Table` for ADVANCED-reader-feature tables (deletion vectors /
  * column mapping): the DSv2 columnar kernel scan decodes raw parquet and
  * cannot apply them, so this table routes reads through the V1 relation
  * path — the same `format("graft")` machinery every advanced feature
  * already flows through (DV filtering, physical→logical renames, hidden
  * row-id columns) — via Spark's `V1Scan` bridge. SQL names therefore
  * work on EVERY shared table: `SELECT * FROM graft.share.schema.dvtable`
  * serves DV-filtered rows instead of refusing.
  *
  * Pushdown: pruned columns narrow the projected relation; pushed filters
  * are applied to the underlying DataFrame for file skipping but reported
  * UNHANDLED (`pushedFilters()` empty), so Spark re-evaluates them above —
  * sound by construction, and the underlying scan still prunes files via
  * its own listing. Writes and SQL DELETE are [[GraftLocalTable]]'s; no
  * row-level operations (UPDATE/MERGE) are offered, since their group
  * rewrite reads raw parquet and would resurrect DV-deleted rows.
  */
class GraftV1FallbackTable(
    protected val tablePath: String, protected val snapshot: Snapshot)
    extends GraftLocalTable with SupportsRead {

  override def name(): String = s"graft-v1:`$tablePath`@v${snapshot.version}"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
      private var required: StructType = snapshot.schema
      private var filters: Array[Filter] = Array.empty

      override def pushFilters(fs: Array[Filter]): Array[Filter] = {
        filters = fs
        fs // all residual: Spark re-applies every predicate above the scan
      }
      override def pushedFilters(): Array[Filter] = Array.empty
      override def pruneColumns(s: StructType): Unit = required = s

      override def build(): Scan = new V1Scan {
        override def readSchema(): StructType = required
        override def toV1TableScan[T <: BaseRelation with TableScan](
            context: SQLContext): T = {
          val df0 = context.sparkSession.read.format("graft")
            .option("path", tablePath)
            .option("versionAsOf", snapshot.version.toString)
            .load()
          val filtered = FilterColumns.translate(filters.toIndexedSeq)
            .map(df0.filter).getOrElse(df0)
          val projected =
            filtered.select(required.fieldNames.toIndexedSeq.map(col): _*)
          new BaseRelation with TableScan {
            override def sqlContext: SQLContext = context
            override def schema: StructType = projected.schema
            override def buildScan(): RDD[Row] = projected.rdd
          }.asInstanceOf[T]
        }
      }
    }
}
