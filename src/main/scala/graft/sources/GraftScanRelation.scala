package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, PrunedFilteredScan}
import org.apache.spark.sql.types.StructType

import graft.predicates.SourceFilterConverter

/** Snapshot scan for tables with ADVANCED READER FEATURES — deletion
  * vectors and/or column mapping — local or served in the delta dialect.
  * The plain `HadoopFsRelation` cannot express them (the reference reads
  * these through delta-kernel; `DeltaSharedTableKernel.scala:566-586`
  * gates them behind `responseformat=delta`).
  *
  * Per pushed filter set: hint → listing (stats skipping, or one `/query`
  * per hint shape against the pinned version) → DV filter → rename, all in
  * [[ScanCore.liveRows]]; the rows are then re-filtered exactly. A limit
  * pushed by [[GraftLimitPushDown]] lists only the files covering n live
  * rows; Spark still applies the exact row limit.
  */
class GraftScanRelation private[graft] (
    spark: SparkSession,
    listing: Listing,
    val limitHint: Option[Long] = None)
    extends BaseRelation with PrunedFilteredScan {

  def withLimit(n: Long): GraftScanRelation =
    new GraftScanRelation(spark, listing, Some(limitHint.fold(n)(math.min(_, n))))

  override def sqlContext: SQLContext = spark.sqlContext

  /** Logical (user-facing) schema. */
  override val schema: StructType = listing.layout.logical

  /** One assembled frame per pushed filter set (Catalyst calls buildScan
    * on every planning pass).
    */
  private val frames =
    scala.collection.concurrent.TrieMap.empty[Seq[Filter], DataFrame]

  private def liveRows(filters: Seq[Filter]): DataFrame = {
    val hint = filters.flatMap(SourceFilterConverter.toCatalyst(_, schema))
    val limit = limitHint.filter(_ => filters.isEmpty)
    ScanCore.liveRows(spark, new FixedListing(listing.layout,
      listing.list(Nil, hint, limit), listing.rootPaths))
  }

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val base = frames.getOrElseUpdate(filters.toSeq, liveRows(filters.toSeq))
    // exact row-level re-filter on top of the best-effort file pruning;
    // an empty select is legal (zero-column frame for count-style scans)
    FilterColumns.translate(filters.toIndexedSeq).map(base.filter).getOrElse(base)
      .select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }
}
