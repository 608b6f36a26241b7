package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

/** Spark data-source `Filter` → `Column` translation, total over the
  * standard filter algebra (`None` = not expressible). Two uses:
  *  - PrunedFilteredScan relations apply pushed filters to their
  *    underlying DataFrame, which lets the parquet scan prune row groups;
  *    [[translate]] skips untranslatable filters (Spark re-applies every
  *    filter on the returned rows, so skipping only costs I/O);
  *  - SQL `DELETE FROM` lowers its condition to the `Column` the
  *    row-level writer evaluates; an untranslatable filter there must make
  *    `canDeleteWhere` refuse (Spark then raises a clear analysis error
  *    instead of a silent wrong delete).
  */
object FilterColumns {

  def translate(filters: Seq[Filter]): Option[Column] = {
    val cols = filters.flatMap(one)
    cols.reduceOption(_ && _)
  }

  def one(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case And(l, r)                => for (a <- one(l); b <- one(r)) yield a && b
    case Or(l, r)                 => for (a <- one(l); b <- one(r)) yield a || b
    case Not(c)                   => one(c).map(!_)
    case _                        => None
  }
}

/** Shared `PrunedFilteredScan` body for relations backed by an assembled
  * DataFrame (CDF assemblies, DV/column-mapping scans): apply pushed
  * filters (they reach the parquet scan as PushedFilters — Spark still
  * re-applies them on rows, so the translation stays best-effort), then
  * project, then hand back the RDD.
  */
private[sources] trait DataFrameBackedScan extends PrunedFilteredScan {
  self: org.apache.spark.sql.sources.BaseRelation =>

  /** The assembled frame; columns must match [[schema]]. */
  protected def df: org.apache.spark.sql.DataFrame

  override def buildScan(
      requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = FilterColumns.translate(filters.toIndexedSeq)
      .map(df.filter).getOrElse(df)
    val projected =
      if (requiredColumns.isEmpty) filtered
      else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.rdd
  }
}
