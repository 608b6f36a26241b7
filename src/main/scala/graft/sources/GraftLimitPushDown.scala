package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IntegerLiteral}
import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Catalyst rule pushing `LIMIT n` down to the listing as a file-level
  * hint: only enough files to cover n live rows are listed (the
  * reference's `DeltaSharingLimitPushDown.scala:32-65` + server-side early
  * termination `DeltaSharedTableKernel.scala:445-449`).
  *
  * Catalyst will never push a LocalLimit into a FileIndex on its own —
  * this is one of the two custom optimizer hooks the engine needs
  * (SURVEY.md §4.2). One case per scan shape: the parquet relation over
  * [[GraftFileIndex]] and the advanced-feature [[GraftScanRelation]],
  * each directly under the limit or under a projection of plain columns
  * (column pruning puts one there for `df.limit(n).agg(count(lit(1)))`;
  * such a projection keeps every row, so the cut is unchanged).
  */
object GraftLimitPushDown extends Rule[LogicalPlan] {

  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case limit @ LocalLimit(IntegerLiteral(n), child) =>
      limited(child, n.toLong).fold(limit: LogicalPlan)(c => limit.copy(child = c))
  }

  /** `plan` with its relation's listing cut at `n` live rows, if it is a
    * graft relation without a limit hint, or a plain-column projection
    * of one.
    */
  private def limited(plan: LogicalPlan, n: Long): Option[LogicalPlan] = plan match {
    case lr @ LogicalRelation(
        hfs @ HadoopFsRelation(index: GraftFileIndex, _, _, _, _, _), _, _, _, _)
        if index.limitHint.isEmpty =>
      Some(lr.copy(relation = hfs.copy(location = index.withLimit(n))(hfs.sparkSession)))
    case lr @ LogicalRelation(rel: GraftScanRelation, _, _, _, _) if rel.limitHint.isEmpty =>
      Some(lr.copy(relation = rel.withLimit(n)))
    case p @ Project(columns, child) if columns.forall(_.isInstanceOf[AttributeReference]) =>
      limited(child, n).map(c => p.copy(child = c))
    case _ => None
  }
}
