package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.IntegerLiteral
import org.apache.spark.sql.catalyst.plans.logical.{LocalLimit, LogicalPlan}
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
  * [[GraftFileIndex]] and the advanced-feature [[GraftScanRelation]].
  */
object GraftLimitPushDown extends Rule[LogicalPlan] {

  def enable(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(this)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ this
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case limit @ LocalLimit(IntegerLiteral(n),
        lr @ LogicalRelation(
          hfs @ HadoopFsRelation(index: GraftFileIndex, _, _, _, _, _), _, _, _, _))
        if index.limitHint.isEmpty =>
      val newRelation = hfs.copy(location = index.withLimit(n.toLong))(hfs.sparkSession)
      limit.copy(child = lr.copy(relation = newRelation))
    case limit @ LocalLimit(IntegerLiteral(n),
        lr @ LogicalRelation(rel: GraftScanRelation, _, _, _, _))
        if rel.limitHint.isEmpty =>
      limit.copy(child = lr.copy(relation = rel.withLimit(n.toLong)))
  }
}
