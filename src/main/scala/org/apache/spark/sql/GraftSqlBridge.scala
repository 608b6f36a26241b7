/* Bridge into private[sql] helpers. Lives in the org.apache.spark.sql
 * package for access only — the same technique the reference uses to reach
 * Spark-private RPC from `org.apache.spark.delta.sharing`
 * (reference `client/src/main/scala/org/apache/spark/delta/sharing/
 * PreSignedUrlCache.scala:16-17`).
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftSqlBridge {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (e.g. to embed it as a scalar
    * subquery — the same shape `InjectRuntimeFilter` builds).
    */
  def analyzed(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** DataFrame over a logical plan (used to wrap streaming relations). */
  def ofRowsStreaming(
      spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `ds` cached once for all its consumers, and the call that drops
    * the cache. The cache is the in-memory relation a `persist` call
    * would build (`CacheManager.cacheQuery`'s session handling) but is
    * never entered in the CacheManager, so no consumer's plan has to
    * match it. The frame is a `LogicalRDD` leaf over the relation's rows
    * with the scan's partitioning and ordering, as a `localCheckpoint`
    * leaf has: consumers plan it with no cache stage of its own, two
    * scans of it can share an exchange, and a lost block recomputes from
    * the lineage the cache keeps. Under AQE, making the leaf runs `ds`'s
    * shuffle stages; the last stage runs, and fills the cache, inside
    * the first action over the leaf.
    *
    * The leaf's size is what `ds`'s last stage reads: the runtime size
    * of each finished stage it reads plus the size of each other input
    * (an earlier pin, a file scan); the planner's estimate of `ds` when
    * an input has no size or `ds` has no shuffle. Estimates of derived frames are off by
    * orders of magnitude both ways (a 2 MB code-array aggregate
    * estimates at 10 TB, a 19 MB trigram count at 0.4 MB), and joins
    * over the pin pick broadcast or shuffle from this size.
    */
  def pin(ds: Dataset[_]): (DataFrame, () => Unit) = {
    val session = ds.sparkSession.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val off = Seq(internal.SQLConf.AUTO_BUCKETED_SCAN_ENABLED) ++
      (if (conf.getConf(internal.SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
       else Seq(internal.SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val cacheSession = classic.SparkSession.getOrCloneSessionWithConfigsOff(session, off)
    val relation = cacheSession.withActive {
      execution.columnar.InMemoryRelation(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
        cacheSession.sessionState.executePlan(
          ds.asInstanceOf[classic.Dataset[_]].queryExecution.normalized), None)
    }
    val scan = execution.columnar.InMemoryTableScanExec(relation.output, Nil, relation)
    val rows = scan.execute()
    val sizes = relation.cachedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec =>
        val last = a.executedPlan match {
          case s: execution.adaptive.QueryStageExec => s.plan
          case p                                    => p
        }
        last.collectLeaves().map {
          case s: execution.adaptive.QueryStageExec => Some(s.getRuntimeStatistics.sizeInBytes)
          case l                                    => l.logicalLink.map(_.stats.sizeInBytes)
        }
      case _ => Seq(None)
    }
    val size =
      if (sizes.forall(_.isDefined)) sizes.flatten.sum else relation.computeStats().sizeInBytes
    val leaf = execution.LogicalRDD(relation.output, rows, scan.outputPartitioning,
      scan.outputOrdering)(session, originStats = Some(catalyst.plans.logical.Statistics(size)))
    (classic.Dataset.ofRows(session, leaf), () => relation.cacheBuilder.clearCache())
  }

  /** Streaming-flagged DataFrame over a computed InternalRow RDD — how a
    * Source hands a micro-batch whose rows come from arbitrary (non-file-
    * relation) computation to the stream execution, which asserts
    * isStreaming on every getBatch result. Kafka's source does the same
    * via `internalCreateDataFrame(rdd, schema, isStreaming = true)`.
    */
  def streamingDataFrameFromRdd(
      spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)
}
