package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator queries, as the harnesses and tests consume them. Each
  * query is declared once, as a [[graft.queries.QuerySpec]] in its
  * family file under `graft/queries/`, with its engine frame next to its
  * DuckDB oracle; the two maps below are views of that registry.
  *
  * Scale notes (designed for 1000-executor / 100 TB, tested on local[32]):
  *  - dimension joins (region/nation/supplier/part/customer) are broadcast;
  *  - aggregates are expressed so map-side partial aggregation applies;
  *  - window top-k partitions by a key (never a global single-partition
  *    window except where the result itself is tiny and bounded);
  *  - money sums are rounded at output only (never mid-plan).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Reads lineitem through the graft sharing layer (registry → log replay
    * → FileIndex with stats skipping → HadoopFsRelation) and runs a
    * pricing-summary aggregate — the SURVEY.md §7.2 end-to-end slice.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q21_share_snapshot_scan")(spark, "/root/testdata/sf0.001")

  /** Engine frame per query name, over the fixtures in the given dir. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.QueryRegistry.queries

  /** DuckDB oracle SQL per query name; column names match the frames. */
  def oracleSql: Map[String, String] = graft.queries.QueryRegistry.oracleSql
}
