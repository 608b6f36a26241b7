package graft.sources

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

/** Batch Change-Data-Feed relation: `spark.read.format("graft")
  * .option("readChangeFeed", "true").option("startingVersion"|
  * "startingTimestamp", ...)` over any change transport — the reference's
  * `RemoteDeltaCDFRelation` (`client/.../RemoteDeltaCDFRelation.scala:37-139`),
  * a `PrunedFilteredScan` over the change core's rows.
  *
  * Timestamp boundaries follow the reference's asymmetry
  * (`DeltaSharingCDCReader.scala:95-136`): the START timestamp resolves to
  * the earliest version at-or-AFTER it, the END to the latest at-or-BEFORE.
  */
class GraftChangeRelation(
    spark: SparkSession,
    transport: ChangeTransport,
    options: Map[String, String])
    extends BaseRelation with DataFrameBackedScan {

  private def boundary(version: String, timestamp: String, resolve: String => Long)
      : Option[Long] = {
    require(!(options.contains(version) && options.contains(timestamp)),
      s"at most one of $version/$timestamp may be set")
    options.get(version).map(_.toLong).orElse(options.get(timestamp).map(resolve))
  }

  private val start: Long =
    boundary("startingVersion", "startingTimestamp", transport.versionAtOrAfter)
      .getOrElse(throw new IllegalArgumentException(
        "readChangeFeed requires startingVersion or startingTimestamp"))

  private val end: Option[Long] =
    boundary("endingVersion", "endingTimestamp", transport.versionAtOrBefore)

  protected lazy val df = transport.changes(start, end)

  override def sqlContext: SQLContext = spark.sqlContext

  override val schema: StructType = df.schema
}
