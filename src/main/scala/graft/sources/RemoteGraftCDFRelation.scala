package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.{DataType, StructType}

import graft.client.{GraftRestClient, GraftUrlCache}
import graft.log.GraftCDF

/** Remote Change Data Feed over the REST `/changes` endpoint — the
  * reference's `RemoteDeltaCDFRelation` (`client/.../RemoteDeltaCDFRelation
  * .scala:37-139`): per-version groups of add (implied insert) / cdc
  * (typed rows) / remove (implied delete) files are read through graft://
  * pre-signed URLs, stamped with `_commit_version`/`_commit_timestamp`,
  * and unioned.
  */
class RemoteGraftCDFRelation(
    spark: SparkSession,
    client: GraftRestClient,
    share: String,
    schemaName: String,
    table: String,
    options: Map[String, String])
    extends BaseRelation with DataFrameBackedScan {

  private val params: Map[String, String] =
    Seq("startingVersion", "startingTimestamp", "endingVersion", "endingTimestamp",
      "includeHistoricalMetadata")
      .flatMap(k => options.get(k).map(k -> _)).toMap

  require(params.contains("startingVersion") || params.contains("startingTimestamp"),
    "readChangeFeed requires startingVersion or startingTimestamp")

  protected lazy val df: DataFrame = {
    GraftFileSystem.register(spark)
    val res = client.changes(share, schemaName, table, params)
    val tableSchema = DataType.fromJson(res.metadata.schemaString).asInstanceOf[StructType]

    import GraftUrlCache.entry
    val urls =
      res.adds.map(a => entry(a.id, a.url, a.expirationTimestamp)) ++
        res.cdfs.map(c => entry(c.id, c.url, c.expirationTimestamp)) ++
        res.removes.map(r => entry(r.id, r.url, r.expirationTimestamp))
    GraftUrlCache.register(s"cdf:$share.$schemaName.$table", urls.toMap,
      () => {
        val fresh = client.changes(share, schemaName, table, params)
        (fresh.adds.map(a => entry(a.id, a.url, a.expirationTimestamp)) ++
          fresh.cdfs.map(c => entry(c.id, c.url, c.expirationTimestamp)) ++
          fresh.removes.map(r => entry(r.id, r.url, r.expirationTimestamp))).toMap
      })

    RemoteGraftCDF.assemble(spark, tableSchema,
      RemoteGraftCDF.groupsOf(res.adds, res.cdfs, res.removes))
  }

  override def sqlContext: SQLContext = spark.sqlContext

  override lazy val schema: StructType = df.schema
}

/** Shared remote-CDF batch assembly, used by both the batch relation above
  * and the streaming source's CDF mode
  * ([[graft.streaming.RemoteGraftSource]]).
  */
object RemoteGraftCDF {

  import graft.server.wire

  private def path(id: String, size: Long): String =
    GraftFileSystem.encodePath(id, size).toString

  /** Per-(version, timestamp) file groups: adds imply `insert` rows, cdc
    * files carry their own `_change_type` column, removes imply `delete`
    * (reference `RemoteDeltaCDFRelation.scala:73-139`). Tuple =
    * (graft:// paths, change-type literal or None for cdc, version, ts).
    */
  def groupsOf(
      adds: Seq[wire.AddFileW],
      cdfs: Seq[wire.CdcFileW],
      removes: Seq[wire.RemoveFileW]): Seq[(Seq[String], Option[String], Long, Long)] =
    adds.groupBy(a => (a.version, a.timestamp)).toSeq.map { case ((v, ts), as) =>
      (as.map(a => path(a.id, a.size)), Option("insert"), v, ts)
    } ++
      cdfs.groupBy(c => (c.version, c.timestamp)).toSeq.map { case ((v, ts), cs) =>
        (cs.map(c => path(c.id, c.size)), Option.empty[String], v, ts)
      } ++
      removes.groupBy(r => (r.version, r.timestamp)).toSeq.map { case ((v, ts), rs) =>
        (rs.map(r => path(r.id, r.size)), Option("delete"), v, ts)
      }

  /** Union the groups into one change DataFrame with the 3 CDF metadata
    * columns stamped as literals.
    */
  def assemble(
      spark: SparkSession,
      tableSchema: StructType,
      groups: Seq[(Seq[String], Option[String], Long, Long)]): DataFrame = {
    val dfs = groups.sortBy(g => (g._3, g._2.isEmpty)).map { case (paths, ct, v, ts) =>
      val base = ct match {
        case Some(t) => spark.read.schema(tableSchema).parquet(paths: _*)
          .withColumn(GraftCDF.CHANGE_TYPE, lit(t))
        case None => spark.read.schema(tableSchema.add(GraftCDF.CHANGE_TYPE, "string"))
          .parquet(paths: _*)
      }
      base.withColumn(GraftCDF.COMMIT_VERSION, lit(v))
        .withColumn(GraftCDF.COMMIT_TIMESTAMP, lit(new java.sql.Timestamp(ts)))
    }
    dfs match {
      case Nil =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          GraftCDF.withCdfColumns(tableSchema))
      case list => list.reduce(_.unionByName(_))
    }
  }
}
