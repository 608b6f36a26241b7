package graft.sources

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.log.GraftCatalog

/** `spark.read.format("graft")` — batch entry point for shared tables
  * (the reference's `DeltaSharingDataSource`, `spark/.../
  * DeltaSharingDataSource.scala:38-123`; relation construction
  * `RemoteDeltaLog.createRelation`, `client/.../RemoteDeltaLog.scala:79-107`).
  *
  * Options:
  *  - `table`   — `share.schema.table` resolved via [[GraftCatalog]]
  *    (or `path` pointing directly at a graft table root)
  *  - `versionAsOf` / `timestampAsOf` — time travel (mutually exclusive)
  *
  * The produced plan is a plain `HadoopFsRelation` over [[GraftFileIndex]]
  * + `ParquetFileFormat`, so every Catalyst operator, join strategy, AQE
  * and whole-stage codegen applies unchanged downstream. Tables with
  * deletion vectors or column mapping read through [[GraftScanRelation]]
  * over the same listing.
  */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSourceProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `df.writeStream.format("graft")` — exactly-once streaming sink (see
    * [[graft.streaming.GraftSink]] for the txn-watermark contract).
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "pass option(\"partitionColumns\", \"a,b\") instead of partitionBy " +
        "(the V1 streaming API does not forward partitionBy to providers)")
    new graft.streaming.GraftSink(sqlContext, parameters, outputMode)
  }

  /** `df.write.format("graft").mode(...).option("path", ...).save()` —
    * the DataFrame write surface over the table builder. Options:
    *
    *  - `path` (required) — the table root (remote `url` tables are
    *    read-only, like the reference, S13);
    *  - `deltaFormat` — `true` writes a REAL Delta Lake log (S18);
    *  - `partitionColumns` — comma-separated hive partition columns
    *    (create only; the V1 writer API does not forward
    *    `.partitionBy(...)` to providers);
    *  - `name`, `enableChangeDataFeed` — table metadata at create.
    *
    * SaveMode semantics match file sources: ErrorIfExists/Ignore gate on
    * the table's existence, Overwrite recreates at version 0, Append
    * commits a new version (schema checked by the builder).
    */
  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: org.apache.spark.sql.DataFrame): BaseRelation = {
    import org.apache.spark.sql.SaveMode
    require(!parameters.contains("url"),
      "remote shared tables are read-only; writes need a local option(\"path\")")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("write requires option 'path'"))
    val spark = sqlContext.sparkSession
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val exists =
      fs.exists(new org.apache.hadoop.fs.Path(root, graft.log.GraftLog.LOG_DIR)) ||
        fs.exists(new org.apache.hadoop.fs.Path(root, graft.log.DeltaLogCompat.LOG_DIR))
    def doCreate(): Unit = graft.log.TableBuilder.create(
      spark, data, path,
      partitionCols = parameters.get("partitionColumns").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
      name = parameters.getOrElse("name", ""),
      configuration =
        if (parameters.get("enableChangeDataFeed").exists(_.toBoolean))
          Map("enableChangeDataFeed" -> "true")
        else Map.empty,
      deltaFormat = parameters.get("deltaFormat").exists(_.toBoolean))
    mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        // idempotent batch append (Delta's txnAppId/txnVersion options):
        // a retried job whose first attempt committed is a no-op
        val txn = for {
          app <- parameters.get("txnAppId")
          v <- parameters.get("txnVersion").map(_.toLong)
        } yield (app, v)
        val applied = txn.exists { case (app, v) =>
          new graft.log.GraftLog(path, conf).snapshot(None)
            .transactions.get(app).exists(_ >= v)
        }
        if (!applied) graft.log.TableBuilder.append(spark, data, path,
          timestamp = parameters.get("timestamp").map(_.toLong).getOrElse(0L),
          extraActions = txn.map { case (app, v) =>
            graft.model.Txn(app, v) }.toSeq,
          mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean))
      case SaveMode.Overwrite if exists && parameters.contains("replaceWhere") =>
        // delta's partial overwrite: replace ONLY the declared region,
        // atomically, in one forward commit (history/CDF intact)
        graft.log.TableBuilder.replaceWhere(spark, data, path,
          org.apache.spark.sql.functions.expr(parameters("replaceWhere")),
          timestamp = parameters.get("timestamp").map(_.toLong).getOrElse(0L))
      case SaveMode.Overwrite if exists =>
        // a fresh version-0 table: wipe so stale data files of the old
        // incarnation can never be rescanned
        fs.delete(root, true)
        graft.log.GraftLog.invalidateListing(path)
        doCreate()
      case _ => doCreate()
    }
    createRelation(sqlContext, Map("path" -> path))
  }

  private def resolvePath(parameters: Map[String, String]): String =
    parameters.get("table") match {
      case Some(fqn) => GraftCatalog.location(fqn)
      case None => parameters.getOrElse("path",
        throw new IllegalArgumentException("option 'table' or 'path' required"))
    }

  private def splitFqn(parameters: Map[String, String]): (String, String, String) = {
    val fqn = parameters.getOrElse("table",
      throw new IllegalArgumentException("remote mode requires option 'table'"))
    fqn.split("\\.") match {
      case Array(s, sc, t) => (s, sc, t)
      case Array(s, t)     => (s, "default", t)
      case _ => throw new IllegalArgumentException(
        s"table must be share.schema.table, got $fqn")
    }
  }

  /** The reference's canonical addressing —
    * `load("<profile>#<share>.<schema>.<table>")` — rewritten into the
    * explicit url/token/table options (reference
    * `DeltaSharingDataSource.createRelation` splits the path the same
    * way). Explicit options are untouched.
    */
  private def resolveProfile(
      sqlContext: SQLContext, parameters: Map[String, String]): Map[String, String] =
    graft.client.ShareProfile.resolveParameters(
      sqlContext.sparkSession.sessionState.newHadoopConf(), parameters)

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      rawParameters: Map[String, String]): (String, StructType) = {
    val parameters = resolveProfile(sqlContext, rawParameters)
    if (parameters.contains("url")) {
      val (share, sc, t) = splitFqn(parameters)
      val client = GraftDataSource.remoteClient(parameters)
      // same dialect negotiation as the source itself: a table whose
      // reader features refuse the parquet dialect answers its schema
      // over responseformat=delta
      val schemaJson =
        try client.metadata(share, sc, t)._1.schemaString
        catch {
          case e: graft.client.GraftClientException if e.isUnsupportedOperation =>
            client.deltaMetadata(share, sc, t)._1.deltaMetadata.schemaString
        }
      val base = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
        .asInstanceOf[StructType]
      val cdf = parameters.get("readChangeFeed").exists(_.toBoolean)
      val withCdf = if (cdf) graft.log.GraftCDF.withCdfColumns(base) else base
      return (shortName(), schema.getOrElse(withCdf))
    }
    val path = resolvePath(parameters)
    val log = new graft.log.GraftLog(path,
      sqlContext.sparkSession.sessionState.newHadoopConf())
    val base = schema.getOrElse {
      val s = log.snapshot(None).schema
      if (parameters.get("readChangeFeed").exists(_.toBoolean)) graft.log.GraftCDF.withCdfColumns(s)
      else s
    }
    (shortName(), base)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      rawParameters: Map[String, String]): Source = {
    val parameters = resolveProfile(sqlContext, rawParameters)
    if (parameters.contains("url")) {
      val (share, sc, t) = splitFqn(parameters)
      val client = GraftDataSource.remoteClient(parameters)
      return new graft.streaming.RemoteGraftSource(
        sqlContext.sparkSession, client, share, sc, t, parameters)
    }
    new graft.streaming.GraftSource(
      sqlContext.sparkSession, resolvePath(parameters), parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      rawParameters: Map[String, String]): BaseRelation = {
    val parameters = resolveProfile(sqlContext, rawParameters)
    val spark = sqlContext.sparkSession
    GraftLimitPushDown.enable(spark)
    if (parameters.contains("url")) return createRemoteRelation(spark, parameters)
    if (parameters.get("readChangeFeed").exists(_.toBoolean))
      return new GraftChangeRelation(spark, new LocalChanges(spark,
        new graft.log.GraftLog(resolvePath(parameters), spark.sessionState.newHadoopConf())),
        parameters)
    val version = parameters.get("versionAsOf").map(_.toLong)
    val timestamp = parameters.get("timestampAsOf")
      .map(s => graft.model.StatsCodec.parseTimestamp(s).toEpochMilli)
    val tablePath = resolvePath(parameters)
    val log = new graft.log.GraftLog(tablePath, spark.sessionState.newHadoopConf())
    require(version.isEmpty || timestamp.isEmpty,
      "at most one of versionAsOf/timestampAsOf may be set")
    val resolved = version.orElse(timestamp.map(log.versionAtOrBefore))
    val snapshot = log.snapshot(resolved)
    val listing = new SnapshotListing(spark, tablePath, snapshot)
    // advanced reader features need the wrapping relation (DV filter /
    // physical->logical rename); plain tables stay a bare HadoopFsRelation
    if (snapshot.files.exists(_.deletionVector.isDefined) ||
      graft.model.ColumnMapping.isEnabled(snapshot.metadata))
      new GraftScanRelation(spark, listing)
    else new GraftFileIndex(spark, listing).relation
  }

  /** Remote mode: `option("url", "http://host:port/delta-sharing")` +
    * `option("table", "share.schema.table")` [+ `token`, `versionAsOf`,
    * `timestampAsOf`] — reads a table served by [[graft.server.GraftServer]]
    * over the REST protocol, scan bytes flowing through pre-signed URLs +
    * [[GraftFileSystem]] (the reference's batch path, SURVEY §3.1).
    */
  private def createRemoteRelation(
      spark: SparkSession,
      parameters: Map[String, String]): BaseRelation = {
    val (share, schema, table) = splitFqn(parameters)
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "at most one of versionAsOf/timestampAsOf may be set")
    GraftFileSystem.register(spark)
    val client = GraftDataSource.remoteClient(parameters)
    if (parameters.get("readChangeFeed").exists(_.toBoolean)) {
      // same dialect negotiation as the snapshot path: a DV/column-mapped
      // table refuses the parquet /changes (the relation's first request)
      // with the typed 400 — read its raw delta actions instead
      def relation(delta: Boolean) = new GraftChangeRelation(spark,
        new RemoteChanges(spark, client, share, schema, table, delta), parameters)
      return try relation(delta = false) catch {
        case e: graft.client.GraftClientException if e.isUnsupportedOperation =>
          relation(delta = true)
      }
    }
    val versionAsOf = parameters.get("versionAsOf").map(_.toLong)
    val timestampAsOf = parameters.get("timestampAsOf")
    try {
      new GraftFileIndex(spark,
        new QueryListing(client, share, schema, table, versionAsOf, timestampAsOf)).relation
    } catch {
      // tables with advanced reader features refuse responseformat=parquet
      // with the protocol's typed 400 — renegotiate in the delta dialect
      case e: graft.client.GraftClientException if e.isUnsupportedOperation =>
        new GraftScanRelation(spark,
          new DeltaQueryListing(client, share, schema, table, versionAsOf, timestampAsOf))
    }
  }
}

object GraftDataSource {
  /** REST client from remote-mode options: `url` [+ `token`, or OAuth
    * client credentials via `clientId`/`clientSecret` (+ optional
    * `tokenEndpoint`)]; `asyncQuery=true` opts snapshot queries into the
    * async submit+poll protocol.
    */
  private[sources] def remoteClient(parameters: Map[String, String]): graft.client.GraftRestClient =
    new graft.client.GraftRestClient(
      parameters("url"), parameters.get("token"),
      oauth = for {
        id <- parameters.get("clientId")
        secret <- parameters.get("clientSecret")
      } yield (id, secret),
      tokenEndpoint = parameters.get("tokenEndpoint"),
      oauthScope = parameters.get("oauthScope"),
      asyncQuery = parameters.get("asyncQuery").exists(_.toBoolean),
      asyncPollIntervalMs =
        parameters.get("asyncQueryPollIntervalMs").map(_.toLong).getOrElse(10000L),
      asyncMaxDurationMs =
        parameters.get("asyncQueryMaxDurationMs").map(_.toLong).getOrElse(600000L))
}
