package graft.sources

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

import graft.client.{GraftRestClient, GraftUrlCache}
import graft.log.GraftCDF
import graft.model.RoaringBitmapArray
import graft.server.wire

/** Remote Change Data Feed in the DELTA response dialect — for tables the
  * parquet `/changes` refuses (deletion vectors, column mapping). The
  * server serves RAW per-version delta actions; row-level change
  * derivation happens CLIENT-side, mirroring [[graft.log.GraftCDF]]'s
  * local classifier:
  *
  *  - a version with cdc files serves them verbatim (typed rows);
  *  - a NEW file's rows are inserts (minus its DV, if born deleted);
  *  - a re-added KNOWN file is a DV-update-in-place: rows newly set in
  *    its DV are deletes, rows newly cleared are restored inserts — a
  *    merged-bitmap DIFF against the pre-commit state, which for the
  *    range start comes from one snapshot query at `startingVersion-1`;
  *  - a remove without re-add deletes the file's LIVE rows (DV-filtered).
  *
  * File identity across responses is the server's stable `fileId` (the
  * pre-signed URL changes per response, the id does not). Every served
  * file INSTANCE gets a version-scoped `graft://` id so the same physical
  * file read at two versions (different DV keep-sets) never collides in
  * the path-keyed DV filter.
  */
class RemoteDeltaCDFRelation(
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
    val res = client.deltaChanges(share, schemaName, table, params)
    val dm = res.metas.headOption.getOrElse(throw new IllegalStateException(
      s"no metaData line in delta changes response for $share.$schemaName.$table"))
    val startV = params.get("startingVersion").map(_.toLong).getOrElse(
      client.tableVersion(share, schemaName, table,
        startingTimestamp = params.get("startingTimestamp")))

    // pre-range DV state: the snapshot one version below the range start
    val dvState = mutable.HashMap.empty[String, Option[wire.DeltaDvW]]
    if (startV > 0)
      client.deltaQuery(share, schemaName, table,
        wire.QueryRequest(version = startV - 1)).files.foreach { f =>
        dvState(f.id) = Option(f.deltaSingleAction.add.deletionVector)
      }

    val groups = RemoteDeltaCDF.groupsOf(res.files)
    val urlKey = s"cdfdelta:$share.$schemaName.$table@$startV"
    GraftUrlCache.register(urlKey, RemoteDeltaCDF.urlEntries(groups),
      () => RemoteDeltaCDF.urlEntries(
        RemoteDeltaCDF.groupsOf(client.deltaChanges(share, schemaName, table, params).files)))
    RemoteDeltaCDF.assemble(spark, dm, groups, dvState)
  }

  override def sqlContext: SQLContext = spark.sqlContext

  override lazy val schema: StructType = df.schema
}

/** Shared delta-dialect remote-CDF assembly — used by the batch relation
  * above and by [[graft.streaming.RemoteGraftSource]]'s CDF mode on
  * DV/column-mapped tables.
  */
object RemoteDeltaCDF {

  /** One version's served delta actions. */
  case class Group(
      version: Long, timestamp: Long,
      cdc: Seq[wire.DeltaFileW],
      adds: Seq[wire.DeltaFileW],
      removes: Seq[wire.DeltaFileW]) {
    def nFiles: Int = if (cdc.nonEmpty) cdc.size else adds.size + removes.size
    def bytes: Long =
      if (cdc.nonEmpty) cdc.map(_.deltaSingleAction.cdc.size).sum
      else adds.map(_.deltaSingleAction.add.size).sum +
        removes.map(_.deltaSingleAction.remove.size).sum
  }

  private def wireV(f: wire.DeltaFileW): Long =
    Option(f.version).map(_.longValue()).getOrElse(-1L)
  private def wireTs(f: wire.DeltaFileW): Long =
    Option(f.timestamp).map(_.longValue()).getOrElse(0L)

  /** Version-scoped graft:// id for one served file instance (see class
    * doc — path-keyed DV filters must never collide across versions).
    */
  private def vid(f: wire.DeltaFileW): String = s"${f.id}~v${wireV(f)}"

  def groupsOf(files: Seq[wire.DeltaFileW]): Seq[Group] =
    files.groupBy(wireV).toSeq.sortBy(_._1).map { case (v, fs) =>
      Group(v, fs.map(wireTs).max,
        cdc = fs.filter(_.deltaSingleAction.cdc != null).sortBy(_.id),
        adds = fs.filter(_.deltaSingleAction.add != null).sortBy(_.id),
        removes = fs.filter(_.deltaSingleAction.remove != null).sortBy(_.id))
    }

  /** URL-cache entries for every file instance, keyed by version-scoped id. */
  def urlEntries(groups: Seq[Group]): Map[String, GraftUrlCache.Entry] =
    groups.flatMap { g =>
      def entry(f: wire.DeltaFileW, url: String) =
        GraftUrlCache.entry(vid(f), url, f.expirationTimestamp)
      g.cdc.map(f => entry(f, f.deltaSingleAction.cdc.path)) ++
        g.adds.map(f => entry(f, f.deltaSingleAction.add.path)) ++
        g.removes.map(f => entry(f, f.deltaSingleAction.remove.path))
    }.toMap

  private def bitmapOf(dv: Option[wire.DeltaDvW]): Set[Long] = dv match {
    case None => Set.empty
    case Some(d) =>
      RoaringBitmapArray.deserialize(ScanCore.fetchDvBytes(d))
        .toSeq.toSet
  }

  /** Assemble the change DataFrame for `groups`, evolving `dvState`
    * (fileId → descriptor) version by version. `dvState` must hold the
    * state just below the first group's version on entry; on return it
    * holds the state at the last group's version (streaming callers
    * thread it across micro-batches).
    */
  def assemble(
      spark: SparkSession,
      meta: wire.DeltaMetadataLine,
      groups: Seq[Group],
      dvState: mutable.HashMap[String, Option[wire.DeltaDvW]]): DataFrame = {

    val dm = meta.deltaMetadata
    val layout = Layout.ofWire(dm.schemaString, dm.partitionColumns, dm.configuration)
    layout.prepare(spark)

    def bitmaps(blobs: Seq[(wire.DeltaFileW, Long, Array[Byte])]): Map[String, Array[Byte]] =
      ScanCore.bySpelling(blobs.map { case (f, size, b) =>
        GraftFileSystem.encodePath(vid(f), size) -> b })

    val perVersion: Seq[DataFrame] = groups.flatMap { g =>
      val ts = new java.sql.Timestamp(g.timestamp)

      def read(files: Seq[(wire.DeltaFileW, Long, Map[String, String])],
          changeType: Option[String],
          keep: Map[String, Array[Byte]] = Map.empty,
          drop: Map[String, Array[Byte]] = Map.empty): Option[DataFrame] =
        GraftCDF.readChanges(spark, layout, files.map { case (f, size, pv) =>
          GraftFileSystem.encodePath(vid(f), size).toString -> pv
        }, changeType, g.version, ts, keep, drop)

      val addedIds = g.adds.map(_.id).toSet
      val newAdds = g.adds.filterNot(f => dvState.contains(f.id))
      val dvUpdates = g.adds.filter(f => dvState.contains(f.id))
      val pureRemoves = g.removes.filterNot(f => addedIds.contains(f.id))

      val emitted: Seq[DataFrame] =
        if (g.cdc.nonEmpty)
          read(g.cdc.map(f =>
            (f, f.deltaSingleAction.cdc.size, f.deltaSingleAction.cdc.partitionValues)),
            None).toSeq
        else {
          val insDrop = bitmaps(newAdds.flatMap { f =>
            Option(f.deltaSingleAction.add.deletionVector).map(d =>
              (f, f.deltaSingleAction.add.size, ScanCore.fetchDvBytes(d)))
          })
          val remDrop = bitmaps(pureRemoves.flatMap { f =>
            dvState.getOrElse(f.id, None).map(d =>
              (f, f.deltaSingleAction.remove.size, ScanCore.fetchDvBytes(d)))
          })
          val diffs = dvUpdates.map { f =>
            val oldSet = bitmapOf(dvState(f.id))
            val newSet = bitmapOf(Option(f.deltaSingleAction.add.deletionVector))
            (f, newSet.diff(oldSet), oldSet.diff(newSet))
          }
          def diffKeep(sel: ((wire.DeltaFileW, Set[Long], Set[Long])) => Set[Long]) = {
            val hit = diffs.filter(d => sel(d).nonEmpty)
            (hit.map(d => (d._1, d._1.deltaSingleAction.add.size,
              d._1.deltaSingleAction.add.partitionValues)),
              bitmaps(hit.map(d => (d._1, d._1.deltaSingleAction.add.size,
                RoaringBitmapArray(sel(d)).serialize()))))
          }
          val (delFiles, delKeep) = diffKeep(_._2)
          val (resFiles, resKeep) = diffKeep(_._3)
          read(newAdds.map(f =>
            (f, f.deltaSingleAction.add.size, f.deltaSingleAction.add.partitionValues)),
            Some("insert"), drop = insDrop).toSeq ++
            read(pureRemoves.map(f =>
              (f, f.deltaSingleAction.remove.size, f.deltaSingleAction.remove.partitionValues)),
              Some("delete"), drop = remDrop).toSeq ++
            read(delFiles, Some("delete"), keep = delKeep).toSeq ++
            read(resFiles, Some("insert"), keep = resKeep).toSeq
        }

      // advance state (the delta dialect serves dataChange actions; a
      // compaction's dataChange=false swaps don't ride change queries —
      // same contract as the parquet-dialect streaming path)
      g.adds.foreach(f => dvState(f.id) = Option(f.deltaSingleAction.add.deletionVector))
      g.removes.filterNot(f => addedIds.contains(f.id))
        .foreach(f => dvState.remove(f.id))

      emitted
    }

    perVersion match {
      case Nil =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          GraftCDF.withCdfColumns(layout.logical))
      case dfs => dfs.reduce(_.unionByName(_))
    }
  }
}
