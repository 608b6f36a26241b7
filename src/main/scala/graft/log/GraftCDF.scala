package graft.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.model._

/** Change Data Feed over the graft log (reference:
  * `DeltaSharingCDCReader.scala:191-297`, wire columns `PROTOCOL.md:
  * 2352-2362`, client assembly `RemoteDeltaCDFRelation.scala:85-139`).
  *
  * Per-version selection rule (reference `:244-292`): a version with
  * AddCDCFile actions contributes exactly its cdc files (which carry
  * `_change_type` per row); otherwise its Add/Remove actions are read as
  * whole-file inserts/deletes. `_commit_version`/`_commit_timestamp` are
  * stamped per version — the same synthetic-column trick the reference
  * plays via partition directories.
  */
object GraftCDF {

  val CHANGE_TYPE = "_change_type"
  val COMMIT_VERSION = "_commit_version"
  val COMMIT_TIMESTAMP = "_commit_timestamp"

  /** `schema` followed by the three CDF metadata columns. */
  def withCdfColumns(schema: StructType): StructType =
    schema.add(CHANGE_TYPE, StringType).add(COMMIT_VERSION, LongType)
      .add(COMMIT_TIMESTAMP, TimestampType)

  def isEnabled(meta: Metadata): Boolean =
    meta.configuration.get("enableChangeDataFeed").contains("true") ||
      // the real Delta table property (Delta-format logs carry this key)
      meta.configuration.get("delta.enableChangeDataFeed").contains("true")

  /** All row-level changes in `[start, end]`. */
  def tableChanges(
      spark: SparkSession,
      tablePath: String,
      startingVersion: Long,
      endingVersion: Option[Long] = None): DataFrame = {
    val log = new GraftLog(tablePath, spark.sessionState.newHadoopConf())
    val latest = log.latestVersion()
    val end = endingVersion.getOrElse(latest)
    require(startingVersion <= end,
      s"startingVersion($startingVersion) > endingVersion($end)")
    require(startingVersion <= latest,
      s"startingVersion($startingVersion) is after the latest version $latest")
    // The END boundary's schema reads every version in range: schema
    // evolution only widens what older files can express (added columns
    // null-fill, widened types upcast in place), so the end schema is the
    // one type all emitted rows share — the same choice delta's CDCReader
    // makes when the schema changed mid-range.
    val snap = log.snapshot(Some(end))
    // Enablement is policed PER VERSION below (delta's rule: every served
    // version must have had CDF on when it committed — a version written
    // while CDF was off has no capture, and serving synthesized changes
    // for it would be wrong). Seed the state as of the range start.
    var cdfOn = isEnabled(log.snapshot(Some(startingVersion)).metadata)
    require(cdfOn || isEnabled(snap.metadata),
      s"Change Data Feed is not enabled on table $tablePath " +
        "(set configuration enableChangeDataFeed=true, e.g. via " +
        "ALTER TABLE ... SET TBLPROPERTIES)")
    graft.model.ColumnMapping.assertNoAdvancedFeatures(
      snap.metadata, s"change data feed of $tablePath",
      allowCm = true, allowDv = true)

    val schema = snap.schema
    // Column mapping: files carry PHYSICAL names (and in id mode, parquet
    // field ids); partitionValues are keyed by physical name. Read
    // physical, rename to the starting snapshot's logical names at the
    // end. Without column mapping the layout is the identity — one path.
    val cmMode = graft.model.ColumnMapping.mode(snap.metadata)
    val scan = new graft.sources.SnapshotListing(spark, tablePath, snap)
    val layout = scan.layout
    layout.prepare(spark)
    val tsByVersion = log.versionTimestamps().toMap
    val root = new Path(tablePath)
    def resolve(p: String): String = new Path(root, p).toString

    // Per-file deletion-vector state while replaying (delta's CDCReader
    // derives row-level changes from DV diffs the same way): state BEFORE
    // the first replayed commit comes from the prior snapshot. A path is
    // immutable in the log, so re-adding a known path can only mean its
    // DV (or other metadata) changed — the row diff IS the change.
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dvState = scala.collection.mutable.HashMap.empty[
      String, Option[DeletionVectorDescriptor]]
    if (startingVersion > 0)
      log.snapshot(Some(startingVersion - 1)).files
        .foreach(f => dvState(f.path) = f.deletionVector)
    def bitmapOf(dv: Option[DeletionVectorDescriptor]): Set[Long] = dv match {
      case None => Set.empty
      case Some(d) => RoaringBitmapArray.deserialize(
        DeletionVectors.resolveBytes(tablePath, d, hadoopConf)).toSeq.toSet
    }

    val perVersion = log.changes(startingVersion, end).flatMap { commit =>
      commit.actions.foreach {
        case m: Metadata =>
          graft.model.ColumnMapping.assertNoAdvancedFeatures(
            m, s"change data feed of $tablePath (version ${commit.version})",
            allowCm = true, allowDv = true)
          // a mode flip mid-range would change how files in LATER
          // versions spell their columns — refuse rather than mis-read
          require(graft.model.ColumnMapping.mode(m) == cmMode,
            s"change data feed of $tablePath: column-mapping mode changed " +
              s"mid-range at version ${commit.version} ($cmMode -> " +
              s"${graft.model.ColumnMapping.mode(m)})")
        case _ => ()
      }
      // metadata in a commit governs that same commit's data actions
      commit.actions.foreach {
        case m: Metadata => cdfOn = isEnabled(m)
        case _           => ()
      }
      val cdc = commit.actions.collect { case c: AddCDCFile => c }
      val adds = commit.actions.collect { case a: AddFile if a.dataChange => a }
      val removes = commit.actions.collect { case r: RemoveFile if r.dataChange => r }
      require(cdfOn || (cdc.isEmpty && adds.isEmpty && removes.isEmpty),
        s"Change Data Feed of $tablePath: version ${commit.version} committed " +
          "while CDF was disabled — its row changes were never captured; " +
          "start the range after the enabling SET TBLPROPERTIES commit")
      val ts = new java.sql.Timestamp(tsByVersion(commit.version))

      def bitmaps(blobs: Seq[(String, Array[Byte])]): Map[String, Array[Byte]] =
        graft.sources.ScanCore.bySpelling(blobs.map { case (rel, b) => scan.qualified(rel) -> b })
      def read(files: Seq[(String, Map[String, String])],
          changeType: Option[String],
          keep: Map[String, Array[Byte]] = Map.empty,
          drop: Map[String, Array[Byte]] = Map.empty) =
        readChanges(spark, layout, files.map { case (p, pv) => resolve(p) -> pv },
          changeType, commit.version, ts, keep, drop)

      // Classify against the PRE-commit DV state. A dataChange add of a
      // known path is a DV-update-in-place: the rows newly set in its DV
      // are deletes, rows newly cleared are restored inserts. A remove of
      // a DV-carrying file deletes only its LIVE rows.
      val addedPaths = adds.map(_.path).toSet
      val newAdds = adds.filterNot(a => dvState.contains(a.path))
      val dvUpdates = adds.filter(a => dvState.contains(a.path))
      val pureRemoves = removes.filterNot(r => addedPaths.contains(r.path))

      val emitted: Seq[DataFrame] =
        if (cdc.nonEmpty) read(cdc.map(c => c.path -> c.partitionValues), None).toSeq
        else {
          val insDrop = bitmaps(newAdds.flatMap(a => a.deletionVector.map(d =>
            a.path -> DeletionVectors.resolveBytes(tablePath, d, hadoopConf))))
          val remDrop = bitmaps(pureRemoves.flatMap(r => dvState.getOrElse(r.path, None).map(d =>
            r.path -> DeletionVectors.resolveBytes(tablePath, d, hadoopConf))))
          val diffs = dvUpdates.map { a =>
            val oldSet = bitmapOf(dvState(a.path))
            val newSet = bitmapOf(a.deletionVector)
            (a, newSet.diff(oldSet), oldSet.diff(newSet))
          }
          def diffKeep(sel: ((AddFile, Set[Long], Set[Long])) => Set[Long]) = {
            val hit = diffs.filter(d => sel(d).nonEmpty)
            (hit.map(d => d._1.path -> d._1.partitionValues),
              bitmaps(hit.map(d => d._1.path -> RoaringBitmapArray(sel(d)).serialize())))
          }
          val (delFiles, delKeep) = diffKeep(_._2)
          val (resFiles, resKeep) = diffKeep(_._3)
          read(newAdds.map(a => a.path -> a.partitionValues), Some("insert"),
            drop = insDrop).toSeq ++
            read(pureRemoves.map(r => r.path -> r.partitionValues), Some("delete"),
              drop = remDrop).toSeq ++
            read(delFiles, Some("delete"), keep = delKeep).toSeq ++
            read(resFiles, Some("insert"), keep = resKeep).toSeq
        }

      // advance DV state with EVERY add/remove (dataChange=false compaction
      // swaps included — later commits may touch the swapped-in files)
      val allAdds = commit.actions.collect { case a: AddFile => a }
      val allAddPaths = allAdds.map(_.path).toSet
      allAdds.foreach(a => dvState(a.path) = a.deletionVector)
      commit.actions.collect {
        case r: RemoveFile if !allAddPaths.contains(r.path) => r
      }.foreach(r => dvState.remove(r.path))

      emitted
    }

    perVersion match {
      case Nil =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          withCdfColumns(schema))
      case dfs => dfs.reduce(_.unionByName(_))
    }
  }

  /** One commit's change rows from `files` (path, partition values keyed
    * by physical name): `changeType` stamps the rows of add and remove
    * files, cdc files carry their own; `drop` removes DV-deleted rows and
    * `keep` keeps only a DV diff's rows. Partition columns live in
    * partition values, not in the files — reading files with the full
    * schema would silently yield NULL partition columns — so they attach
    * per distinct partition as typed literals ("" ⇒ null). Columns come
    * back logical, stamped with the commit.
    */
  private[graft] def readChanges(
      spark: SparkSession,
      layout: graft.sources.Layout,
      files: Seq[(String, Map[String, String])],
      changeType: Option[String],
      version: Long,
      timestamp: java.sql.Timestamp,
      keep: Map[String, Array[Byte]] = Map.empty,
      drop: Map[String, Array[Byte]] = Map.empty): Option[DataFrame] =
    if (files.isEmpty) None
    else {
      import graft.sources.ScanCore
      val perPartition = files.groupBy(_._2).map { case (pv, grp) =>
        val paths = grp.map(_._1)
        val raw = changeType match {
          case Some(ct) =>
            spark.read.schema(layout.dataSchema).parquet(paths: _*)
              .withColumn(CHANGE_TYPE, lit(ct))
          case None => // cdc files carry _change_type in the data
            spark.read.schema(layout.dataSchema.add(CHANGE_TYPE, "string")).parquet(paths: _*)
        }
        val live = if (drop.isEmpty) raw else ScanCore.filterDeleted(raw, drop)
        val base = if (keep.isEmpty) live else ScanCore.selectDeleted(live, keep)
        layout.partitionColumns.zip(layout.physicalPartitionColumns).foldLeft(base) {
          case (df, (c, pc)) =>
            val v = pv.getOrElse(pc, "")
            df.withColumn(pc, (if (v == null || v.isEmpty) lit(null) else lit(v))
              .cast(layout.logical(c).dataType))
        }
      }.toSeq
      Some(layout.toLogical(perPartition.reduce(_.unionByName(_)), col(CHANGE_TYPE))
        .withColumn(COMMIT_VERSION, lit(version))
        .withColumn(COMMIT_TIMESTAMP, lit(timestamp)))
    }
}
