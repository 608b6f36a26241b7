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
    // end. Without column mapping `names` is the identity — one path.
    val cmMode = graft.model.ColumnMapping.mode(snap.metadata)
    val idMode = graft.model.ColumnMapping.isIdMode(snap.metadata)
    if (idMode) spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    val names = graft.model.ColumnMapping.nameMap(schema)
    val physSchema = graft.model.ColumnMapping.physicalSchema(schema, idMode)
    val tsByVersion = log.versionTimestamps().toMap
    val root = new Path(tablePath)
    lazy val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
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

      // Partition columns live in partitionValues, NOT in the files —
      // reading files with the full schema would silently yield NULL
      // partition columns. Group per distinct partitionValues and attach
      // the values as typed literals ("" ⇒ null, string cast to the
      // column type — same decode as GraftFileIndex.partitionRow).
      // Both file columns and partitionValues keys are PHYSICAL names.
      val partCols = snap.metadata.partitionColumns
      val physPartCols = partCols.map(c => names.getOrElse(c, c))
      val dataSchema = org.apache.spark.sql.types.StructType(
        physSchema.filterNot(f => physPartCols.contains(f.name)))
      def spellings(rel: String, blob: Array[Byte]): Seq[(String, Array[Byte])] =
        graft.sources.DvFilters
          .pathSpellings(fs.makeQualified(new Path(root, rel))).map(_ -> blob)
      def read(files: Seq[(String, Map[String, String])],
          withChangeType: Option[String],
          keep: Map[String, Array[Byte]] = Map.empty,
          drop: Map[String, Array[Byte]] = Map.empty) = {
        if (files.isEmpty) None
        else {
          val perPartition = files.groupBy(_._2).map { case (pv, grp) =>
            val paths = grp.map(f => resolve(f._1))
            val raw0 = withChangeType match {
              case Some(ct) =>
                spark.read.schema(dataSchema).parquet(paths: _*)
                  .withColumn(CHANGE_TYPE, lit(ct))
              case None => // cdc files carry _change_type in the data
                spark.read.schema(dataSchema.add(CHANGE_TYPE, "string"))
                  .parquet(paths: _*)
            }
            val raw1 = if (drop.isEmpty) raw0
              else graft.sources.DvFilters.filterDeleted(raw0, drop)
            val base = if (keep.isEmpty) raw1
              else graft.sources.DvFilters.selectDeleted(raw1, keep)
            partCols.zip(physPartCols).foldLeft(base) { case (df, (c, pc)) =>
              val raw = pv.getOrElse(pc, "")
              val v = if (raw == null || raw.isEmpty) lit(null) else lit(raw)
              df.withColumn(pc, v.cast(schema(c).dataType))
            }
          }.toSeq
          // rename physical -> the starting snapshot's logical names
          Some(perPartition.reduce(_.unionByName(_))
            .select((schema.map(f =>
              col(names.getOrElse(f.name, f.name)).as(f.name)) :+
              col(CHANGE_TYPE)): _*)
            .withColumn(COMMIT_VERSION, lit(commit.version))
            .withColumn(COMMIT_TIMESTAMP, lit(ts)))
        }
      }

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
          val insDrop = newAdds.flatMap(a => a.deletionVector.map(d =>
            spellings(a.path, DeletionVectors.resolveBytes(tablePath, d, hadoopConf)))
          ).flatten.toMap
          val remDrop = pureRemoves.flatMap(r => dvState.getOrElse(r.path, None).map(d =>
            spellings(r.path, DeletionVectors.resolveBytes(tablePath, d, hadoopConf)))
          ).flatten.toMap
          val diffs = dvUpdates.map { a =>
            val oldSet = bitmapOf(dvState(a.path))
            val newSet = bitmapOf(a.deletionVector)
            (a, newSet.diff(oldSet), oldSet.diff(newSet))
          }
          def diffKeep(sel: ((AddFile, Set[Long], Set[Long])) => Set[Long]) = {
            val hit = diffs.filter(d => sel(d).nonEmpty)
            (hit.map(d => d._1.path -> d._1.partitionValues),
              hit.flatMap(d =>
                spellings(d._1.path, RoaringBitmapArray(sel(d)).serialize())).toMap)
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
}
