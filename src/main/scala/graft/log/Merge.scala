package graft.log

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.model._

/** MERGE INTO (upsert) for graft- and Delta-format tables.
  *
  * The reference system is read-only, so this is a beyond-parity writer
  * operation; semantics follow the public Delta Lake MERGE contract
  * (delta PROTOCOL + DeltaMergeInto docs): the target is aliased `t`, the
  * source `s`, `condition` is a SQL expression over both; matched rows may
  * be deleted (`whenMatchedDeleteIf`, evaluated first) or updated
  * (`whenMatchedUpdate`), unmatched source rows inserted
  * (`whenNotMatchedInsert`). Each merge commits ONE new table version with
  * full CDF capture (insert / update_preimage / update_postimage / delete
  * cdc rows), so downstream CDF readers and incremental-maintenance
  * pipelines observe the merge row-by-row.
  *
  * Scale design (the part that matters at 100 TB):
  *  - **Affected-file pruning.** Only files that contain at least one
  *    matched target row are rewritten; the semi-join that finds them and
  *    the rewrite both read those files only, so IO is proportional to
  *    the touched fraction of the table, not its size. A merge of a
  *    small delta into a huge table rewrites a handful of files.
  *  - **Broadcast-friendly joins.** All three joins (semi for affected
  *    files, inner for matches, anti for inserts) share the same
  *    condition; when the source fits under the broadcast threshold,
  *    Catalyst broadcasts it and NO target shuffle happens at all.
  *  - **Duplicate-match validation** (ambiguous MERGE is an error per the
  *    SQL standard and Delta): detected with one aggregation over the
  *    matched pairs only — cost proportional to matches, not table size.
  */
object Merge {

  /** Outcome of a [[merge]]: the committed version and row counts per
    * clause (counts are read from the cdc rows that were committed, so
    * they are exactly what CDF consumers will see).
    */
  case class Result(version: Long, inserted: Long, updated: Long, deleted: Long)

  /** Run a MERGE into `tablePath`.
    *
    * @param condition join condition over aliases `t` (target) and `s`
    *   (source), e.g. `"t.pk = s.pk"`.
    * @param whenMatchedUpdate column → SQL expression over `t`/`s` applied
    *   to matched rows that were not deleted, e.g.
    *   `Map("qty" -> "t.qty + s.qty")`. Unlisted columns keep `t`'s value.
    * @param whenMatchedDeleteIf SQL condition over `t`/`s`; matched rows
    *   satisfying it are deleted (evaluated before the update clause).
    *   `Some("true")` deletes every matched row.
    * @param whenNotMatchedInsert column → SQL expression over `s` for
    *   source rows matching no target row. Unlisted target columns become
    *   NULL. `None` drops unmatched source rows.
    */
  def merge(
      spark: SparkSession,
      tablePath: String,
      source: DataFrame,
      condition: String,
      whenMatchedUpdate: Option[Map[String, String]] = None,
      whenMatchedDeleteIf: Option[String] = None,
      whenNotMatchedInsert: Option[Map[String, String]] = None,
      timestamp: Long = 0L): Result = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    // appendOnly allows the insert clause but never matched-row rewrites
    if (whenMatchedUpdate.isDefined || whenMatchedDeleteIf.isDefined)
      TableBuilder.assertNotAppendOnly(prev.metadata, s"MERGE with matched clauses on $tablePath")
    require(prev.metadata.partitionColumns.isEmpty,
      s"merge supports non-partitioned tables (got ${prev.metadata.partitionColumns})")
    // DV-carrying files are supported: bitmaps apply scan-side, so the
    // group rewrite never resurrects DV-deleted rows and rewritten files
    // drop the descriptors. Column-mapped tables read physical names and
    // rename to logical so `condition`/clause expressions resolve; the
    // rewrite renames back before writing.
    val scan = new graft.sources.SnapshotListing(spark, tablePath, prev)
    val version = logR.latestVersion() + 1
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(root).toUri
    def emptyTarget: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], prev.schema)
    val targetCols = prev.schema.fieldNames.toSeq
    // target row with `assignments` applied, disambiguated by alias —
    // never withColumn on a joined frame (both sides may share names)
    def applyOverT(df: DataFrame, assignments: Map[String, String]): DataFrame =
      df.select(targetCols.map(c =>
        assignments.get(c).map(e => expr(e).cast(prev.schema(c).dataType))
          .getOrElse(col(s"t.$c")).as(c)): _*)

    val src = source.alias("s").cache()
    try {
      // ---- 1. affected files: those holding >=1 matched target row ----
      val active = scan.readLive(prev.files.map(_.path))
        .withColumn("__file", input_file_name())
      val affectedUris = active.alias("t")
        .join(src, expr(condition), "left_semi")
        .select("__file").distinct().collect().map(_.getString(0)).toSet
      val affectedRel = prev.files.map(_.path)
        .filter(rel => affectedUris.exists(u => new java.net.URI(u).getPath ==
          new Path(root, rel).toUri.getPath))

      // matched-target rows live only in affected files, so every join
      // below reads those files, never the whole table
      val affected =
        (if (affectedRel.isEmpty) emptyTarget
         else scan.readLive(affectedRel))
          .withColumn("__uid", monotonically_increasing_id())
          .alias("t").cache()

      // ---- 2. clause application over the three join legs ----
      val matched = affected.join(src, expr(condition), "inner").cache()
      val dupes = matched.groupBy(col("t.__uid")).count()
        .filter(col("count") > 1).limit(1).count()
      require(dupes == 0L,
        "MERGE: multiple source rows matched the same target row — the " +
          "result would be ambiguous (same contract as Delta/SQL MERGE)")

      val deleteCond = whenMatchedDeleteIf.map(c => coalesce(expr(c), lit(false)))
      val deletedRows = deleteCond.map(matched.filter(_)).getOrElse(matched.limit(0))
      val updatable = deleteCond.map(c => matched.filter(!c)).getOrElse(matched)
      val updatedPost = whenMatchedUpdate.map(applyOverT(updatable, _))
      // no update clause: matched-but-not-deleted rows copy through as-is
      val matchedKeep =
        if (whenMatchedUpdate.isDefined) emptyTarget
        else updatable.select(targetCols.map(c => col(s"t.$c")): _*)
      // anti join keeps left-side columns only — no alias prefix needed
      val untouched = affected.join(src, expr(condition), "left_anti")
        .select(targetCols.map(col): _*)
      val inserts = whenNotMatchedInsert.map { as =>
        src.join(affected, expr(condition), "left_anti")
          .select(targetCols.map(c =>
            as.get(c).map(e => expr(e).cast(prev.schema(c).dataType))
              .getOrElse(lit(null).cast(prev.schema(c).dataType)).as(c)): _*)
      }.getOrElse(emptyTarget)

      // CHECK constraints guard the rows MERGE introduces (inserts and
      // update postimages); untouched/copied-through rows were validated
      // when first written
      val rewritten = (Seq(untouched, matchedKeep,
        Constraints.enforce(inserts, prev.metadata, s"MERGE INSERT into $tablePath")) ++
        updatedPost.map(
          Constraints.enforce(_, prev.metadata, s"MERGE UPDATE of $tablePath")))
        .reduce(_ unionByName _)

      // ---- 3. write data + cdc, commit one version ----
      val before = TableBuilder.collectParquet(fs, fs.makeQualified(root))
        .map(_.getPath.toUri).toSet
      scan.layout.toPhysical(rewritten).write.mode("append").parquet(tablePath)
      val adds = TableBuilder.scanDataFiles(
        spark, tablePath, scan.layout.physical, Nil, version, timestamp,
        onlyRelPaths = Some(TableBuilder.newRelPaths(fs, root, before)))

      val ct = GraftCDF.CHANGE_TYPE
      val cdc = Seq(
        deletedRows.select(targetCols.map(c => col(s"t.$c")): _*)
          .withColumn(ct, lit("delete")),
        updatedPost.map(_.withColumn(ct, lit("update_postimage")))
          .getOrElse(emptyTarget.withColumn(ct, lit("update_postimage")).limit(0)),
        (if (whenMatchedUpdate.isDefined)
           updatable.select(targetCols.map(c => col(s"t.$c")): _*)
         else emptyTarget)
          .withColumn(ct, lit("update_preimage")),
        inserts.withColumn(ct, lit("insert"))
      ).map(_.select((targetCols :+ ct).map(col): _*)).reduce(_ unionByName _)
      val cdcDir = s"$tablePath/${"_cdc"}/v$version"
      scan.layout.toPhysical(cdc).write.mode("overwrite").parquet(cdcDir)
      val cdcFiles = TableBuilder.collectParquetIncludingHidden(fs, new Path(cdcDir))
        .map { st =>
          AddCDCFile(
            path = TableBuilder.relativize(qualifiedRoot,
              fs.makeQualified(st.getPath).toUri),
            size = st.getLen, version = version, timestamp = timestamp)
        }

      val removes = prev.files.filter(f => affectedRel.contains(f.path)).map(f =>
        RemoveFile(f.path, f.partitionValues, f.size, dataChange = true, version, timestamp))
      // merge rewrites are data-changing: new files get FRESH row ids
      val (stamped, domActs) =
        RowTracking.stamp(prev.metadata, prev.domains, version, adds)
      GraftLog.commit(tablePath, version, removes ++ stamped ++ cdcFiles ++ domActs,
        conf, operation = "MERGE")

      val counts = spark.read.parquet(cdcDir).groupBy(ct).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      affected.unpersist(); matched.unpersist()
      Result(version,
        inserted = counts.getOrElse("insert", 0L),
        updated = counts.getOrElse("update_postimage", 0L),
        deleted = counts.getOrElse("delete", 0L))
    } finally src.unpersist()
  }
}
