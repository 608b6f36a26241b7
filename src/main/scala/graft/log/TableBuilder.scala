package graft.log

import java.net.URI

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._

/** Creates/extends graft shared tables from DataFrames.
  *
  * Data files are written with stock `df.write.parquet` (the reference is a
  * read-only system whose fixtures are likewise produced by ordinary
  * writers — `SURVEY.md` S13); we then synthesize the per-file actions:
  * relative path, size, partitionValues parsed from the directory layout,
  * and string-encoded min/max/nullCount stats per skippable column — the
  * exact inputs the protocol serves for data skipping
  * (reference `PROTOCOL.md:3908-4012`).
  *
  * Stats are computed in ONE distributed pass per commit
  * (`groupBy(input_file_name())` with partial aggregation) — no per-file
  * driver loops, so the build scales with executors, not files.
  */
object TableBuilder {

  /** Create a table at `tablePath` (version 0) from `df`.
    *
    * `deltaFormat = true` creates a REAL Delta Lake table (`_delta_log/`
    * JSON commits, parquet checkpoints every 10 commits) instead of a
    * graft-log table; every other builder operation then commits in Delta
    * format automatically (format detection), so the table stays readable
    * by any Delta reader.
    */
  def create(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionCols: Seq[String] = Nil,
      name: String = "",
      numFiles: Int = 0,
      configuration: Map[String, String] = Map.empty,
      deltaFormat: Boolean = false,
      clusterBy: Seq[String] = Nil): Unit = {
    // row-tracked tables additionally need deterministic names for the
    // materialized stable-id columns; explicit user values win
    val config =
      if (configuration.get(RowTracking.ENABLED_KEY).contains("true"))
        RowTracking.tableProperties(tablePath) ++ configuration
      else configuration
    // create-time data is the table's initial state: generated columns
    // are enforced; identity values provided here seed the watermark;
    // omitted DEFAULT columns fill before either
    val prepped = GeneratedColumns.prepareBatch(
      Defaults.prepareBatch(df, df.schema),
      df.schema, s"create of $tablePath", explicitOk = true)
    val checked = Constraints.enforce(prepped,
      graft.model.Metadata(id = "", configuration = config),
      s"create of $tablePath")
    val out = if (numFiles > 0) checked.repartition(numFiles) else checked
    out.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tablePath)
    // the overwrite wiped any previous log at this path
    GraftLog.invalidateListing(tablePath)
    val meta = graft.model.Metadata(
      id = java.util.UUID.nameUUIDFromBytes(tablePath.getBytes("UTF-8")).toString,
      name = name,
      schemaString = df.schema.json,
      partitionColumns = partitionCols,
      configuration = config,
      version = 0L)
    val adds = scanDataFiles(spark, tablePath, df.schema, partitionCols, version = 0L,
      config = config)
    // identity watermark seeds from the created files' stats
    val metaOut = GeneratedColumns.advanceWatermarks(meta, adds, 0L).getOrElse(meta)
    val (stamped, domActs) = RowTracking.stamp(metaOut, Map.empty, 0L, adds)
    // a clustered table declares its layout columns in the
    // delta.clustering domain; OPTIMIZE reclusters along them
    val clusterActs =
      if (clusterBy.isEmpty) Nil
      else {
        clusterBy.foreach(c => require(df.schema.fieldNames.contains(c),
          s"clusterBy column $c not in schema"))
        require(partitionCols.isEmpty,
          "clustered tables are unpartitioned (like zorder)")
        Seq(Clustering.domainFor(clusterBy))
      }
    GraftLog.commit(tablePath, 0L,
      Seq(Protocol(), metaOut) ++ stamped ++ domActs ++ clusterActs,
      spark.sessionState.newHadoopConf(), deltaFormat = deltaFormat,
      operation = "CREATE TABLE")
  }

  /** Append `df` as a new version; emits AddFile actions for the newly
    * written files only.
    *
    * `mergeSchema = true` (Delta's `option("mergeSchema","true")`):
    * columns of `df` the table does not have yet EXTEND the table schema
    * (appended as nullable; on column-mapped tables they get fresh
    * physical names and the next free column ids), and columns of the
    * table missing from `df` are filled with NULLs — the updated
    * metadata commits atomically with the data. Existing files are never
    * rewritten: scans project the merged schema over them and the parquet
    * reader yields NULL for absent columns. Type changes are still
    * refused in both modes.
    */
  def append(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      timestamp: Long = 0L,
      extraActions: Seq[Action] = Nil,
      mergeSchema: Boolean = false,
      operation: String = "WRITE"): Long = {
    import graft.model.ColumnMapping
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    val version = logR.latestVersion() + 1
    // generated/identity columns resolve BEFORE the compat check: a batch
    // legitimately omits them (they get computed/allocated here), and the
    // check below must see the completed batch schema
    val batch = GeneratedColumns.prepareBatch(
      Defaults.prepareBatch(df, prev.schema), prev.schema, s"append to $tablePath")
    val (schemaNow, metaAction) =
      if (!mergeSchema) {
        // a mismatched append would write parquet that silently breaks
        // every reader of the pinned table schema — refuse up front (same
        // contract the streaming schema-drift guard enforces on reads)
        graft.model.SchemaCompat.assertReadCompatible(
          prev.schema, batch.schema, s"append to $tablePath")
        // the read-compat check tolerates ADDED batch columns (fine for
        // readers); a writer silently dropping them is not fine — refuse,
        // same as Delta without mergeSchema
        val known = prev.schema.fieldNames.map(_.toLowerCase).toSet
        val extras = batch.schema.fieldNames.filterNot(n => known.contains(n.toLowerCase))
        require(extras.isEmpty,
          s"append to $tablePath: batch has columns the table lacks " +
            s"(${extras.mkString(", ")}); use mergeSchema = true to evolve the schema")
        (prev.schema, None)
      } else {
        val existing = prev.schema.fieldNames.map(_.toLowerCase).toSet
        val fresh = batch.schema.fields
          .filterNot(f => existing.contains(f.name.toLowerCase))
          .map(_.copy(nullable = true))
        // common columns: types must match exactly and table-promised
        // non-nullability must hold (mergeSchema adds columns, it never
        // relaxes what existing readers rely on)
        prev.schema.fields.foreach { tf =>
          batch.schema.fields.find(_.name.equalsIgnoreCase(tf.name)).foreach { dfF =>
            require(dfF.dataType == tf.dataType,
              s"mergeSchema append to $tablePath: column ${tf.name} has type " +
                s"${dfF.dataType.simpleString}, table has ${tf.dataType.simpleString}")
            require(tf.nullable || !dfF.nullable,
              s"mergeSchema append to $tablePath: column ${tf.name} is nullable " +
                "in the batch but non-nullable in the table")
          }
        }
        if (fresh.isEmpty) (prev.schema, None)
        else {
          val annotated =
            if (!ColumnMapping.isEnabled(prev.metadata)) fresh
            else {
              val maxId = prev.schema.fields.map(f =>
                if (f.metadata.contains(ColumnMapping.COLUMN_ID_KEY))
                  f.metadata.getLong(ColumnMapping.COLUMN_ID_KEY)
                else 0L).foldLeft(0L)(math.max)
              fresh.zipWithIndex.map { case (f, i) =>
                // seed the uuid with the fresh column ID too: a column
                // dropped and later re-added must get a NEW physical name
                // (the old bytes in existing files must never resurface)
                val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
                  s"${f.name}#${maxId + i + 1}".getBytes("UTF-8"))
                f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putString(ColumnMapping.PHYSICAL_NAME_KEY, phys)
                  .putLong(ColumnMapping.COLUMN_ID_KEY, maxId + i + 1)
                  .build())
              }
            }
          val merged = StructType(prev.schema.fields ++ annotated)
          (merged,
            Some(prev.metadata.copy(schemaString = merged.json, version = version)))
        }
      }
    val metadataNow = metaAction.getOrElse(prev.metadata)
    val partitionCols = metadataNow.partitionColumns
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    // column-mapped tables: files and partition dirs carry PHYSICAL names
    val names = ColumnMapping.nameMap(schemaNow)
    val physSchema = ColumnMapping.physicalSchema(
      schemaNow, ColumnMapping.isIdMode(metadataNow))
    val physPartitionCols = partitionCols.map(c => names.getOrElse(c, c))
    // CHECK constraints see logical names (and may reference the
    // generated/identity columns resolved above) — the assert rides the
    // same codegen pipeline as the write
    val checked = Constraints.enforce(batch, metadataNow, s"append to $tablePath")
    val provided = batch.schema.fieldNames.map(_.toLowerCase).toSet
    val out = checked.select(schemaNow.fields.toIndexedSeq.map { f =>
      val phys = names.getOrElse(f.name, f.name)
      // carry the physical field metadata (incl. parquet.field.id in id
      // mode, so the written files stay id-addressable)
      val src =
        if (provided.contains(f.name.toLowerCase)) col(f.name)
        else lit(null).cast(f.dataType) // mergeSchema: absent column → NULL
      src.as(phys, physSchema(phys).metadata)
    }: _*)
    // CONCURRENT-SAFE write: stage the batch in a private `_staging-*`
    // dir (underscore ⇒ invisible to scans and to other writers'
    // inventories), then rename the unique-named part files into the
    // table. Racing appends never share a FileOutputCommitter _temporary
    // dir, and each commit claims EXACTLY the files it moved — a
    // before/after directory diff would misattribute a concurrent
    // writer's files.
    val staging = new Path(root, s"_staging-${java.util.UUID.randomUUID()}")
    val moved: Set[String] =
      try {
        out.write.mode("overwrite")
          .partitionBy(physPartitionCols: _*).parquet(staging.toString)
        val stagingUri = fs.makeQualified(staging).toUri
        collectParquet(fs, fs.makeQualified(staging)).map { st =>
          val rel = relativize(stagingUri, st.getPath.toUri)
          val target = new Path(root, rel)
          fs.mkdirs(target.getParent)
          require(fs.rename(st.getPath, target),
            s"failed to move staged file $rel into $tablePath")
          rel
        }.toSet
      } finally fs.delete(staging, true)
    val adds = scanDataFiles(spark, tablePath, physSchema, physPartitionCols, version,
      timestamp, onlyRelPaths = Some(moved), config = metadataNow.configuration,
      nameMap = names)
    // identity watermark updates (or explicit identity values) make the
    // append a metadata-updating txn — its generated values were derived
    // from a snapshot watermark and cannot be rebased without rewriting
    val advancesIdentity = GeneratedColumns.identities(schemaNow).nonEmpty
    // OPTIMISTIC commit: an append is a blind write — racing appends all
    // succeed; actions are re-derived per attempt so version stamps,
    // row-id ranges (fresh snapshot domains), and watermarks stay exact.
    // extraActions ride the SAME commit — the exactly-once sink's txn
    // watermark must be atomic with the files it covers; a mergeSchema
    // metadata update likewise commits atomically with its data
    GraftLog.commitWithRebase(tablePath, conf,
      GraftLog.CommitProfile(
        isBlindAppend = true,
        updatesMetadata = metaAction.isDefined || advancesIdentity,
        txnAppIds = extraActions.collect { case t: graft.model.Txn => t.appId }.toSet),
      operation = operation) {
      (snap, v) =>
        val restamped = adds.map(_.copy(version = v, timestamp = timestamp))
        val (stamped, domActs) =
          RowTracking.stamp(metadataNow, snap.domains, v, restamped)
        // identity high watermarks advance from the written files' stats
        // and ride the same commit (merged onto any mergeSchema update)
        val metaOut = GeneratedColumns.advanceWatermarks(
          metaAction.map(_.copy(version = v)).getOrElse(metadataNow), restamped, v)
          .orElse(metaAction.map(_.copy(version = v)))
        metaOut.toSeq ++ stamped ++ extraActions ++ domActs
    }
  }

  /** ALTER TABLE ADD COLUMNS: extend the table schema with new nullable
    * columns in a metadata-only commit (no data IO; existing files read
    * the new columns as NULL). Column-mapped tables assign fresh physical
    * names/ids via the same machinery [[append]]'s mergeSchema uses.
    */
  def addColumns(
      spark: SparkSession,
      tablePath: String,
      columns: Seq[(String, org.apache.spark.sql.types.DataType)],
      timestamp: Long = 0L,
      defaults: Map[String, String] = Map.empty): Long = {
    require(columns.nonEmpty, "addColumns: no columns given")
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    val existing = prev.schema.fieldNames.map(_.toLowerCase).toSet
    columns.foreach { case (n, _) =>
      require(!existing.contains(n.toLowerCase),
        s"addColumns: column $n already exists on $tablePath")
    }
    defaults.keys.foreach(n => require(columns.exists(_._1.equalsIgnoreCase(n)),
      s"addColumns: DEFAULT for unknown column $n"))
    val version = logR.latestVersion() + 1
    import graft.model.ColumnMapping
    val fresh = columns.map { case (n, t) =>
      val f = org.apache.spark.sql.types.StructField(n, t, nullable = true)
      // ADD COLUMN ... DEFAULT v: both keys get v — existing rows read it
      // (EXISTS_DEFAULT, frozen here) and future partial inserts fill it
      // (CURRENT_DEFAULT, mutable via setColumnDefault)
      defaults.collectFirst { case (dn, sql) if dn.equalsIgnoreCase(n) => sql }
        .map(Defaults.annotate(f, _)).getOrElse(f)
    }
    val annotated =
      if (!ColumnMapping.isEnabled(prev.metadata)) fresh
      else {
        val maxId = prev.schema.fields.map(f =>
          if (f.metadata.contains(ColumnMapping.COLUMN_ID_KEY))
            f.metadata.getLong(ColumnMapping.COLUMN_ID_KEY)
          else 0L).foldLeft(0L)(math.max)
        fresh.zipWithIndex.map { case (f, i) =>
          // id-seeded uuid: a dropped-then-re-added column gets a fresh
          // physical name, never the dropped one's bytes
          val phys = "col-" + java.util.UUID.nameUUIDFromBytes(
            s"${f.name}#${maxId + i + 1}".getBytes("UTF-8"))
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ColumnMapping.PHYSICAL_NAME_KEY, phys)
            .putLong(ColumnMapping.COLUMN_ID_KEY, maxId + i + 1)
            .build())
        }
      }
    val merged = StructType(prev.schema.fields ++ annotated)
    GraftLog.commit(tablePath, version, Seq(prev.metadata.copy(
      schemaString = merged.json, version = version)), conf,
      operation = "ADD COLUMNS")
    version
  }

  /** Guard shared by rename/drop: the column must not be load-bearing
    * for CHECK constraints or generation expressions (delta refuses the
    * same way — the stored SQL would silently break), and schema surgery
    * needs column mapping (without it, data files are addressed by
    * LOGICAL name and old files would misread).
    */
  private def assertColumnSurgeryAllowed(
      meta: graft.model.Metadata, column: String, op: String): Unit = {
    require(ColumnMapping.isEnabled(meta),
      s"$op needs column mapping (delta.columnMapping.mode) — without it " +
        "data files are addressed by logical column name and existing " +
        "files would be misread")
    val word = ("""\b""" + java.util.regex.Pattern.quote(column) + """\b""").r
    Constraints.of(meta).foreach { case (n, sql) =>
      require(word.findFirstIn(sql).isEmpty,
        s"$op: column $column is referenced by CHECK constraint $n ($sql)")
    }
    val schema = org.apache.spark.sql.types.DataType.fromJson(meta.schemaString)
      .asInstanceOf[StructType]
    GeneratedColumns.generation(schema).foreach { case (n, sql) =>
      require(n == column || word.findFirstIn(sql).isEmpty,
        s"$op: column $column is referenced by generated column $n ($sql)")
    }
  }

  /** ALTER TABLE ALTER COLUMN ... SET DEFAULT / DROP DEFAULT: a
    * metadata-only commit that changes CURRENT_DEFAULT (what future
    * partial inserts receive) and deliberately leaves EXISTS_DEFAULT
    * frozen — already-written rows keep the value they were created
    * under (the delta default-columns contract).
    */
  def setColumnDefault(
      spark: SparkSession,
      tablePath: String,
      column: String,
      defaultSql: Option[String],
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    val version = logR.latestVersion() + 1
    val updated = Defaults.withCurrentDefault(prev.schema, column, defaultSql)
    GraftLog.commit(tablePath, version, Seq(prev.metadata.copy(
      schemaString = updated.json, version = version)), conf,
      operation = "CHANGE COLUMN")
    version
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES: update table configuration in a
    * metadata-only commit (`Some(v)` sets, `None` unsets). The delta
    * feature semantics ride the existing commit machinery — enabling ICT
    * or CDF upgrades the protocol on delta-format tables automatically.
    * Guarded transitions:
    *
    *  - `delta.columnMapping.mode` none→name performs the delta UPGRADE:
    *    every existing column is annotated with physical name = its
    *    logical name (existing files already spell columns that way, so
    *    reads stay correct) and a fresh column id; later ADD/RENAME/DROP
    *    then use fresh physical names. Any other mode change refuses.
    *  - `delta.enableRowTracking` cannot turn on for a table that already
    *    has files (the existing rows would need a backfill commit to get
    *    ids — serving unid'd rows as tracked would be wrong).
    */
  def setProperties(
      spark: SparkSession,
      tablePath: String,
      props: Map[String, Option[String]],
      timestamp: Long = 0L): Long = {
    require(props.nonEmpty, "setProperties: no properties given")
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    val before = prev.metadata.configuration
    val after = props.foldLeft(before) {
      case (cfg, (k, Some(v))) => cfg + (k -> v)
      case (cfg, (k, None))    => cfg - k
    }
    import graft.model.ColumnMapping
    val modeBefore = before.getOrElse(ColumnMapping.MODE_KEY, "none")
    val modeAfter = after.getOrElse(ColumnMapping.MODE_KEY, "none")
    val schemaOut =
      if (modeBefore == modeAfter) prev.schema
      else {
        require(modeBefore == "none" && modeAfter == "name",
          s"setProperties: column-mapping mode change $modeBefore -> $modeAfter " +
            "not supported (only the none -> name upgrade is)")
        StructType(prev.schema.fields.zipWithIndex.map { case (f, i) =>
          require(!f.metadata.contains(ColumnMapping.PHYSICAL_NAME_KEY),
            s"setProperties: column ${f.name} already carries a physical name")
          f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(ColumnMapping.PHYSICAL_NAME_KEY, f.name)
            .putLong(ColumnMapping.COLUMN_ID_KEY, i + 1L)
            .build())
        })
      }
    val rtBefore = before.get(RowTracking.ENABLED_KEY).contains("true")
    val rtAfter = after.get(RowTracking.ENABLED_KEY).contains("true")
    require(rtBefore || !rtAfter || prev.files.isEmpty,
      "setProperties: cannot enable row tracking on a table that already " +
        "has files (existing rows have no ids; backfill is not supported)")
    val withMaxId =
      if (modeBefore == modeAfter) after
      else after + ("delta.columnMapping.maxColumnId" -> prev.schema.length.toString)
    val version = logR.latestVersion() + 1
    GraftLog.commit(tablePath, version, Seq(prev.metadata.copy(
      schemaString = schemaOut.json, configuration = withMaxId,
      version = version)), conf, operation = "SET TBLPROPERTIES")
    version
  }

  /** ALTER TABLE ALTER COLUMN ... TYPE: widen a column's declared type in
    * a metadata-only commit ([[TypeWidening]]). Existing files keep their
    * narrow physical type and upcast at read; the first widening upgrades
    * a delta-format table to the `typeWidening` feature-gated protocol.
    * Partition columns are refused — their values live as path strings
    * whose lexicographic file layout is typed, and delta refuses them too.
    */
  def widenColumnType(
      spark: SparkSession,
      tablePath: String,
      column: String,
      to: org.apache.spark.sql.types.DataType,
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    val field = prev.schema.fields.find(_.name.equalsIgnoreCase(column))
      .getOrElse(throw new IllegalArgumentException(
        s"widenColumnType: no column $column on $tablePath"))
    require(!prev.metadata.partitionColumns.exists(_.equalsIgnoreCase(column)),
      s"widenColumnType: $column is a partition column")
    require(TypeWidening.canWiden(field.dataType, to),
      s"widenColumnType: ${field.dataType.simpleString} -> ${to.simpleString} " +
        "is not a supported widening (see TypeWidening.canWiden)")
    val version = logR.latestVersion() + 1
    val widened = StructType(prev.schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(column)) TypeWidening.widenField(f, to, version)
      else f))
    GraftLog.commit(tablePath, version, Seq(prev.metadata.copy(
      schemaString = widened.json, version = version)), conf,
      operation = "CHANGE COLUMN")
    version
  }

  /** ALTER TABLE RENAME COLUMN: metadata-only on column-mapped tables —
    * the logical name changes, the physical name and column id stay, so
    * no file is touched and every existing file keeps reading correctly.
    */
  def renameColumn(
      spark: SparkSession,
      tablePath: String,
      from: String,
      to: String,
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    require(prev.schema.fieldNames.contains(from),
      s"renameColumn: no column $from on $tablePath")
    require(!prev.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"renameColumn: column $to already exists on $tablePath")
    assertColumnSurgeryAllowed(prev.metadata, from, "RENAME COLUMN")
    val version = logR.latestVersion() + 1
    val renamed = StructType(prev.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    val parts = prev.metadata.partitionColumns.map(c => if (c == from) to else c)
    GraftLog.commit(tablePath, version, Seq(prev.metadata.copy(
      schemaString = renamed.json, partitionColumns = parts,
      version = version)), conf, operation = "RENAME COLUMN")
    version
  }

  /** ALTER TABLE DROP COLUMN(S): metadata-only on column-mapped tables —
    * the field leaves the schema; the bytes stay in the files and are
    * simply never projected again (delta's contract; a later re-ADD of
    * the same logical name gets a FRESH physical name, so the old bytes
    * can never resurface).
    */
  def dropColumns(
      spark: SparkSession,
      tablePath: String,
      columns: Seq[String],
      timestamp: Long = 0L): Long = {
    require(columns.nonEmpty, "dropColumns: no columns given")
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    columns.foreach { c =>
      require(prev.schema.fieldNames.contains(c),
        s"dropColumns: no column $c on $tablePath")
      require(!prev.metadata.partitionColumns.contains(c),
        s"dropColumns: $c is a partition column")
      assertColumnSurgeryAllowed(prev.metadata, c, "DROP COLUMN")
    }
    require(columns.size < prev.schema.fields.length,
      s"dropColumns: cannot drop every column of $tablePath")
    val version = logR.latestVersion() + 1
    val remaining = StructType(
      prev.schema.fields.filterNot(f => columns.contains(f.name)))
    GraftLog.commit(tablePath, version, Seq(prev.metadata.copy(
      schemaString = remaining.json, version = version)), conf,
      operation = "DROP COLUMNS")
    version
  }


  /** Relative paths of parquet files on disk that are NOT in `beforeUris`
    * — the files a just-finished write produced (stats scope for
    * [[scanDataFiles]]'s O(commit) contract).
    */
  private[graft] def newRelPaths(
      fs: org.apache.hadoop.fs.FileSystem,
      root: Path,
      beforeUris: Set[java.net.URI]): Set[String] = {
    val rootUri = fs.makeQualified(root).toUri
    collectParquet(fs, fs.makeQualified(root))
      .filter(st => !beforeUris.contains(st.getPath.toUri))
      .map(st => relativize(rootUri, st.getPath.toUri)).toSet
  }

  /** Logically remove the files whose paths satisfy `pred` (new version
    * with RemoveFile actions — file-granularity delete, like OPTIMIZE /
    * partition drop in the reference's model).
    */
  /** `delta.appendOnly` tables refuse every data-changing removal or
    * rewrite of existing rows (the delta contract; layout-only rewrites
    * with `dataChange=false` — compact/zorder — stay allowed).
    */
  private[graft] def assertNotAppendOnly(meta: graft.model.Metadata, op: String): Unit =
    require(!meta.configuration.get("delta.appendOnly").contains("true"),
      s"$op refused: table is delta.appendOnly=true " +
        "(existing rows cannot be deleted or modified)")

  def removeFiles(
      spark: SparkSession,
      tablePath: String,
      pred: graft.model.AddFile => Boolean,
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    assertNotAppendOnly(prev.metadata, s"removeFiles on $tablePath")
    val version = logR.latestVersion() + 1
    val removes = prev.files.filter(pred).map(a =>
      RemoveFile(a.path, a.partitionValues, a.size, dataChange = true, version, timestamp))
    GraftLog.commit(tablePath, version, removes, conf, operation = "DELETE")
    version
  }

  /** Row-level DELETE with CDF capture: rewrites the files containing
    * matching rows (RemoveFile + AddFile of survivors) and emits a cdc
    * file of the deleted rows (`_change_type='delete'`). Non-partitioned
    * tables only (the CDF fixtures).
    */
  def deleteWhere(
      spark: SparkSession,
      tablePath: String,
      cond: org.apache.spark.sql.Column,
      timestamp: Long = 0L): Long =
    rewrite(spark, tablePath, cond, timestamp, operation = "DELETE") { matching =>
      (None, matching.withColumn(GraftCDF.CHANGE_TYPE, lit("delete")))
    }

  /** Delta's `replaceWhere` overwrite, atomically in ONE commit: every
    * row of the table matching `cond` is deleted, `df` is appended, and
    * every NEW row must itself satisfy `cond` (refused row-by-row inside
    * the write pipeline, the delta contract — an overwrite that smuggles
    * rows outside its declared region would silently corrupt concurrent
    * readers' assumptions). Works on unpartitioned tables (partial files
    * rewrite their survivors) and hive-partitioned tables (`basePath`
    * scan resolves partition columns, so a partition-predicate replace
    * drops whole files — the classic overwrite-one-date shape). CDF
    * captures delete preimages + insert rows; CHECK constraints and
    * generated/identity columns apply to the new data; row-tracked
    * tables allocate fresh ids above the watermark.
    */
  def replaceWhere(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      cond: org.apache.spark.sql.Column,
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    assertNotAppendOnly(prev.metadata, s"replaceWhere on $tablePath")
    val version = logR.latestVersion() + 1
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(root).toUri
    val scan = new graft.sources.SnapshotListing(spark, tablePath, prev)
    val layout = scan.layout
    // basePath read: partition columns resolve from directory names even
    // though data files do not store them
    def readLive(relPaths: Seq[String]): DataFrame = scan.readLive(relPaths, basePath = true)

    val condTrue = coalesce(cond, lit(false))
    val affectedRel: Seq[String] =
      if (prev.files.isEmpty) Nil
      else {
        val active = readLive(prev.files.map(_.path))
          .withColumn("__file", input_file_name())
        val uris = active.filter(condTrue).select("__file").distinct()
          .collect().map(_.getString(0)).toSet
        prev.files.map(_.path).filter(rel => uris.exists(u =>
          new java.net.URI(u).getPath == new Path(root, rel).toUri.getPath))
      }

    // new data: must satisfy the predicate, then the normal write gates
    val inRegion = df.filter(coalesce(
      assert_true(condTrue,
        concat(lit(s"replaceWhere on $tablePath: row outside the replaced " +
          "region: "), to_json(struct(col("*"))))), lit(true)))
    val prepared = Constraints.enforce(
      GeneratedColumns.prepareBatch(
        Defaults.prepareBatch(inRegion, prev.schema),
        prev.schema, s"replaceWhere on $tablePath"),
      prev.metadata, s"replaceWhere on $tablePath")
    graft.model.SchemaCompat.assertReadCompatible(
      prev.schema, prepared.schema, s"replaceWhere on $tablePath")

    val survivors =
      if (affectedRel.isEmpty) None
      else Some(readLive(affectedRel).filter(!condTrue))
    val before = collectParquet(fs, fs.makeQualified(root)).map(_.getPath.toUri).toSet
    val outDf = survivors.map(_.unionByName(prepared.select(
      prev.schema.fieldNames.toIndexedSeq.map(col): _*)))
      .getOrElse(prepared.select(prev.schema.fieldNames.toIndexedSeq.map(col): _*))
    layout.toPhysical(outDf).write.mode("append")
      .partitionBy(layout.physicalPartitionColumns: _*).parquet(tablePath)
    val adds = scanDataFiles(spark, tablePath, layout.physical,
      layout.physicalPartitionColumns, version, timestamp,
      onlyRelPaths = Some(newRelPaths(fs, root, before)),
      config = prev.metadata.configuration, nameMap = layout.names)

    // CDF: deleted preimages (the matched rows) + inserted rows
    val ct = GraftCDF.CHANGE_TYPE
    val deletes =
      if (affectedRel.isEmpty) None
      else Some(readLive(affectedRel).filter(condTrue)
        .withColumn(ct, lit("delete")))
    val inserts = prepared.select(prev.schema.fieldNames.toIndexedSeq.map(col): _*)
      .withColumn(ct, lit("insert"))
    val cdc = deletes.map(_.unionByName(inserts)).getOrElse(inserts)
    val cdcDir = s"$tablePath/${"_cdc"}/v$version"
    layout.toPhysical(cdc).write.mode("overwrite").parquet(cdcDir)
    val cdcFiles = collectParquetIncludingHidden(fs, new Path(cdcDir)).map { st =>
      AddCDCFile(
        path = relativize(qualifiedRoot, st.getPath.toUri),
        size = st.getLen, version = version, timestamp = timestamp)
    }

    val removes = prev.files.filter(f => affectedRel.contains(f.path)).map(f =>
      RemoveFile(f.path, f.partitionValues, f.size, dataChange = true, version, timestamp))
    val (stamped, domActs) = RowTracking.stamp(prev.metadata, prev.domains, version, adds)
    val metaOut = GeneratedColumns.advanceWatermarks(prev.metadata, adds, version)
    GraftLog.commit(tablePath, version,
      metaOut.toSeq ++ removes ++ stamped ++ cdcFiles ++ domActs, conf,
      operation = "WRITE")
    version
  }

  /** Row-level UPDATE with CDF capture: matching rows get `assignments`
    * applied; cdc carries update_preimage + update_postimage rows.
    */
  def updateWhere(
      spark: SparkSession,
      tablePath: String,
      cond: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      timestamp: Long = 0L): Long =
    rewrite(spark, tablePath, cond, timestamp, operation = "UPDATE") { matching =>
      val updated = assignments.foldLeft(matching) { case (df, (c, e)) => df.withColumn(c, e) }
      val cdc = matching.withColumn(GraftCDF.CHANGE_TYPE, lit("update_preimage"))
        .unionByName(updated.withColumn(GraftCDF.CHANGE_TYPE, lit("update_postimage")))
      (Some(updated), cdc)
    }

  /** Row-level DELETE via DELETION VECTORS: no data file is rewritten —
    * each affected file's deleted row indexes are appended to a DV file
    * and the add action re-committed with the descriptor (delta's
    * `DELETE ... ` under `delta.enableDeletionVectors`). Existing DVs
    * merge (a file's new DV carries ALL its deleted rows). Non-partitioned
    * tables (the fixtures), like [[deleteWhere]].
    *
    * Scale shape: row indexes NEVER reach the driver. One distributed
    * pass finds matching (file, row_index), a per-file aggregation builds
    * and serializes each roaring bitmap IN THE EXECUTORS (merging the
    * file's existing DV from a broadcast of the snapshot's KB-sized
    * blobs), and the driver collects one (path, blob, cardinality) row
    * per AFFECTED FILE — the same KB-per-file metadata scale as the
    * commit itself, no matter how many rows a broad DELETE touches.
    */
  def deleteWhereDV(
      spark: SparkSession,
      tablePath: String,
      cond: org.apache.spark.sql.Column,
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    assertNotAppendOnly(prev.metadata, s"deleteWhereDV on $tablePath")
    require(prev.metadata.partitionColumns.isEmpty,
      "deleteWhereDV supports non-partitioned tables")
    val version = logR.latestVersion() + 1
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)

    // executor-side blob build; ONE collected row per affected file
    val blobs = dvBlobs(spark, tablePath, prev, cond).collect()

    val byAbs = prev.files
      .map(f => new Path(root, f.path).toUri.getPath -> f).toMap
    val affected = blobs.flatMap(r => byAbs.get(new URI(r.getString(0)).getPath))
    if (affected.isEmpty) {
      GraftLog.commit(tablePath, version, Nil, conf, operation = "DELETE")
      return version
    }
    val blobByRel: Map[String, (Array[Byte], Long)] = blobs.flatMap { r =>
      byAbs.get(new URI(r.getString(0)).getPath)
        .map(f => f.path -> ((r.getAs[Array[Byte]](1), r.getLong(2))))
    }.toMap
    val descriptors =
      DeletionVectors.writeBlobs(tablePath, blobByRel, conf, salt = version.toString)

    val actions = Seq.newBuilder[Action]
    if (!prev.metadata.configuration.get("delta.enableDeletionVectors").contains("true"))
      actions += prev.metadata.copy(
        configuration = prev.metadata.configuration +
          ("delta.enableDeletionVectors" -> "true"),
        version = version)
    affected.foreach { f =>
      actions += RemoveFile(f.path, f.partitionValues, f.size,
        dataChange = true, version, timestamp)
      actions += f.copy(deletionVector = Some(descriptors(f.path)),
        version = version, timestamp = timestamp)
    }
    GraftLog.commit(tablePath, version, actions.result(), conf,
      operation = "DELETE")
    version
  }

  /** Distributed deletion-vector construction for [[deleteWhereDV]]: a
    * DataFrame with ONE row per affected file — `__fp` (absolute data-file
    * path), `__blob` (serialized roaring bitmap of ALL the file's deleted
    * rows, its pre-existing DV merged in), `__card` (bitmap cardinality).
    * Row indexes are aggregated per file and the bitmap serialized
    * EXECUTOR-side; the snapshot's existing DV blobs (KB-sized metadata)
    * ride a broadcast. Collecting this frame ships KBs per file, never a
    * row per deleted row. Column-mapped tables are read with physical
    * names then renamed so `cond` (logical names) resolves.
    */
  private[graft] def dvBlobs(
      spark: SparkSession,
      tablePath: String,
      prev: Snapshot,
      cond: org.apache.spark.sql.Column): DataFrame = {
    import graft.model.RoaringBitmapArray
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    def abs(rel: String): String = new Path(root, rel).toString
    val existing: Map[String, Array[Byte]] = prev.files.flatMap { f =>
      f.deletionVector.map(dv =>
        new Path(root, f.path).toUri.getPath ->
          DeletionVectors.resolveBytes(tablePath, dv, conf))
    }.toMap
    val bc = spark.sparkContext.broadcast(existing)
    val layout = graft.sources.Layout.of(prev.metadata)
    layout.prepare(spark)
    layout.toLogical(
      spark.read.schema(layout.physical).parquet(prev.files.map(f => abs(f.path)): _*),
      col("_metadata.file_path").as("__fp"), col("_metadata.row_index").as("__ri"))
      .filter(coalesce(cond, lit(false)))
      .groupBy(col("__fp"))
      .agg(collect_list(col("__ri")).as("__ris"))
      .as[(String, Seq[Long])]
      .map { case (fp, ris) =>
        val prior = bc.value.get(new URI(fp).getPath)
          .map(b => RoaringBitmapArray.deserialize(b).toSeq).getOrElse(Nil)
        val bm = RoaringBitmapArray(prior ++ ris)
        (fp, bm.serialize(), bm.cardinality)
      }
      .toDF("__fp", "__blob", "__card")
  }

  /** Create a COLUMN-MAPPED (name mode) table: parquet files and partition
    * directories carry deterministic physical names (`col-<uuid>`), the
    * committed metadata speaks logical names with
    * `delta.columnMapping.physicalName` per field — so a later rename
    * would be a metadata-only commit.
    */
  def createColumnMapped(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      partitionCols: Seq[String] = Nil,
      name: String = "",
      numFiles: Int = 0,
      configuration: Map[String, String] = Map.empty): Unit = {
    import graft.model.ColumnMapping
    val logical = ColumnMapping.annotate(df.schema)
    val names = ColumnMapping.nameMap(logical)
    val physDf = df.select(df.columns.toIndexedSeq.map(c => col(c).as(names(c))): _*)
    val physPartitionCols = partitionCols.map(names)
    val out = if (numFiles > 0) physDf.repartition(numFiles) else physDf
    out.write.mode("overwrite").partitionBy(physPartitionCols: _*).parquet(tablePath)
    GraftLog.invalidateListing(tablePath)
    val meta = graft.model.Metadata(
      id = java.util.UUID.nameUUIDFromBytes(tablePath.getBytes("UTF-8")).toString,
      name = name,
      schemaString = logical.json,
      partitionColumns = partitionCols, // logical names, like delta
      configuration = configuration ++ Map(
        ColumnMapping.MODE_KEY -> "name",
        "delta.columnMapping.maxColumnId" -> df.schema.length.toString),
      version = 0L)
    val adds = scanDataFiles(spark, tablePath,
      ColumnMapping.physicalSchema(logical), physPartitionCols, version = 0L,
      config = meta.configuration, nameMap = names)
    GraftLog.commit(tablePath, 0L, Seq(Protocol(minReaderVersion = 2), meta) ++ adds,
      spark.sessionState.newHadoopConf(), operation = "CREATE TABLE")
  }

  /** Shared rewrite machinery: `transform(matchingRows)` returns
    * (replacement rows to keep for the matches, cdc rows with
    * `_change_type`). Affected files are found via `input_file_name()`
    * (one distributed pass), only those are rewritten.
    */
  /** OPTIMIZE-style file compaction: bin-pack small active files (per
    * partition) into ~`targetBytes` rewrites and commit the swap with
    * `dataChange = false` — the delta compaction contract. Readers of the
    * new snapshot see fewer, larger files (the 100 TB small-file problem:
    * scan tasks, FileIndex listings, and shuffle fan-out all scale with
    * file count); streaming sources and CDF skip the commit entirely
    * because no ROW changed (`GraftSource`/`GraftCDF`/`serveChangeLines`
    * all filter on `dataChange`). Old files stay on disk, so time travel
    * below the compaction version still reads them.
    *
    * Binning is deterministic (path order, greedy first-fit), so repeated
    * runs converge. DV-carrying files are ALWAYS compaction candidates
    * (regardless of size): the rewrite applies their deletion vectors and
    * drops the descriptors — Delta's OPTIMIZE contract, and exactly the
    * maintenance a DV-maintained table needs most. Logical rows are
    * unchanged (the DV'd rows were already deleted), so `dataChange =
    * false` stays correct. Rejects column-mapped tables — a physical
    * rewrite would need physical-name mapping.
    */
  def compact(
      spark: SparkSession,
      tablePath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      timestamp: Long = 0L): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    // column-mapped tables compact ENTIRELY in physical-name space — the
    // bin-pack never evaluates user predicates, so no rename round-trip
    val scan = new graft.sources.SnapshotListing(spark, tablePath, prev)
    val layout = scan.layout
    layout.prepare(spark)
    val partitionCols = prev.metadata.partitionColumns
    val physPartitionCols = layout.physicalPartitionColumns
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    def abs(rel: String): String = new Path(root, rel).toString

    val bins: Seq[Seq[AddFile]] = prev.files
      .filter(f => f.size < targetBytes || f.deletionVector.isDefined)
      .groupBy(_.partitionValues)
      .toSeq.sortBy(_._1.toSeq.sorted.mkString("|"))
      .flatMap { case (_, inPart) =>
        val packed = scala.collection.mutable.ArrayBuffer.empty[Vector[AddFile]]
        var cur = Vector.empty[AddFile]
        var size = 0L
        inPart.sortBy(_.path).foreach { f =>
          if (cur.nonEmpty && size + f.size > targetBytes) {
            packed += cur; cur = Vector(f); size = f.size
          } else { cur :+= f; size += f.size }
        }
        if (cur.nonEmpty) packed += cur
        // singleton bins only matter when purging a DV (rewrite the file
        // without its deleted rows); plain singletons are already compact
        packed.filter(b => b.size >= 2 || b.exists(_.deletionVector.isDefined))
      }
    if (bins.isEmpty) return logR.latestVersion() // nothing to do: no commit

    val version = logR.latestVersion() + 1
    val tracked = RowTracking.enabled(prev.metadata)
    val dataSchema0 = layout.dataSchema
    // layout-only rewrite of a row-tracked table: read (or fall back to
    // fresh-derive) the stable id/commit-version and MATERIALIZE them
    // into the rewritten files, so `dataChange = false` keeps its promise
    val dataSchema =
      if (tracked) RowTracking.rewriteReadSchema(prev.metadata, dataSchema0)
      else dataSchema0
    val before = collectParquet(fs, fs.makeQualified(root)).map(_.getPath.toUri).toSet
    bins.foreach { bin =>
      val raw = spark.read.schema(dataSchema).parquet(bin.map(f => abs(f.path)): _*)
      // apply the deletion vectors scan-side — rewritten files carry no DV
      val live = graft.sources.ScanCore.filterDeleted(raw, scan.dvBitmaps)
      val df =
        if (tracked)
          RowTracking.materializeForRewrite(spark, tablePath, prev.metadata, bin, live)
        else live
      // data files don't store partition columns; re-attach them from the
      // bin's partition values ("" ⇒ null per the partition-codec rule) so
      // partitionBy routes the rewrite into the same directory. Values
      // are keyed (and directories named) by PHYSICAL column name.
      val withParts = partitionCols.zip(physPartitionCols).foldLeft(df) {
        case (d, (c, pc)) =>
          val t = prev.schema(c).dataType
          val v = bin.head.partitionValues.getOrElse(pc, null)
          d.withColumn(pc,
            (if (v == null || v.isEmpty) lit(null) else lit(v)).cast(t))
      }
      withParts.coalesce(1).write.mode("append")
        .partitionBy(physPartitionCols: _*).parquet(tablePath)
    }
    val adds = scanDataFiles(spark, tablePath, layout.physical, physPartitionCols, version,
      timestamp, onlyRelPaths = Some(newRelPaths(fs, root, before)),
      config = prev.metadata.configuration, nameMap = layout.names)
      .map(_.copy(dataChange = false))
    val (stamped, domActs) = RowTracking.stamp(prev.metadata, prev.domains, version, adds)
    val removes = bins.flatten.map(f =>
      RemoveFile(f.path, f.partitionValues, f.size, dataChange = false, version, timestamp))
    GraftLog.commit(tablePath, version, stamped ++ removes ++ domActs, conf,
      operation = "OPTIMIZE")
    version
  }

  /** OPTIMIZE ZORDER BY: rewrite the table clustered along a Morton
    * (Z-order) space-filling curve over `cols`, so every clustering
    * column's min/max file stats become selective at once — a filter on
    * ANY of the columns prunes most files, where a plain sort layout
    * only serves its leading column. (Public algorithm: Delta OPTIMIZE
    * ZORDER; Morton 1966.)
    *
    * Pipeline (all distributed, no driver data movement):
    *  1. one `approxQuantile` pass computes 255 equi-depth boundaries per
    *     column — quantile (not uniform) bucketing keeps the curve even
    *     under value skew;
    *  2. a narrow projection maps each row to its interleaved-bits key:
    *     [[graft.functions.QuantileBin]] is a native codegen expression
    *     (binary search per row, whole-stage codegen), so the pass is
    *     scan-speed;
    *  3. `repartitionByRange` + `sortWithinPartitions` on the key lay
    *     rows out in curve order across `numFiles` files.
    *
    * Commits with `dataChange = false` (layout-only, like [[compact]]):
    * streaming tails and CDF readers skip the rewrite. Numeric columns
    * only (timestamps/strings would need an order-preserving encode).
    */
  def zorder(
      spark: SparkSession,
      tablePath: String,
      cols: Seq[String],
      numFiles: Int = 0,
      bins: Int = 256,
      timestamp: Long = 0L,
      curve: String = "morton",
      subset: Option[Vector[graft.model.AddFile]] = None): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    require(prev.metadata.partitionColumns.isEmpty,
      "zorder clusters unpartitioned tables (hive partitions already give " +
        "directory-level pruning on their columns)")
    require(cols.nonEmpty && cols.forall(c =>
      prev.schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]),
      s"zorder needs numeric columns, got ${cols.map(c => s"$c:${prev.schema(c).dataType.simpleString}").mkString(", ")}")
    // incremental clustering rewrites only `subset` (the files outside
    // well-formed cubes) into ONE new cube; everything else is untouched
    // — OPTIMIZE cost proportional to NEW data, not table size (the
    // delta OPTIMIZE ZCube model)
    val targets = subset.getOrElse(prev.files)
    subset.foreach { s =>
      val known = prev.files.map(_.path).toSet
      require(s.forall(f => known.contains(f.path)),
        "zorder subset contains files not in the current snapshot")
    }
    if (targets.isEmpty) return logR.latestVersion()

    // column-mapped tables cluster in physical-name space: only the
    // clustering columns need the logical→physical translation
    val scan = new graft.sources.SnapshotListing(spark, tablePath, prev)
    val layout = scan.layout
    layout.prepare(spark)
    val physCols = cols.map(layout.physicalName)

    val version = logR.latestVersion() + 1
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    def abs(rel: String): String = new Path(root, rel).toString
    // apply any deletion vectors scan-side: the clustered rewrite drops
    // both the deleted rows and the descriptors (layout-only, rows
    // logically unchanged — dataChange=false stays correct)
    val tracked = RowTracking.enabled(prev.metadata)
    val readSchema =
      if (tracked) RowTracking.rewriteReadSchema(prev.metadata, layout.physical)
      else layout.physical
    val live = graft.sources.ScanCore.filterDeleted(
      spark.read.schema(readSchema).parquet(targets.map(f => abs(f.path)): _*),
      scan.dvBitmaps)
    // layout-only rewrite: carry the stable id/commit-version through the
    // clustering as materialized columns (same contract as compact)
    val active =
      if (tracked)
        RowTracking.materializeForRewrite(spark, tablePath, prev.metadata, targets, live)
      else live

    val probs = (1 until bins).map(_.toDouble / bins).toArray
    val castCols = cols.map(c => s"__zin_${c}")
    val forQuant = physCols.zip(castCols).foldLeft(active) { case (d, (c, cc)) =>
      d.withColumn(cc, col(c).cast("double")) }
    val boundaries = forQuant.stat.approxQuantile(castCols.toArray, probs, 0.001)
    val bitsPerCol = 32 - Integer.numberOfLeadingZeros(bins - 1) // log2(bins)
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val binExprs = physCols.zip(boundaries).map { case (c, b) =>
      column(graft.functions.QuantileBin(expression(col(c).cast("double")), b))
    }
    val zkey = curve match {
      case "morton"  => graft.functions.ZOrderKey(binExprs, bitsPerCol)
      case "hilbert" => graft.functions.HilbertKey(binExprs, bitsPerCol)
      case other => throw new IllegalArgumentException(s"unknown curve $other")
    }

    val n = if (numFiles > 0) numFiles else targets.size
    val before = collectParquet(fs, fs.makeQualified(root)).map(_.getPath.toUri).toSet
    active.withColumn("__z", zkey)
      .repartitionByRange(n, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("append").parquet(tablePath)
    // tag the rewrite's outputs as one cube (the delta OPTIMIZE tag
    // spelling) — incremental clustering recognizes well-formed cubes by
    // these and leaves them alone on the next OPTIMIZE
    val cubeTags = Map(
      Clustering.TAG_CUBE_ID -> java.util.UUID.randomUUID().toString,
      Clustering.TAG_CUBE_COLS -> Clustering.colsTagValue(cols),
      Clustering.TAG_CUBE_CURVE -> curve)
    val adds = scanDataFiles(spark, tablePath, layout.physical, Nil, version,
      timestamp, onlyRelPaths = Some(newRelPaths(fs, root, before)),
      config = prev.metadata.configuration, nameMap = layout.names)
      .map(_.copy(dataChange = false, tags = Some(cubeTags)))
    val (stamped, domActs) = RowTracking.stamp(prev.metadata, prev.domains, version, adds)
    val removes = targets.map(f =>
      RemoveFile(f.path, f.partitionValues, f.size, dataChange = false, version, timestamp))
    GraftLog.commit(tablePath, version, stamped ++ removes ++ domActs, conf,
      operation = "OPTIMIZE")
    version
  }

  /** VACUUM: physically delete data files no longer referenced by the
    * current snapshot whose tombstone (RemoveFile) is older than
    * `retentionMs` relative to `nowMs` — the Delta vacuum contract. Time
    * travel below the retention horizon stops working for vacuumed files
    * (by design); everything still referenced is untouched:
    *
    *  - active files of the CURRENT snapshot (always kept);
    *  - files tombstoned at/after the cutoff (kept so concurrent readers
    *    of recent versions finish their scans);
    *  - deletion-vector `.bin` blobs referenced by any active file;
    *  - CDC capture files and the transaction log (never vacuumed).
    *
    * Like Delta's vacuum, BOTH time travel and CDF ranges below the
    * horizon stop being servable once their data files are gone — the
    * log still describes them, the bytes no longer exist.
    *
    * Driver-side O(files-on-disk) metadata work, like Delta's vacuum
    * listing. Returns the number of deleted files.
    */
  def vacuum(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long,
      nowMs: Long): Int = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val snap = logR.snapshot(None)
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val rootUri = fs.makeQualified(root).toUri
    val cutoff = nowMs - retentionMs

    val active = snap.files.map(_.path).toSet
    val activeDvBins = snap.files.flatMap(_.deletionVector)
      .flatMap(dv => Option(dv.pathOrInlineDv)).toSet
    // every tombstone with ts >= cutoff protects its file
    val recentTombstones = logR.listVersions().flatMap(logR.readVersion).collect {
      case r: RemoveFile if r.timestamp >= cutoff => r.path
    }.toSet

    // Delta's untracked-file retention rule: a file NEWER than the
    // retention horizon is kept even when no log entry references it —
    // an in-flight append/compact/rewrite writes its data files BEFORE
    // committing, and a vacuum racing that writer must not delete them
    // (the subsequent commit would reference deleted data).
    val candidates = collectParquet(fs, fs.makeQualified(root))
      .filter(_.getModificationTime < cutoff)
      .map(st => relativize(rootUri, st.getPath.toUri))
      .filterNot(rel => active(rel) || recentTombstones(rel) ||
        activeDvBins(rel))
    candidates.foreach(rel => fs.delete(new Path(root, rel), false))
    candidates.size
  }

  /** Delta-style log cleanup (`delta.logRetentionDuration` semantics):
    * delete commit files BELOW the newest checkpoint whose commit
    * timestamp is older than `retentionMs` — the checkpoint anchors every
    * replay at/above it, so current reads are untouched while the log
    * directory stops growing O(forever). Time travel and CDF below the
    * horizon stop working (loudly — replay of a cleaned version fails,
    * never answers wrong), exactly Delta's trade.
    *
    * Superseded DELTA checkpoint files below the kept one are removed
    * too; graft-format checkpoints are kept because their timestamp
    * prefixes CHAIN through older checkpoints (GraftLog.CheckpointHeader)
    * — they are O(files) small and breaking the chain would degrade the
    * live checkpoint to full replay over deleted commits.
    *
    * Returns the number of deleted files.
    */
  def cleanupLogs(
      spark: SparkSession,
      tablePath: String,
      retentionMs: Long,
      nowMs: Long): Int =
    LogCleanup.cleanUpWithRetention(
      tablePath, spark.sessionState.newHadoopConf(), retentionMs, nowMs)

  private def rewrite(
      spark: SparkSession,
      tablePath: String,
      cond: org.apache.spark.sql.Column,
      timestamp: Long,
      operation: String = "WRITE")(
      transform: DataFrame => (Option[DataFrame], DataFrame)): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val logR = new GraftLog(tablePath, conf)
    val prev = logR.snapshot(None)
    assertNotAppendOnly(prev.metadata, s"row-level rewrite of $tablePath")
    require(prev.metadata.partitionColumns.isEmpty,
      "deleteWhere/updateWhere support non-partitioned tables")
    val version = logR.latestVersion() + 1
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val qualifiedRoot = fs.makeQualified(root).toUri

    // column-mapped tables: files carry PHYSICAL names. Read physical,
    // rename to logical so `cond`/`transform` (logical names) resolve,
    // rename back before writing. DV-carrying files are supported: their
    // bitmaps are applied scan-side, so the rewrite never resurrects
    // DV-deleted rows and the rewritten files drop the descriptors.
    val scan = new graft.sources.SnapshotListing(spark, tablePath, prev)
    val active = scan.readLive(prev.files.map(_.path))
      .withColumn("__file", input_file_name())

    val affectedUris = active.filter(cond).select("__file").distinct()
      .collect().map(_.getString(0)).toSet
    if (affectedUris.isEmpty) { // no-op change: still commit an empty version
      GraftLog.commit(tablePath, version, Nil, conf, operation = operation)
      return version
    }
    val affectedRel = prev.files.map(_.path)
      .filter(rel => affectedUris.exists(u => new java.net.URI(u).getPath ==
        new Path(root, rel).toUri.getPath))

    val affected = scan.readLive(affectedRel).cache()
    try {
      // NULL-condition rows must survive (SQL DELETE/UPDATE semantics):
      // `!cond` is NULL for them, and filter drops NULL — coalesce to
      // route them into survivors, never silently lose them.
      val condTrue = coalesce(cond, lit(false))
      val survivors = affected.filter(!condTrue)
      val matching = affected.filter(condTrue)
      val (replacement, cdcRows) = transform(matching)
      // CHECK constraints guard the rows this commit INTRODUCES (the
      // transform output); survivors were validated when first written
      val rewritten = replacement match {
        case Some(r) =>
          survivors.unionByName(
            Constraints.enforce(r, prev.metadata, s"rewrite of $tablePath"))
        case None => survivors
      }

      // new data files: diff the on-disk inventory on QUALIFIED uris
      // (unqualified Path.toUri has no scheme and would never match)
      val before = collectParquet(fs, fs.makeQualified(root)).map(_.getPath.toUri).toSet
      scan.layout.toPhysical(rewritten).write.mode("append").parquet(tablePath)
      val adds = scanDataFiles(spark, tablePath, scan.layout.physical, Nil, version,
        timestamp, onlyRelPaths = Some(newRelPaths(fs, root, before)),
        config = prev.metadata.configuration, nameMap = scan.layout.names)

      // cdc file(s) under _cdc/v<version>/ (underscore dir ⇒ invisible to
      // plain data scans; physical names + literal _change_type, the
      // delta cdc layout)
      val cdcDir = s"$tablePath/${"_cdc"}/v$version"
      scan.layout.toPhysical(cdcRows).write.mode("overwrite").parquet(cdcDir)
      val cdcFiles = collectParquetIncludingHidden(fs, new Path(cdcDir)).map { st =>
        AddCDCFile(
          path = relativize(qualifiedRoot, st.getPath.toUri),
          size = st.getLen, version = version, timestamp = timestamp)
      }

      val removes = prev.files.filter(f => affectedRel.contains(f.path)).map(f =>
        RemoveFile(f.path, f.partitionValues, f.size, dataChange = true, version, timestamp))
      // data-changing rewrite: surviving+transformed rows are new physical
      // rows — they get FRESH row ids (stable ids identify physical rows)
      val (stamped, domActs) = RowTracking.stamp(prev.metadata, prev.domains, version, adds)
      GraftLog.commit(tablePath, version, removes ++ stamped ++ cdcFiles ++ domActs,
        conf, operation = operation)
      version
    } finally affected.unpersist()
  }

  private[log] def collectParquetIncludingHidden(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq.filter(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet"))

  /** Build AddFile actions (with stats) for every parquet data file under
    * `tablePath`, excluding the log dir.
    */
  def scanDataFiles(
      spark: SparkSession,
      tablePath: String,
      schema: StructType,
      partitionCols: Seq[String],
      version: Long,
      timestamp: Long = 0L,
      onlyRelPaths: Option[Set[String]] = None,
      config: Map[String, String] = Map.empty,
      /** logical→physical top-level names (column-mapped tables) — the
        * data-skipping configs list LOGICAL names while `schema` here is
        * physical; without the translation the listed columns silently
        * collect no stats.
        */
      nameMap: Map[String, String] = Map.empty): Seq[AddFile] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(tablePath)
    val fs = root.getFileSystem(conf)
    val rootUri = fs.makeQualified(root).toUri

    // File inventory from the filesystem (size, mtime), scoped to the
    // commit's NEW files when the caller knows them — a streaming sink
    // appending a 1 MB micro-batch to a 100 TB table must compute stats
    // for that megabyte, never rescan the table (O(commit) per commit,
    // the same contract as the commit itself).
    val files = collectParquet(fs, fs.makeQualified(root))
      .filter(st => onlyRelPaths.forall(_.contains(relativize(rootUri, st.getPath.toUri))))
    if (files.isEmpty) return Nil
    val bySuffix = files.map { st =>
      relativize(rootUri, st.getPath.toUri) -> st
    }.toMap

    // One distributed stats pass over the whole commit. Partition values
    // come from the directory names (parsePartitionValues), so reading
    // the explicit file list — which drops hive-dir column inference —
    // loses nothing: statCols never include partition columns.
    val dataCols = schema.fields.filterNot(f => partitionCols.contains(f.name))
    // Stats scope (the delta data-skipping configs): an explicit
    // `delta.dataSkippingStatsColumns` list wins; otherwise the first
    // `delta.dataSkippingNumIndexedCols` schema columns (delta default
    // 32, -1 = all). On a 1000-column table, min/max/null for every
    // column makes the LOG the bottleneck — stats must be bounded to the
    // columns queries actually filter on. A column without stats is
    // simply never skipped (the 3-valued eval treats it as unknown),
    // so narrowing scope is always sound.
    val statsScope: StructField => Boolean =
      config.get("delta.dataSkippingStatsColumns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty)
          .map(n => nameMap.getOrElse(n, n)).toSet) match {
        case Some(listed) => f => listed.contains(f.name)
        case None =>
          val n = config.get("delta.dataSkippingNumIndexedCols")
            .map(_.trim.toInt).getOrElse(32)
          // the first-N window counts DATA columns only (delta's
          // numIndexedCols contract) — partition columns skip via
          // partitionValues, not stats, and must not eat window slots
          val dataNames = schema.fieldNames.filterNot(partitionCols.contains)
          val indexed =
            if (n < 0) dataNames.toSet
            else dataNames.take(n).toSet
          f => indexed.contains(f.name)
      }
    val statCols = dataCols.filter(f =>
      StatsCodec.typeName(f.dataType).isDefined && statsScope(f))
    val aggs =
      Seq(count(lit(1)).as("__num")) ++
        statCols.flatMap { f =>
          Seq(min(col(f.name)).as(s"__min_${f.name}"),
            max(col(f.name)).as(s"__max_${f.name}"),
            sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"__null_${f.name}"))
        }
    val statsInput =
      if (onlyRelPaths.isEmpty)
        spark.read.schema(fullSchema(schema, partitionCols)).parquet(tablePath)
      else
        spark.read.schema(fullSchema(schema, partitionCols))
          .parquet(files.map(_.getPath.toString): _*)
    val statsRows = statsInput
      .withColumn("__file", input_file_name())
      .groupBy(col("__file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()

    statsRows.toSeq.map { row =>
      val fileUri = new URI(row.getAs[String]("__file"))
      val rel = relativize(rootUri, fileUri)
      val st = bySuffix.getOrElse(rel,
        throw new IllegalStateException(s"file $rel not found under $tablePath"))
      val minVals = statCols.flatMap { f =>
        Option(row.getAs[Any](s"__min_${f.name}")).flatMap(StatsCodec.encode).map(f.name -> _)
      }.toMap
      val maxVals = statCols.flatMap { f =>
        Option(row.getAs[Any](s"__max_${f.name}")).flatMap(StatsCodec.encode).map(f.name -> _)
      }.toMap
      val nulls = statCols.map { f => f.name -> row.getAs[Long](s"__null_${f.name}") }.toMap
      AddFile(
        path = rel,
        partitionValues = parsePartitionValues(rel, partitionCols),
        size = st.getLen,
        modificationTime = st.getModificationTime,
        dataChange = true,
        stats = Some(FileStats(row.getAs[Long]("__num"), minVals, maxVals, nulls)),
        version = version,
        timestamp = timestamp)
    }.sortBy(_.path)
  }

  private def fullSchema(schema: StructType, partitionCols: Seq[String]): StructType =
    StructType(schema.fields.filterNot(f => partitionCols.contains(f.name)) ++
      schema.fields.filter(f => partitionCols.contains(f.name)))

  private[log] def collectParquet(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val (dirs, fileStatuses) = fs.listStatus(dir).toSeq
      .filterNot(_.getPath.getName.startsWith("_"))
      .partition(_.isDirectory)
    fileStatuses.filter(_.getPath.getName.endsWith(".parquet")) ++
      dirs.flatMap(d => collectParquet(fs, d.getPath))
  }

  private[log] def relativize(root: URI, file: URI): String = {
    val r = if (root.getPath.endsWith("/")) root.getPath else root.getPath + "/"
    val f = file.getPath
    require(f.startsWith(r), s"$f not under $r")
    f.substring(r.length)
  }

  /** `col=value/` path segments → partition values; "" and
    * `__HIVE_DEFAULT_PARTITION__` mean null ("" per `PROTOCOL.md:3896-3906`).
    */
  def parsePartitionValues(relPath: String, partitionCols: Seq[String]): Map[String, String] = {
    val segs = relPath.split("/").dropRight(1)
    val kvs = segs.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else {
        val k = seg.substring(0, i)
        val v = java.net.URLDecoder.decode(seg.substring(i + 1), "UTF-8")
        Some(k -> (if (v == "__HIVE_DEFAULT_PARTITION__") "" else v))
      }
    }.toMap
    partitionCols.map(c => c -> kvs.getOrElse(c, "")).toMap
  }
}
