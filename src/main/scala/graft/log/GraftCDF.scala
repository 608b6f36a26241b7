package graft.log

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampType}

import graft.model._

/** Change Data Feed over the graft log (reference:
  * `DeltaSharingCDCReader.scala:191-297`, wire columns `PROTOCOL.md:
  * 2352-2362`): the CDF columns, the enablement rule, the local entry
  * point and the per-commit read the change core
  * ([[graft.sources.ChangeCore]]) classifies into.
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

  /** All row-level changes in `[start, end]`: the local entry point to
    * the change core ([[graft.sources.LocalChanges]]).
    */
  def tableChanges(
      spark: SparkSession,
      tablePath: String,
      startingVersion: Long,
      endingVersion: Option[Long] = None): DataFrame =
    new graft.sources.LocalChanges(spark,
      new GraftLog(tablePath, spark.sessionState.newHadoopConf()))
      .changes(startingVersion, endingVersion)

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
