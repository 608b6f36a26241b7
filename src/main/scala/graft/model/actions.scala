package graft.model

/** Action/data model for the graft sharing engine.
  *
  * Mirrors the wire data model of the delta-sharing protocol (reference:
  * `server/src/main/scala/io/delta/sharing/server/model.scala:56-196`,
  * `PROTOCOL.md:3537-3733`) re-expressed as plain Scala case classes that
  * Spark can encode (`Encoders.product`) so file-action collections can be
  * processed as `Dataset[AddFile]` when set-oriented work helps.
  *
  * Conventions:
  *  - `partitionValues` are string-typed with `""` ⇒ null
  *    (reference `PROTOCOL.md:3896-3906`).
  *  - `stats` are string-encoded min/max/nullCount maps keyed by column
  *    name (reference `PROTOCOL.md:3908-4012`); encoding via [[StatsCodec]].
  */
sealed trait Action {
  /** Table version this action was committed at. */
  def version: Long
}

/** Per-file statistics used for data skipping and limit pushdown.
  * Values are string-encoded by column type ([[StatsCodec]]); a column
  * absent from the maps means "stats unknown" and must never cause a
  * file to be skipped (three-valued logic, see predicates package).
  */
case class FileStats(
    numRecords: Long,
    minValues: Map[String, String] = Map.empty,
    maxValues: Map[String, String] = Map.empty,
    nullCount: Map[String, Long] = Map.empty)

/** Deletion-vector descriptor attached to an [[AddFile]] (delta PROTOCOL
  * "Deletion Vectors"): rows of the data file whose index is set in the
  * bitmap are logically deleted.
  *
  *  - `storageType` "u": relative file, `pathOrInlineDv` =
  *    `[optional prefix/]<z85-encoded uuid>`, file name
  *    `deletion_vector_<uuid>.bin` under the table root;
  *  - "i": `pathOrInlineDv` = z85 of the serialized bitmap itself;
  *  - "p": absolute path (or pre-signed URL when served over REST).
  * `offset` locates the framed blob inside the file (absent for "i").
  */
case class DeletionVectorDescriptor(
    storageType: String,
    pathOrInlineDv: String,
    offset: Option[Int] = None,
    sizeInBytes: Int = 0,
    cardinality: Long = 0L)

/** An active data file in a snapshot.
  *
  * `baseRowId` / `defaultRowCommitVersion` are the row-tracking fields
  * (delta PROTOCOL "Row Tracking"): a row's fresh row id is
  * `baseRowId + <position in file>` and its fresh commit version is
  * `defaultRowCommitVersion`, unless materialized `_metadata.row_id` /
  * `_metadata.row_commit_version` columns in the file override them.
  */
case class AddFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    modificationTime: Long = 0L,
    dataChange: Boolean = true,
    stats: Option[FileStats] = None,
    version: Long = 0L,
    timestamp: Long = 0L,
    deletionVector: Option[DeletionVectorDescriptor] = None,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    baseRowId: Option[Long] = None,
    @com.fasterxml.jackson.databind.annotation.JsonDeserialize(contentAs = classOf[java.lang.Long])
    defaultRowCommitVersion: Option[Long] = None,
    /** Delta `add.tags` — free-form writer annotations. Graft writes the
      * delta OPTIMIZE spelling (`ZCUBE_ID`/`ZCUBE_ZORDER_BY`/
      * `ZCUBE_ZORDER_CURVE`) on clustered rewrites so incremental
      * OPTIMIZE can tell well-formed cubes from unclustered files; tags
      * on real Delta logs round-trip through replay and checkpoints.
      */
    tags: Option[Map[String, String]] = None)
    extends Action {

  /** Rows a reader sees: `numRecords` minus the rows the deletion vector
    * deletes (`Long.MaxValue` without stats). Every limit cut counts
    * these; counting physical rows would stop listing before the limit is
    * covered, an under-return no reader can repair.
    */
  @com.fasterxml.jackson.annotation.JsonIgnore
  def liveRecords: Long = math.max(0L,
    stats.map(_.numRecords).getOrElse(Long.MaxValue) -
      deletionVector.map(_.cardinality).getOrElse(0L))
}

/** A file removed from the table (data change or compaction). */
case class RemoveFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    dataChange: Boolean = true,
    version: Long = 0L,
    timestamp: Long = 0L)
    extends Action

/** A change-data file holding row-level changes (cdf: reference
  * `PROTOCOL.md:2352-2362`); rows carry `_change_type` values
  * insert/update_preimage/update_postimage/delete.
  */
case class AddCDCFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    version: Long = 0L,
    timestamp: Long = 0L)
    extends Action

/** Table metadata at a version. `schemaString` is Spark's
  * `DataType.json` format (reference `PROTOCOL.md:3743`).
  */
case class Metadata(
    id: String,
    name: String = "",
    schemaString: String = "",
    partitionColumns: Seq[String] = Nil,
    configuration: Map[String, String] = Map.empty,
    version: Long = 0L)
    extends Action

/** Reader-version gate (reference `PROTOCOL.md:3550-3560`). For
  * feature-gated tables (minReaderVersion 3) `readerFeatures` lists the
  * table features a reader MUST understand; serving a table whose
  * features we can't decode would silently return wrong rows, so
  * snapshot load refuses anything outside [[Protocol.SUPPORTED_READER_FEATURES]].
  */
case class Protocol(
    minReaderVersion: Int = 1,
    version: Long = 0L,
    readerFeatures: Seq[String] = Nil)
    extends Action {
  /** Null-safe view (Jackson may materialize a missing list as null). */
  def features: Seq[String] = Option(readerFeatures).getOrElse(Nil)

  /** Throw unless every gated reader feature is one we decode correctly.
    * `tablePath` only flavors the error message.
    */
  def assertReadable(tablePath: String): Unit = {
    require(minReaderVersion <= Protocol.MAX_READER_VERSION,
      s"table $tablePath requires minReaderVersion=$minReaderVersion; " +
        s"this reader supports <= ${Protocol.MAX_READER_VERSION}")
    val unsupported = features.filterNot(Protocol.SUPPORTED_READER_FEATURES)
    require(unsupported.isEmpty,
      s"table $tablePath requires unsupported reader features: " +
        unsupported.mkString(", "))
  }
}

object Protocol {
  val MAX_READER_VERSION = 3
  /** Reader table features this engine decodes end-to-end:
    * `deletionVectors`/`columnMapping`/`v2Checkpoint` have dedicated
    * machinery; `timestampNtz` is native to Spark's parquet reader;
    * `vacuumProtocolCheck` only constrains vacuum (which honors it);
    * `inCommitTimestamp` drives [[graft.log.GraftLog]] history;
    * `typeWidening` works because every scan requests the LATEST (wide)
    * table schema and Spark's vectorized parquet reader upcasts narrow
    * physical types in place (int32→long, float→double, decimal
    * widening, date→timestampNtz — probed on 4.1; an unsupported
    * conversion fails the read loudly, never silently); `variantType`
    * works the same way — Spark 4.1 has VARIANT as a first-class
    * parquet type, so a `variant` field in the table schema decodes
    * natively. Shredded variants (`variantShredding-preview`) and
    * anything else refuse loudly at snapshot load — better than a
    * silently mis-decoded column.
    */
  val SUPPORTED_READER_FEATURES: Set[String] =
    Set("deletionVectors", "columnMapping", "v2Checkpoint",
      "timestampNtz", "vacuumProtocolCheck", "inCommitTimestamp",
      "typeWidening", "typeWidening-preview",
      "variantType", "variantType-preview")
}

/** Streaming-transaction watermark (delta PROTOCOL "Transaction
  * Identifiers"): the writer identified by `appId` has durably applied
  * all its batches up to and including `txnVersion`. The exactly-once
  * streaming sink skips any batch at-or-below the snapshot's watermark —
  * a replayed epoch after a checkpoint-recovery restart commits nothing.
  * (Delta spells the watermark field `version`; here that name is the
  * commit version like every other action, so the watermark is
  * `txnVersion` and the wire codecs map between the two.)
  */
case class Txn(
    appId: String,
    txnVersion: Long,
    lastUpdated: Long = 0L,
    version: Long = 0L)
    extends Action

/** Named metadata domain (delta PROTOCOL "Domain Metadata"): an
  * arbitrary `configuration` string owned by `domain`, replayed
  * last-writer-wins per domain; `removed = true` tombstones the domain.
  * System domains (prefix `delta.`) carry protocol state — e.g.
  * `delta.rowTracking` holds the row-id high watermark and
  * `delta.clustering` the clustering columns — so snapshots must
  * preserve them across checkpoints exactly like metaData/protocol.
  */
case class DomainMetadata(
    domain: String,
    configuration: String = "",
    removed: Boolean = false,
    version: Long = 0L)
    extends Action

/** One NDJSON line: exactly one field set (reference `model.scala:44-54`). */
case class SingleAction(
    add: AddFile = null,
    remove: RemoveFile = null,
    cdc: AddCDCFile = null,
    metaData: Metadata = null,
    protocol: Protocol = null,
    txn: Txn = null,
    domainMetadata: DomainMetadata = null) {
  def unwrap: Action =
    if (add != null) add
    else if (remove != null) remove
    else if (cdc != null) cdc
    else if (metaData != null) metaData
    else if (protocol != null) protocol
    else if (txn != null) txn
    else if (domainMetadata != null) domainMetadata
    else null
}

object SingleAction {
  def wrap(a: Action): SingleAction = a match {
    case x: AddFile        => SingleAction(add = x)
    case x: RemoveFile     => SingleAction(remove = x)
    case x: AddCDCFile     => SingleAction(cdc = x)
    case x: Metadata       => SingleAction(metaData = x)
    case x: Protocol       => SingleAction(protocol = x)
    case x: Txn            => SingleAction(txn = x)
    case x: DomainMetadata => SingleAction(domainMetadata = x)
  }
}
