package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.log.GraftCatalog

/** Spark `TableCatalog` over the share registry — shared tables become
  * first-class SQL names:
  *
  * {{{
  *   spark.sql.catalog.graft = graft.sources.GraftSparkCatalog
  *   SELECT * FROM graft.share1.default.lineitem
  *   SELECT * FROM graft.share1.default.orders_versioned VERSION AS OF 1
  *   SELECT * FROM graft.share1.default.orders_versioned TIMESTAMP AS OF '...'
  *   SHOW TABLES IN graft.share1.`default`
  * }}}
  *
  * The reference exposes shares only through `format("deltaSharing")`
  * addressing; a catalog is the idiomatic Spark-native equivalent — SQL
  * analysis resolves the identifier, `VERSION AS OF` / `TIMESTAMP AS OF`
  * map onto the log's snapshot resolution, and the returned table is the
  * DSv2 columnar scan ([[GraftKernelTable]]) with the typed pushdown
  * hooks. Shares are read-only by protocol, so every DDL entry point
  * refuses.
  *
  * Local advanced-reader-feature tables (deletion vectors / column
  * mapping) serve through [[GraftV1FallbackTable]] over the scan core's
  * relation; the remote catalog refuses them with a pointer at
  * `format("graft")`.
  */
class GraftSparkCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  /** Remote mode: `spark.sql.catalog.<name>.url` (+ `.token`) points the
    * catalog at a sharing server instead of the in-process registry —
    * identifiers resolve through the REST listings, tables scan through
    * a [[GraftFileIndex]] over `/query` + `graft://` pre-signed reads.
    */
  private var remote: Option[graft.client.GraftRestClient] = None

  /** Root directory for tables CREATEd without an explicit location
    * (catalog option `spark.sql.catalog.<name>.warehouse`).
    */
  private var warehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    remote = Option(options.get("url")).map(url =>
      new graft.client.GraftRestClient(url, Option(options.get("token"))))
    warehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  private def fqn(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  private def readOnly(): Nothing =
    throw new UnsupportedOperationException(
      s"catalog $catalogName serves shared tables, which are read-only by protocol")

  /** All known `share.schema.table` names (registry or REST listings). */
  private def allTables: Seq[String] = remote match {
    case None => GraftCatalog.listTables()
    case Some(c) =>
      c.listShares().flatMap(s => c.listAllTables(s).map {
        case (schema, table) => s"$s.$schema.$table"
      })
  }

  // ------------------------------------------------------------- tables

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val prefix = namespace.toSeq
    val matching = allTables
      .map(_.split("\\.").toSeq)
      .filter(parts => parts.init == prefix)
    if (matching.isEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    matching.map(parts => Identifier.of(parts.init.toArray, parts.last)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    allTables.contains(fqn(ident))

  override def loadTable(ident: Identifier): Table = load(ident, None, None)

  /** `VERSION AS OF <v>` */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF takes the numeric table version, got '$version'")
    }
    load(ident, Some(v), None)
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands micros since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, None, Some(Math.floorDiv(timestampMicros, 1000L)))

  private def load(
      ident: Identifier, version: Option[Long], timestampMs: Option[Long]): Table =
    remote match {
      case None =>
        val f = fqn(ident)
        val path = try GraftCatalog.location(f) catch {
          case _: NoSuchElementException => throw new NoSuchTableException(ident)
        }
        val snapshot =
          GraftCatalog.snapshot(SparkSession.active, f, version, timestampMs)
        // advanced reader features the raw-parquet kernel scan cannot
        // apply route through the V1 relation fallback (same machinery
        // format("graft") uses) — SQL names work on EVERY shared table
        if (snapshot.files.exists(_.deletionVector.isDefined) ||
            graft.model.ColumnMapping.isEnabled(snapshot.metadata))
          new GraftV1FallbackTable(path, snapshot)
        else new GraftKernelTable(path, snapshot)
      case Some(client) =>
        val spark = SparkSession.active
        GraftFileSystem.register(spark)
        if (ident.namespace().length != 2) throw new NoSuchTableException(ident)
        val Array(share, schema, table) = (ident.namespace() :+ ident.name())
        // No existence pre-check: that would be listShares × listAllTables
        // paged round trips (O(catalog size) HTTP calls per identifier
        // resolution). Ask for the table's metadata directly and map the
        // server's not-found to the catalog contract.
        val listing = try {
          new QueryListing(client, share, schema, table,
            versionAsOf = version,
            timestampAsOf = timestampMs.map(ms =>
              java.time.Instant.ofEpochMilli(ms).toString))
        } catch {
          case e: graft.client.GraftClientException if e.status == 404 =>
            throw new NoSuchTableException(ident)
        }
        // the scan decodes raw parquet bytes: a column-mapped table's
        // logical wire schema would silently match nothing — refuse (DV
        // tables are already refused server-side in the parquet dialect)
        require(!listing.configuration.get("delta.columnMapping.mode").exists(_ != "none"),
          s"$catalogName serves tables via the DSv2 columnar scan, which does " +
            "not apply column mapping; read this table with format(\"graft\")")
        new RemoteGraftKernelTable(spark, new GraftFileIndex(spark, listing),
          s"graft-kernel-remote:$share.$schema.$table")
    }

  /** LOCAL mode supports SQL DDL/DML: `CREATE TABLE` (+ `AS SELECT`),
    * `INSERT INTO` / `INSERT OVERWRITE`, `DROP TABLE`. The table lives at
    * `TBLPROPERTIES('location'=…)` or `<warehouse>/<share>/<schema>/<t>`
    * (catalog option `spark.sql.catalog.<name>.warehouse`);
    * `'format'='delta'` creates a REAL Delta Lake log (every commit a
    * genuine Delta transaction). Remote mode stays read-only — the
    * sharing protocol has no write surface (reference S13).
    */
  override def createTable(
      ident: Identifier, columns: Array[Column], partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (remote.isDefined) readOnly()
    if (ident.namespace().length != 2)
      throw new IllegalArgumentException(
        s"table identifier must be share.schema.table, got ${fqn(ident)}")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val spark = SparkSession.active
    import scala.jdk.CollectionConverters._
    val props = properties.asScala.toMap
    // CLUSTER BY arrives as its own transform kind (Spark 4's liquid-
    // clustering DDL); it declares the layout domain, not hive partitions
    val (clusterTs, partTs) = partitions.toSeq.partition(_.name() == "cluster_by")
    val clusterCols = clusterTs.flatMap(_.references().toSeq
      .map(_.fieldNames().mkString(".")))
    val partitionCols = partTs.map {
      case t if t.name() == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case t => throw new UnsupportedOperationException(
        s"$catalogName supports identity partitioning only, got $t")
    }
    require(clusterCols.isEmpty || partitionCols.isEmpty,
      "CLUSTER BY and PARTITIONED BY are mutually exclusive")
    val schema = org.apache.spark.sql.types.StructType(columns.map { c =>
      val base =
        org.apache.spark.sql.types.StructField(c.name(), c.dataType(), c.nullable())
      // `CREATE TABLE ... (c INT DEFAULT 5)`: Spark hands the default on
      // the v2 Column (gated on SUPPORT_COLUMN_DEFAULT_VALUE below) —
      // record it as CURRENT_DEFAULT + EXISTS_DEFAULT field metadata
      Option(c.defaultValue())
        .map(dv => graft.log.Defaults.annotate(base, dv.getSql))
        .getOrElse(base)
    })
    val path = props.getOrElse("location", {
      val wh = warehouse.getOrElse(throw new IllegalArgumentException(
        s"set TBLPROPERTIES('location'='…') or catalog option " +
          s"spark.sql.catalog.$catalogName.warehouse"))
      (Seq(wh) ++ ident.namespace() :+ ident.name()).mkString("/")
    })
    val reserved = Set("location", "format", "provider", "owner", "external")
    val meta = graft.model.Metadata(
      id = java.util.UUID.nameUUIDFromBytes(path.getBytes("UTF-8")).toString,
      name = ident.name(),
      schemaString = schema.json,
      partitionColumns = partitionCols,
      configuration = props.filterNot { case (k, _) => reserved(k) },
      version = 0L)
    graft.log.GraftLog.invalidateListing(path)
    graft.log.GraftLog.commit(path, 0L,
      Seq(graft.model.Protocol(), meta) ++
        (if (clusterCols.nonEmpty) Seq(graft.log.Clustering.domainFor(clusterCols))
         else Nil),
      spark.sessionState.newHadoopConf(),
      deltaFormat = props.get("format").contains("delta"),
      operation = "CREATE TABLE")
    GraftCatalog.register(fqn(ident), path)
    loadTable(ident)
  }

  /** Lets Spark's parser accept `DEFAULT <expr>` in CREATE TABLE column
    * definitions for tables of this catalog.
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  override def alterTable(ident: Identifier, changes: TableChange*): Table = readOnly()

  override def dropTable(ident: Identifier): Boolean = {
    if (remote.isDefined) readOnly()
    if (!tableExists(ident)) return false
    val path = GraftCatalog.location(fqn(ident))
    GraftCatalog.unregister(fqn(ident))
    graft.log.GraftLog.invalidateListing(path)
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(SparkSession.active.sessionState.newHadoopConf()).delete(p, true)
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = readOnly()

  // --------------------------------------------------------- namespaces

  /** Registered namespaces = the distinct `share.schema` prefixes (and
    * their one-level `share` parents), derived from the registry.
    */
  private def knownNamespaces: Seq[Seq[String]] = {
    val full = allTables.map(_.split("\\.").toSeq.init).distinct
    (full ++ full.map(_.take(1))).distinct
  }

  override def listNamespaces(): Array[Array[String]] =
    knownNamespaces.filter(_.size == 1)
      .sortBy(_.mkString(".")).map(_.toArray).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.nonEmpty && !namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    knownNamespaces
      .filter(ns => ns.size == namespace.length + 1 && ns.startsWith(namespace.toSeq))
      .sortBy(_.mkString(".")).map(_.toArray).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    knownNamespaces.contains(namespace.toSeq)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = readOnly()

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit = readOnly()

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    readOnly()
}
