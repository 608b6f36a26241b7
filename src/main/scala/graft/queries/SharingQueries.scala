package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Queries that read through the sharing layer: shared-table snapshots,
  * partition and stats pruning, time travel, change data feed, deletion
  * vectors, the REST path, the SQL catalog, Delta table features, and
  * Structured Streaming over shared tables.
  */
object SharingQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2.1 S1/S5/S6 + §2.2 P4/P8: snapshot scan through the sharing layer
    // (log replay → stats skipping → parquet). Rows match the fixture, so
    // the oracle runs on the original table.
    QuerySpec("q21_share_snapshot_scan", Fixture, (s, dir) => {
      sharedTable(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
          col("l_quantity") >= 30)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
    },
      """SELECT l_returnflag, count(*) AS n,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1997-06-01' AND l_quantity >= 30
         GROUP BY l_returnflag"""),

    // §2.2 P1: partition pruning on the hive-partitioned shared orders
    // table (o_year partition directories; only 1997 is listed).
    QuerySpec("q22_share_partition_prune", Fixture, (s, dir) => {
      sharedTable(s, dir, "orders")
        .filter(col("o_year") === 1997)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("total"))
    },
      """SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 0) AS total
         FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
         GROUP BY o_orderstatus"""),

    // §2.5 O2/O3: LIMIT pushed through the Catalyst rule into the
    // FileIndex (lists just enough files to cover 1234 rows).
    QuerySpec("q23_share_limit_pushdown", Fixture, (s, dir) => {
      sharedTable(s, dir, "lineitem").limit(1234)
        .agg(count(lit(1)).as("n"))
    },
      """SELECT count(*) AS n FROM (SELECT * FROM lineitem LIMIT 1234)"""),

    // §2.1 Table version / time travel: versionAsOf=1 of the 3-commit
    // versioned orders table = orders before 1999-01-01.
    QuerySpec("q24_share_time_travel", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.read.format("graft")
        .option("table", s"${graft.log.SharedFixtures.SHARE}.orders_versioned")
        .option("versionAsOf", "1").load()
        .select(year(col("o_orderdate")).cast("long").as("y"))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y, count(*) AS n_orders
         FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY 1"""),

    // §2.8 T1-T5/T9: Structured Streaming through the graft source —
    // snapshot-then-tail over the 4-commit events table, complete-mode
    // aggregation into a memory sink; the final state must equal the
    // batch aggregate, which is what the oracle checks.
    QuerySpec("q33_stream_agg", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q33_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    },
      """SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY event_type"""),

    // §2.1 S4 CDF: row-level change feed over the insert/insert/delete/
    // update history of orders_cdf; cdc-priority per version means the
    // rewrite versions surface only their update/delete rows.
    QuerySpec("q34_share_cdf", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
      graft.log.GraftCDF.tableChanges(s, path, 0)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
    },
      cdfOracle),

    // §2.9 + §2.1 S5/S6/S11: the FULL sharing loop over HTTP — an
    // in-process REST server lists/signs files, the client FileIndex
    // pushes the filter as a jsonPredicateHint, and scan tasks read
    // parquet bytes through graft:// → pre-signed URLs → HTTP Range
    // requests. Rows are identical to the fixture, so the oracle runs on
    // the original table.
    QuerySpec("q36_rest_snapshot_scan", Fixture, (s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", "share1.default.lineitem").load()
        .filter(col("l_orderkey") < 1000 && col("l_discount") > 0.05)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"))
    },
      """SELECT l_linestatus, count(*) AS n,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue
         FROM lineitem
         WHERE l_orderkey < 1000 AND l_discount > 0.05
         GROUP BY l_linestatus"""),

    // §2.1 S4 + §3.3: CDF through the DataSource option — same history as
    // q34 but via `readChangeFeed`/`startingVersion` options and the
    // PrunedFilteredScan relation (reference `RemoteDeltaCDFRelation`).
    QuerySpec("q37_cdf_option", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
      s.read.format("graft").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "0").load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
    },
      cdfOracle),

    // §2.8 T10: CDF STREAMING — the change feed consumed as a stream with
    // atomic per-version batches, aggregated in the sink; final state must
    // equal the batch CDF, which the oracle checks.
    QuerySpec("q38_cdf_stream", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
      val sink = "graft_q38_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "0").load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    },
      cdfOracle),

    // §2.8 T10 over REST: remote CDF STREAMING — the same change feed as
    // q38 but consumed from the sharing server's /changes endpoint with
    // atomic per-version admission, row bytes flowing through graft://
    // pre-signed URLs; final state must equal the batch CDF oracle.
    QuerySpec("q42_cdf_stream_rest", Streaming, (s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      val sink = "graft_q42_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.orders_cdf")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .option("queryTableVersionIntervalSeconds", "0")
        .load()
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    },
      cdfOracle),

    // Advanced reader feature: DELETION VECTORS applied on the read path —
    // nation_dv deleted region-2 rows via a DV (no data file rewritten);
    // the scan filters them with a broadcast-bitmap codegen predicate, so
    // the oracle is simply the original table minus the deleted predicate.
    QuerySpec("q45_dv_scan", Fixture, (s, dir) => {
      sharedTable(s, dir, "nation_dv")
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation WHERE n_regionkey <> 2"""),

    // Advanced reader feature: COLUMN MAPPING (name mode) — customer_cm's
    // parquet columns/partition dirs carry `col-<uuid>` physical names;
    // the scan renames to logical names and partition-prunes on the
    // physical directories, so logical-name SQL over the original table
    // is the oracle.
    QuerySpec("q46_column_mapping_scan", Fixture, (s, dir) => {
      sharedTable(s, dir, "customer_cm")
        .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 0).as("total_acctbal"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers,
           round(CAST(sum(c_acctbal) AS DOUBLE), 0) AS total_acctbal
         FROM customer
         WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
         GROUP BY c_mktsegment"""),

    // Advanced reader features over REST: the parquet dialect refuses the
    // DV table with the protocol's typed 400, the client renegotiates
    // responseformat=delta;readerfeatures=..., reads parquet bytes via
    // graft:// pre-signed URLs, fetches the served DV descriptor's
    // pre-signed .bin and filters deleted rows with the broadcast bitmap.
    QuerySpec("q47_dv_rest_scan", Fixture, (s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.nation_dv").load()
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    },
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation WHERE n_regionkey <> 2"""),

    // §2.1 S2: the kernel columnar scan — the second, independent read
    // path over the same graft log (DataSource V2, vectorized parquet
    // ColumnarBatch, typed pushdown hooks). The quantity/returnflag filter
    // reaches the scan as pushed filters (file-level stats skip + parquet
    // row-group skip); only the 4 referenced columns are read. Rows match
    // the fixture, so the oracle runs on the original table.
    QuerySpec("q67_kernel_scan", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.read.format("graft-kernel")
        .option("table", s"${graft.log.SharedFixtures.SHARE}.lineitem").load()
        .filter(col("l_quantity") >= 45 && col("l_returnflag") === "R")
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 0).as("total_price"))
    },
      """SELECT l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 0) AS total_price
         FROM lineitem
         WHERE l_quantity >= 45 AND l_returnflag = 'R'
         GROUP BY l_linestatus"""),

    // §2.1 S4 + beyond-reference: INCREMENTAL aggregate maintenance over
    // the Change Data Feed — the aggregate state at version 1 (after the
    // two inserts) is refreshed with only the CDF rows of the delete and
    // update commits, never rescanning the table. Equals, by construction,
    // a full recompute over the final snapshot (what the oracle runs).
    QuerySpec("q72_cdf_incremental_agg", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val share = graft.log.SharedFixtures.SHARE
      val base = s.read.format("graft")
        .option("table", s"$share.orders_cdf").option("versionAsOf", "1").load()
      val changes = graft.log.GraftCDF.tableChanges(
        s, graft.log.GraftCatalog.location(s"$share.orders_cdf"), 2)
      graft.ops.Incremental.maintainAggregate(
        base, changes, keys = Seq("o_orderstatus"), sums = Seq("o_totalprice"))
        .select(col("o_orderstatus"), col("n_rows").as("n_orders"),
          round(col("sum_o_totalprice"), 2).as("sum_price"))
    },
      // Final orders_cdf state = the two inserts (< 1999) minus the delete
      // (status F before 1996); the update touched only o_orderpriority, so
      // its pre/postimage legs cancel in every maintained column.
      """SELECT o_orderstatus, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
         GROUP BY o_orderstatus"""),

    // §2.7 extension point: shared tables as first-class SQL names via the
    // TableCatalog plugin (DSv2 kernel scan underneath; VERSION/TIMESTAMP
    // AS OF resolve through the log). Rows identical to the fixture, so
    // the oracle runs on the raw table.
    QuerySpec("q77_sql_catalog", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftSparkCatalog].getName)
      s.sql(
        s"""SELECT l_linestatus, count(*) AS n,
           |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
           |FROM graft.${graft.log.SharedFixtures.SHARE}.lineitem
           |WHERE l_orderkey < 500
           |GROUP BY l_linestatus""".stripMargin)
    },
      """SELECT l_linestatus, count(*) AS n,
           CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem WHERE l_orderkey < 500
         GROUP BY l_linestatus"""),

    // Beyond-reference writer op, read path under test: OPTIMIZE-style
    // compaction — the fixture wrote 8 fragmented files then compacted
    // them under a dataChange=false commit; the scan lands on the
    // consolidated snapshot and rows are exactly the logical content.
    QuerySpec("q78_compacted_scan", Fixture, (s, dir) => {
      // balances summed in integer mils (3 decimals is exact for the
      // fixture's halved 2-decimal values) — addition-order-proof
      sharedTable(s, dir, "supplier_compacted")
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_suppliers"),
          sum(round(col("s_acctbal") * 1000).cast("long")).as("total_bal_mils"))
    },
      """WITH t AS (
           SELECT s_nationkey, s_acctbal FROM supplier
           UNION ALL
           SELECT s_nationkey, s_acctbal * 0.5 FROM supplier)
         SELECT s_nationkey, count(*) AS n_suppliers,
           CAST(sum(CAST(round(s_acctbal * 1000) AS BIGINT)) AS BIGINT) AS total_bal_mils
         FROM t GROUP BY s_nationkey"""),

    // Real Delta Lake interop (DeltaLogCompat): orders_delta carries a
    // genuine _delta_log (JSON commits + parquet checkpoint at v2 +
    // _last_checkpoint; no _graft_log). Snapshot-at-latest replays the
    // checkpoint plus the tail commit — the layout every real Delta
    // writer produces (reference loads tables exclusively through
    // DeltaLog.forTable, DeltaSharedTable.scala:83-86).
    QuerySpec("q81_delta_snapshot_scan", Fixture, (s, dir) => {
      sharedTable(s, dir, "orders_delta")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("total"))
    },
      """SELECT CASE WHEN o_totalprice > 400000 THEN '9-UPDATED'
                ELSE o_orderpriority END AS o_orderpriority,
         count(*) AS n_orders, round(sum(o_totalprice), 0) AS total
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
         GROUP BY 1"""),

    // Delta interop time travel: versionAsOf=1 is BELOW the parquet
    // checkpoint, so resolution must fall back to pure commit replay —
    // state after the append, before the delete/update.
    QuerySpec("q82_delta_time_travel", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.read.format("graft")
        .option("table", s"${graft.log.SharedFixtures.SHARE}.orders_delta")
        .option("versionAsOf", "1").load()
        .select(year(col("o_orderdate")).cast("long").as("y"))
        .groupBy(col("y"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y, count(*) AS n_orders
         FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY 1"""),

    // Delta interop CDF: the cdc/add/remove actions parsed from Delta
    // commit JSON drive the same row-level change feed as graft commits
    // (delta.enableChangeDataFeed in the Delta metaData configuration).
    QuerySpec("q83_delta_cdf", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.orders_delta")
      graft.log.GraftCDF.tableChanges(s, path, 0)
        .groupBy(col("_change_type"))
        .agg(count(lit(1)).as("n"))
    },
      cdfOracle),

    // Delta interop over REST: the sharing server replays the Delta log,
    // signs the files, and the client scans them through graft:// — the
    // full reference serving topology (real Delta table → share server →
    // Spark connector) in one query.
    QuerySpec("q84_delta_rest_scan", Fixture, (s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", "share1.default.orders_delta").load()
        .filter(col("o_totalprice") > 300000)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("total"))
    },
      """SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 0) AS total
         FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
           AND o_totalprice > 300000
         GROUP BY 1"""),

    // Delta interop, WRITE direction: part_delta was created by graft's
    // own writer with deltaFormat=true — both commits are genuine Delta
    // transactions (commitInfo + Delta action JSON) that any Delta
    // reader could replay; here graft reads its own Delta output back
    // through the sharing layer.
    QuerySpec("q85_delta_native_write", Fixture, (s, dir) => {
      sharedTable(s, dir, "part_delta")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          // exact integer cents: a double sum's addition order can flip
          // round-at-0 on a .5 boundary between engines
          sum(round(col("p_retailprice") * 100).cast("long")).as("retail_cents"))
    },
      """SELECT p_brand, count(*) AS n_parts,
         CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS retail_cents
         FROM part GROUP BY 1"""),

    // §2.8-adjacent: streaming DEDUPLICATION — Spark's stateful
    // dropDuplicates chained into a streaming aggregate (two stateful
    // operators in one query). The dedup key set makes the final count
    // order-independent, so the batch oracle replays it exactly.
    QuerySpec("q87_stream_dedup", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q87_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
        .dropDuplicates("user_id", "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    },
      """SELECT event_type, count(DISTINCT user_id) AS n_users
         FROM events GROUP BY 1"""),

    // §2.8-adjacent: CUSTOM streaming state via
    // KeyValueGroupedDataset.mapGroupsWithState — a per-user event
    // counter folded commutatively across micro-batches; the final state
    // (max update per user) equals the batch groupBy, which the oracle
    // replays as a count histogram.
    QuerySpec("q88_stream_custom_state", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q88_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
        .select(col("user_id").as[Long])
        .groupByKey(identity[Long])
        .mapGroupsWithState[Long, (Long, Long)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (user, events, state) =>
            val n = state.getOption.getOrElse(0L) + events.size
            state.update(n)
            (user, n)
        }
        .toDF("user_id", "n_events")
        .writeStream.format("memory").queryName(sink).outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      // update mode emits one row per (user, batch); the final state is
      // the max — aggregate the sink into the per-count user histogram
      s.table(sink)
        .groupBy(col("user_id")).agg(max(col("n_events")).as("cnt"))
        .groupBy(col("cnt")).agg(count(lit(1)).as("n_users"))
    },
      """SELECT cnt, count(*) AS n_users FROM
           (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
         GROUP BY 1"""),

    // Beyond-reference writer: MERGE INTO (upsert with all three clauses).
    // Affected-file pruning means only files containing matched keys are
    // rewritten; the source is broadcast by Catalyst at this size, so the
    // merge plan has no target-side shuffle. The oracle expresses the
    // merged state directly: keys < 2000 untouched, matched keys [2000,
    // 3000) deleted when divisible by 7 else doubled, source-only keys
    // [3000, 4000) inserted doubled.
    QuerySpec("q89_merge_upsert", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_merge"
      val target = t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"), col("o_totalprice").as("price"))
      graft.log.TableBuilder.create(s, target.repartition(4), path, name = "scratch_merge")
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") >= 2000 && col("o_orderkey") < 4000)
        .select(col("o_orderkey"), (col("o_totalprice") * 2).as("price"))
      graft.log.Merge.merge(s, path, src, "t.o_orderkey = s.o_orderkey",
        whenMatchedUpdate = Some(Map("price" -> "s.price")),
        whenMatchedDeleteIf = Some("s.o_orderkey % 7 = 0"),
        whenNotMatchedInsert = Some(Map(
          "o_orderkey" -> "s.o_orderkey", "price" -> "s.price")))
      s.read.format("graft").option("path", path).load()
        .select(col("o_orderkey"), round(col("price"), 2).as("price"))
    },
      """SELECT o_orderkey,
         round(CASE WHEN o_orderkey >= 2000 THEN o_totalprice * 2
                    ELSE o_totalprice END, 2) AS price
         FROM orders
         WHERE o_orderkey < 4000
           AND NOT (o_orderkey >= 2000 AND o_orderkey < 3000 AND o_orderkey % 7 = 0)"""),

    // Beyond-reference writer: exactly-once STREAMING SINK — the shared
    // lineitem table streams (snapshot-then-tail, 4 files/trigger) into a
    // fresh graft table; every micro-batch commits its files together
    // with a txn watermark action, so a replayed epoch after restart is a
    // no-op. The oracle aggregates the original lineitem: any dropped or
    // doubled batch flips the hash.
    QuerySpec("q90_stream_sink", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val src = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.lineitem")
      val scratch = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_sink"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.log.GraftLog.invalidateListing(s"$scratch/data")
      val q = s.readStream.format("graft").option("path", src)
        .option("maxFilesPerTrigger", "4").load()
        .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
        .writeStream.format("graft")
        .option("path", s"$scratch/data")
        .option("checkpointLocation", s"$scratch/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.read.format("graft").option("path", s"$scratch/data").load()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_price"))
    },
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_price
         FROM lineitem GROUP BY 1"""),

    // Beyond-reference layout: OPTIMIZE ZORDER BY (l_partkey, l_suppkey)
    // — equi-depth quantile bins per column (native codegen binary-search
    // expression) interleave into a Morton key; repartitionByRange on the
    // key clusters files so min/max stats prune on BOTH columns. The
    // filter below then skips most files at the graft scan's stats gate;
    // the result is byte-identical to the oracle's plain filter.
    QuerySpec("q91_zorder_scan", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_zorder"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      graft.log.TableBuilder.create(s, src.repartition(8), path, name = "scratch_zorder")
      graft.log.TableBuilder.zorder(s, path, Seq("l_partkey", "l_suppkey"), numFiles = 8)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .filter(col("l_partkey") < 200 && col("l_suppkey") < 50)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_price"))
    },
      """SELECT l_suppkey, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_price
         FROM lineitem
         WHERE l_partkey < 200 AND l_suppkey < 50
         GROUP BY 1"""),

    // Beyond-reference SQL DML: the full UPDATE + MERGE INTO round-trip
    // through Spark's row-level-operation planner (group-based
    // copy-on-write; candidate files chosen by stats, only they are
    // rewritten). Final state is pure SQL over orders, so the oracle
    // replays it exactly: keys < 500 get price+1000, then MERGE zeroes
    // keys in [250, 750) and inserts sentinel rows for [5000, 5500).
    QuerySpec("q92_sql_update_merge", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftSparkCatalog].getName)
      val share = graft.log.SharedFixtures.SHARE
      val scratch = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_sqldml"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.log.GraftLog.invalidateListing(scratch)
      graft.log.GraftCatalog.unregister(s"$share.scratch_sqldml")
      s.sql(s"""CREATE TABLE graft.$share.scratch_sqldml
                LOCATION '$scratch' AS
                SELECT o_orderkey, o_totalprice AS price
                FROM graft.$share.orders WHERE o_orderkey < 2000""")
      s.sql(s"UPDATE graft.$share.scratch_sqldml SET price = price + 1000 " +
        s"WHERE o_orderkey < 500")
      s.sql(s"""MERGE INTO graft.$share.scratch_sqldml t
                USING (SELECT o_orderkey, o_totalprice FROM graft.$share.orders
                       WHERE o_orderkey >= 250 AND o_orderkey < 750
                          OR o_orderkey >= 5000 AND o_orderkey < 5500) s
                ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED THEN UPDATE SET price = 0.0
                WHEN NOT MATCHED THEN INSERT (o_orderkey, price)
                VALUES (s.o_orderkey, -1.0)""")
      s.sql(s"SELECT o_orderkey, round(price, 2) AS price " +
        s"FROM graft.$share.scratch_sqldml")
    },
      """SELECT o_orderkey, round(CASE
           WHEN o_orderkey >= 250 AND o_orderkey < 750 THEN 0.0
           WHEN o_orderkey < 250 THEN o_totalprice + 1000
           WHEN o_orderkey >= 5000 THEN -1.0
           ELSE o_totalprice END, 2) AS price
         FROM orders
         WHERE o_orderkey < 2000 OR (o_orderkey >= 5000 AND o_orderkey < 5500)"""),

    // §2.1 S4 + S15: CDF DERIVED FROM DELETION VECTORS — nation_dv_cdf's
    // delete history is pure DV commits (no cdc files, no file rewrites);
    // the change feed diffs each file's old/new bitmap: v1 = region-2
    // rows, v2 = only the NEWLY-set bits of the merged DV (regionkey>2,
    // NOT the region-2 rows already deleted at v1). The oracle replays
    // the delete predicates over the original table.
    QuerySpec("q96_cdf_dv_changes", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.nation_dv_cdf")
      graft.log.GraftCDF.tableChanges(s, path, 0)
        .select(col("n_nationkey"), col("n_name"),
          col(graft.log.GraftCDF.CHANGE_TYPE).as("change_type"),
          col(graft.log.GraftCDF.COMMIT_VERSION).as("commit_version"))
    },
      """SELECT n_nationkey, n_name, 'insert' AS change_type,
           CAST(0 AS BIGINT) AS commit_version FROM nation
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(1 AS BIGINT)
         FROM nation WHERE n_regionkey = 2
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(2 AS BIGINT)
         FROM nation WHERE n_regionkey > 2"""),

    // Beyond-reference writer: RESTORE TABLE TO VERSION AS OF — the
    // scratch table takes an append (v1) and a delete (v2), restores to
    // v0 with ONE metadata-only forward commit (no data files read or
    // written — O(active files) at any table size), and the scan must
    // equal the v0 input exactly. History survives: the same log still
    // time-travels to the deleted state.
    QuerySpec("q97_restore_scan", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_restore"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val src = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      graft.log.TableBuilder.create(s, src.repartition(2), path, name = "scratch_restore")
      graft.log.TableBuilder.append(s,
        src.withColumn("s_suppkey", col("s_suppkey") + 1000000L), path, timestamp = 1000L)
      graft.log.TableBuilder.deleteWhere(s, path, col("s_nationkey") < 10, timestamp = 2000L)
      graft.log.Restore.restore(s, path, 0L, timestamp = 3000L)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_supp"),
          sum(round(col("s_acctbal") * 100).cast("long")).as("bal_cents"))
    },
      // restore to v0 ⇒ the scan equals the raw supplier projection
      """SELECT s_nationkey, count(*) AS n_supp,
         CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM supplier GROUP BY 1"""),

    // Beyond-reference writer: SHALLOW CLONE — a new table whose log
    // references the source lineitem files by absolute URI (zero data
    // bytes copied; delta PROTOCOL absolute add.path encoding). The scan
    // of the CLONE must equal the source; stats-based skipping and
    // column pruning work unchanged because the add actions carry the
    // source's stats.
    QuerySpec("q98_shallow_clone_scan", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val src = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.lineitem")
      val clone = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_clone"
      val fs = new org.apache.hadoop.fs.Path(clone)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(clone), true)
      graft.log.GraftLog.invalidateListing(clone)
      graft.log.Restore.cloneShallow(s, src, clone)
      s.read.format("graft").option("path", clone).load()
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
    },
      // the clone references the source lineitem files ⇒ same rows
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY 1"""),

    // Beyond-reference writer: CHECK constraints — the scratch table
    // carries delta.constraints gates; a violating append throws INSIDE
    // the write pipeline (single-pass assert, no second validation scan)
    // and commits NOTHING, so the final scan equals create + the one
    // valid append. The oracle replays exactly those rows.
    QuerySpec("q99_check_constraints", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_check"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      graft.log.TableBuilder.create(s, cust.filter(col("c_custkey") % 2 === 0)
        .repartition(2), path, name = "scratch_check",
        configuration = Map("delta.constraints.key_pos" -> "c_custkey >= 0"))
      graft.log.TableBuilder.append(s, cust.filter(col("c_custkey") % 2 === 1),
        path, timestamp = 1000L)
      // violating batch: must throw and leave the table untouched
      val bad = cust.limit(5).withColumn("c_custkey", col("c_custkey") * -1L - 1L)
      val rejected =
        try { graft.log.TableBuilder.append(s, bad, path, timestamp = 2000L); false }
        catch { case e: Exception =>
          graft.log.GraftLog.invalidateListing(path)
          Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("key_pos"))
        }
      require(rejected, "constraint violation was not rejected")
      s.read.format("graft").option("path", path).load()
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          sum(round(col("c_acctbal") * 100).cast("long")).as("bal_cents"))
    },
      // create(even keys) + valid append(odd keys) = all customers; the
      // violating batch commits nothing
      """SELECT c_nationkey, count(*) AS n_cust,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
         FROM customer GROUP BY 1"""),

    // Beyond-reference writer: ROW TRACKING (delta "Row Tracking") —
    // durable per-row ids. Scratch table from orders sorted into ONE
    // file so the fresh id equals the sort position; a DV delete drops
    // rows WITHOUT disturbing ids (no rewrite); OPTIMIZE then rewrites
    // the file but MATERIALIZES the stable ids into hidden columns. The
    // oracle replays the id assignment as row_number over create order —
    // any id drift across the DV delete or the compaction flips the hash.
    QuerySpec("q101_row_tracking", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_rowtrack"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val src = t(s, dir, "orders")
        .filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
      graft.log.TableBuilder.create(s, src.coalesce(1), path,
        name = "scratch_rowtrack",
        configuration = Map(graft.log.RowTracking.ENABLED_KEY -> "true"))
      graft.log.TableBuilder.deleteWhereDV(s, path, col("o_orderkey") % 7 === 0)
      graft.log.TableBuilder.compact(s, path)
      graft.log.GraftLog.invalidateListing(path)
      graft.log.RowTracking.withRowIds(s, path)
        .select(col("o_orderkey"), col("_row_id"),
          col("_row_commit_version"))
    },
      // row ids were assigned in o_orderkey order at create (v0); the DV
      // delete and the compaction must both leave them untouched
      """WITH src AS (
           SELECT o_orderkey,
             row_number() OVER (ORDER BY o_orderkey) - 1 AS rid
           FROM orders WHERE o_orderkey <= 2000)
         SELECT o_orderkey, rid AS _row_id,
           CAST(0 AS BIGINT) AS _row_commit_version
         FROM src WHERE o_orderkey % 7 <> 0"""),

    // Beyond-reference writer: CLUSTERED TABLE (liquid-clustering
    // semantics) — clusterBy columns declared in the delta.clustering
    // domain at create; plain OPTIMIZE reclusters along a HILBERT curve
    // (quantile bins → Skilling transpose index → repartitionByRange),
    // whose adjacent-cells property prunes at least as well as Morton
    // (asserted in ClusteringSpec). The scan after recluster must equal
    // the plain aggregate — any row lost/duplicated by the rewrite or a
    // wrong curve mapping flips the hash.
    QuerySpec("q102_clustered_scan", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_cluster"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"))
      graft.log.TableBuilder.create(s, src.repartition(8), path,
        name = "scratch_cluster", clusterBy = Seq("l_partkey", "l_suppkey"))
      graft.log.Clustering.cluster(s, path, numFiles = 8)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .filter(col("l_partkey") < 200 && col("l_suppkey") < 50)
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_price"))
    },
      // the Hilbert recluster is layout-only: the filtered aggregate equals
      // the plain-lineitem oracle
      """SELECT l_suppkey, count(*) AS n_items,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_price
         FROM lineitem
         WHERE l_partkey < 200 AND l_suppkey < 50
         GROUP BY 1"""),

    // Beyond-reference writer: GENERATED + IDENTITY columns (delta
    // "Generated Columns"/"Identity Columns"). Scratch table whose
    // `id` is IDENTITY(start 1000, step 2) and `bal_cents` is GENERATED
    // AS cast(round(c_acctbal*100) as bigint). The create seeds 10 rows
    // with explicit ids; the append omits BOTH columns — identity values
    // allocate above the stats-synced watermark (single sorted partition
    // ⇒ deterministic), the generated column computes in-pipeline. The
    // oracle replays the whole allocation as 1000 + 2*rank.
    QuerySpec("q103_generated_identity", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_genid"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(path), true)
      graft.log.GraftLog.invalidateListing(path)
      val cust = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val genExpr = "CAST(round(c_acctbal * 100) AS BIGINT)"
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong(graft.log.GeneratedColumns.ID_START, 1000L)
            .putLong(graft.log.GeneratedColumns.ID_STEP, 2L).build()),
        org.apache.spark.sql.types.StructField("c_custkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_acctbal",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("bal_cents",
          org.apache.spark.sql.types.LongType, nullable = true,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(graft.log.GeneratedColumns.GEN_KEY, genExpr).build())))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("c_custkey"))
      val seed = cust.filter(col("c_custkey") <= 10)
        .withColumn("id", (lit(998L) + lit(2L) * row_number().over(w)).cast("long"))
        .withColumn("bal_cents", expr(genExpr))
        .select("id", "c_custkey", "c_acctbal", "bal_cents")
      graft.log.TableBuilder.create(s,
        s.createDataFrame(seed.coalesce(1).rdd, schema), path, name = "scratch_genid")
      graft.log.TableBuilder.append(s,
        cust.filter(col("c_custkey") > 10).orderBy(col("c_custkey")).coalesce(1),
        path)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .select(col("id"), col("c_custkey"), col("bal_cents"))
    },
      // the identity allocation (sorted single-partition batches) and the
      // generated column replay exactly as rank arithmetic
      """WITH src AS (
           SELECT c_custkey, c_acctbal,
             row_number() OVER (ORDER BY c_custkey) - 1 AS rn
           FROM customer)
         SELECT CAST(1000 + 2 * rn AS BIGINT) AS id, c_custkey,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
         FROM src"""),

    // Beyond-reference writer: replaceWhere — the R-region of the scratch
    // table is atomically replaced with quantity-shifted rows in ONE
    // commit; any smuggled out-of-region row, lost survivor, or doubled
    // region flips the aggregate hash.
    QuerySpec("q106_replace_where", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_replace"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_quantity"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_replace")
      val newR = src.filter(col("l_returnflag") === "R")
        .withColumn("l_quantity", col("l_quantity") + 100)
      graft.log.TableBuilder.replaceWhere(s, newR, path,
        col("l_returnflag") === "R")
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity")).cast("long").as("sum_qty"))
    },
      // non-R rows unchanged, R rows replaced by their +100 counterparts
      """SELECT l_returnflag, count(*) AS n_items,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity + 100
                       ELSE l_quantity END) AS BIGINT) AS sum_qty
         FROM lineitem GROUP BY 1"""),

    // Beyond-reference writer: column DEFAULT values (delta
    // `allowColumnDefaults`) — ADD COLUMN ... DEFAULT backfills existing
    // rows at read time (EXISTS_DEFAULT, frozen) and fills partial
    // appends at write time (CURRENT_DEFAULT, mutable via SET DEFAULT);
    // the oracle replays all four row generations from `orders`.
    QuerySpec("q108_column_defaults", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_defaults"
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_defaults", deltaFormat = true)
      graft.log.TableBuilder.addColumns(s, path,
        Seq(("priority_class", org.apache.spark.sql.types.StringType),
          ("risk", org.apache.spark.sql.types.IntegerType)),
        defaults = Map("priority_class" -> "'standard'", "risk" -> "3"))
      // partial append: both new columns fill from their current defaults
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L), path)
      // explicit values win over defaults
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 11 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 60000000L)
          .withColumn("priority_class", lit("high"))
          .withColumn("risk", (col("o_orderkey") % 5).cast("int")), path)
      // SET DEFAULT changes future partial appends only — earlier rows
      // keep the value they were written (or backfilled) under
      graft.log.TableBuilder.setColumnDefault(s, path, "risk", Some("9"))
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 13 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 90000000L), path)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .groupBy(col("priority_class"), col("risk"))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("o_totalprice")), 0).cast("long").as("sum_price"))
    },
      // the four row generations: base rows backfilled by the frozen
      // exists default, a partial append under the original defaults, an
      // explicit append, and a partial append after SET DEFAULT risk=9
      """WITH rows AS (
           SELECT 'standard' AS priority_class, 3 AS risk, o_totalprice FROM orders
           UNION ALL
           SELECT 'standard', 3, o_totalprice FROM orders WHERE o_orderkey % 7 = 0
           UNION ALL
           SELECT 'high', CAST((o_orderkey + 60000000) % 5 AS INT), o_totalprice
           FROM orders WHERE o_orderkey % 11 = 0
           UNION ALL
           SELECT 'standard', 9, o_totalprice FROM orders WHERE o_orderkey % 13 = 0)
         SELECT priority_class, risk, count(*) AS n_rows,
           CAST(round(sum(o_totalprice), 0) AS BIGINT) AS sum_price
         FROM rows GROUP BY 1, 2"""),

    // Beyond-reference writer: VARIANT end-to-end — document metadata
    // packed into a VARIANT column (Spark 4.1 first-class parquet type),
    // written natively (the commit stamps the `variantType` reader+writer
    // feature gate), read back through the graft reader, and queried with
    // typed `variant_get` extraction. Extraction inverts construction, so
    // the relational oracle sees straight through the variant plumbing.
    QuerySpec("q109_variant_extract", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_variant"
      val src = t(s, dir, "documents")
        .select(col("doc_id"),
          expr("parse_json(to_json(struct(lang, source, n_chars)))").as("meta"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_variant", deltaFormat = true)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        .select(
          expr("variant_get(meta, '$.lang', 'string')").as("lang"),
          expr("variant_get(meta, '$.source', 'string')").as("source"),
          expr("variant_get(meta, '$.n_chars', 'long')").as("nc"))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("total_chars"))
    },
      // variant_get extraction inverts the to_json construction exactly
      """SELECT lang, source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY 1, 2"""),

    // Beyond-reference writer: type widening — quantities written as INT,
    // the column widened to BIGINT in a metadata-only commit (typeWidening
    // feature gate, delta.typeChanges history), then a wide append joins
    // the narrow files transparently. Any mis-upcast file or wrong-type
    // stats pruning flips the aggregate.
    QuerySpec("q110_type_widening", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_widen"
      val src = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          floor(col("l_quantity")).cast("int").as("qty"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_widen", deltaFormat = true)
      graft.log.TableBuilder.widenColumnType(s, path, "qty",
        org.apache.spark.sql.types.LongType)
      graft.log.TableBuilder.append(s,
        src.withColumn("l_orderkey", col("l_orderkey") + 30000000L)
          .withColumn("qty", (col("qty") + 100).cast("long")), path,
        timestamp = 1000L)
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        // the filter exercises stats skipping over narrow-written min/max
        // parsed under the wide declared type
        .filter(col("qty") >= 1L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"))
    },
      // both generations: narrow ints and the +100 wide append
      """WITH rows AS (
           SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty
           FROM lineitem
           UNION ALL
           SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) + 100
           FROM lineitem)
         SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(qty) AS BIGINT) AS sum_qty
         FROM rows WHERE qty >= 1 GROUP BY 1"""),

    // Beyond-reference writer: INCREMENTAL clustered OPTIMIZE end-to-end —
    // create clustered (first OPTIMIZE forms a tagged cube), append
    // out-of-layout rows, OPTIMIZE again (only the new files recluster
    // into a second cube; the first cube's files are untouched). Layout
    // rewrites are content-invariant, so any cube bookkeeping error
    // (lost file, double-rewritten cube) flips the aggregate.
    QuerySpec("q113_incremental_cluster", Fixture, (s, dir) => {
      val path = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_inccluster"
      val src = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        floor(col("o_totalprice")).cast("long").as("price"))
      graft.log.TableBuilder.create(s, src.repartition(4), path,
        name = "scratch_inccluster", clusterBy = Seq("o_custkey", "price"))
      graft.log.Clustering.cluster(s, path, numFiles = 4)
      graft.log.TableBuilder.append(s,
        src.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 30000000L),
        path, timestamp = 1000L)
      graft.log.Clustering.cluster(s, path) // incremental: append-only recluster
      graft.log.GraftLog.invalidateListing(path)
      s.read.format("graft").option("path", path).load()
        // range filter over both clustering dims exercises the stats the
        // cube layout produced
        .filter(col("price") >= 50000L && col("o_custkey") >= 100L)
        .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("sum_price"),
          countDistinct(col("o_custkey")).as("n_custs"))
    },
      // both generations (base + the %5 append); layout-only reclustering
      // never changes content
      """WITH rows AS (
           SELECT o_custkey, CAST(floor(o_totalprice) AS BIGINT) AS price
           FROM orders
           UNION ALL
           SELECT o_custkey, CAST(floor(o_totalprice) AS BIGINT)
           FROM orders WHERE o_orderkey % 5 = 0)
         SELECT count(*) AS n_rows, CAST(sum(price) AS BIGINT) AS sum_price,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs
         FROM rows WHERE price >= 50000 AND o_custkey >= 100"""),

    QuerySpec("q116_sql_dv_delete", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.sources.GraftSparkCatalog].getName)
      val share = graft.log.SharedFixtures.SHARE
      val scratch = s"${graft.log.SharedFixtures.shareRoot(dir)}/scratch_sqldv"
      val fs = new org.apache.hadoop.fs.Path(scratch)
        .getFileSystem(s.sessionState.newHadoopConf())
      fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
      graft.log.GraftLog.invalidateListing(scratch)
      graft.log.GraftCatalog.unregister(s"$share.scratch_sqldv")
      s.sql(s"""CREATE TABLE graft.$share.scratch_sqldv
                LOCATION '$scratch'
                TBLPROPERTIES('delta.enableDeletionVectors'='true') AS
                SELECT o_orderkey, o_custkey, o_totalprice AS price
                FROM graft.$share.orders""")
      s.sql(s"DELETE FROM graft.$share.scratch_sqldv WHERE o_orderkey <= 1500")
      s.sql(s"DELETE FROM graft.$share.scratch_sqldv WHERE o_custkey >= 1200")
      s.sql(s"""SELECT count(*) AS n_rows,
                CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT)
                  AS price_cents,
                CAST(min(o_orderkey) AS BIGINT) AS min_key
                FROM graft.$share.scratch_sqldv""")
    },
      // survivors of both DV deletes
      """SELECT count(*) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
         CAST(min(o_orderkey) AS BIGINT) AS min_key
         FROM orders
         WHERE o_orderkey > 1500 AND o_custkey < 1200"""),

    // Beyond-reference: SQL DELETE under the delta DV contract, served
    // back through the catalog's V1Scan fallback — the DELETEs write
    // deletion vectors (zero data-file rewrites; the second merges into
    // the first's DVs), and the SQL-name read applies them scan-side. A
    // resurrected row, lost survivor, or double-applied DV flips the
    // aggregate.
    // §2.8 T10 over the DELTA dialect: remote STREAMING of a
    // DV-maintained shared table. The parquet dialect refuses the table
    // (DV adds are unrepresentable), the source renegotiates
    // responseformat=delta, and every micro-batch applies merge-on-read
    // DV filtering — the streamed aggregate equals the plain batch
    // predicate the oracle runs. maxFilesPerTrigger=1 forces multiple
    // batches so admission control and the per-version memo are on the
    // tested path.
    QuerySpec("q117_remote_dv_stream", Streaming, (s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      val sink = "graft_q117_sink"
      s.catalog.dropTempView(sink)
      val q = s.readStream.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.nation_dv")
        .option("maxFilesPerTrigger", "1")
        .option("queryTableVersionIntervalSeconds", "0")
        .load()
        .groupBy(col("n_regionkey"))
        .agg(count(lit(1)).as("n"))
        .writeStream.format("memory").queryName(sink).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink)
    },
      """SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n
         FROM nation WHERE n_regionkey <> 2 GROUP BY n_regionkey"""),

    // §2.1 S4/S8 over REST in the DELTA dialect: the parquet /changes
    // refuses a DV-history table, the client renegotiates and derives
    // row-level changes CLIENT-side from the raw served actions — DV
    // merged-bitmap diffs per version (v1 deletes region-2 rows; v2
    // extends the SAME files' DVs so only regionkey>2 rows are new
    // deletes), same classifier as the local GraftCDF.
    QuerySpec("q118_remote_dv_cdf", Fixture, (s, dir) => {
      val url = graft.server.LocalShareServer.ensure(s, dir)
      s.read.format("graft")
        .option("url", url).option("token", graft.server.LocalShareServer.TOKEN)
        .option("table", s"${graft.log.SharedFixtures.SHARE}.nation_dv_cdf")
        .option("readChangeFeed", "true").option("startingVersion", "0")
        .load()
        .select(col("n_nationkey"), col("n_name"),
          col(graft.log.GraftCDF.CHANGE_TYPE).as("change_type"),
          col(graft.log.GraftCDF.COMMIT_VERSION).as("commit_version"))
    },
      """SELECT n_nationkey, n_name, 'insert' AS change_type,
           CAST(0 AS BIGINT) AS commit_version FROM nation
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(1 AS BIGINT)
         FROM nation WHERE n_regionkey = 2
         UNION ALL
         SELECT n_nationkey, n_name, 'delete', CAST(2 AS BIGINT)
         FROM nation WHERE n_regionkey > 2"""),

    // Beyond-reference: STREAM-STREAM WATERMARKED INTERVAL JOIN — the
    // one core Structured Streaming operator shape the streaming family
    // lacked: click→purchase attribution where BOTH sides are streams
    // (two independent graft sources over the versioned events table),
    // each watermarked, joined on user equality + an event-time range
    // ([cts, cts+30min]) so Spark can bound BOTH state stores and
    // evict matched-out rows as the min-watermark advances. Append-mode
    // pairs land in the sink; the census is a batch aggregate over it.
    // The watermark delay is set beyond the fixture's 30-day horizon so
    // this bounded replay drain is EXACTLY the batch join (no late
    // drops — micro-batch file order within a version is not
    // time-ordered); the production eviction/late-drop semantics are
    // pinned deterministically in StreamStreamJoinSpec with
    // one-file-per-commit fixtures.
    QuerySpec("q237_stream_stream_join", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q237_sink"
      s.catalog.dropTempView(sink)
      def side(tpe: String) = normTs(
        s.readStream.format("graft").option("path", path)
          .option("maxFilesPerTrigger", "8").load())
        .filter(col("event_type") === tpe)
      val clicks = side("click")
        .select(col("user_id"), col("ts").as("cts"), col("event_id").as("cid"))
        .withWatermark("cts", "35 days")
      val purchases = side("purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"),
          col("event_id").as("pid"), col("value"))
        .withWatermark("pts", "35 days")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("pts") >= col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 30 MINUTES"))
      val q = joined
        .select(col("user_id"), col("cid"), col("pid"), col("value"))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("cid")).cast("long").as("n_clicks_attr"),
          countDistinct(col("pid")).cast("long").as("n_purch_attr"),
          round(sum(col("value")), 2).as("value_sum"))
    },
      // the full-drain stream-stream join is exactly the batch interval
      // join; comparisons replayed on epoch micros (Spark's native
      // timestamp unit) so ns-generation fixtures agree too
      """WITH c AS (SELECT user_id, ts AS cts, event_id AS cid
                    FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS pts, event_id AS pid, value
               FROM events WHERE event_type = 'purchase'),
         j AS (SELECT c.user_id, c.cid, p.pid, p.value
               FROM c JOIN p ON p.user_id = c.user_id
                 AND epoch_us(p.pts) >= epoch_us(c.cts)
                 AND epoch_us(p.pts) <= epoch_us(c.cts) + 1800000000)
         SELECT user_id, count(*) AS n_pairs,
                CAST(count(DISTINCT cid) AS BIGINT) AS n_clicks_attr,
                CAST(count(DISTINCT pid) AS BIGINT) AS n_purch_attr,
                round(sum(value), 2) AS value_sum
         FROM j GROUP BY user_id"""),

    // Beyond-reference: STREAM-STATIC BROADCAST JOIN — the remaining
    // streaming join mode (q237 covers stream-stream): the event
    // stream enriched against the static customer dimension with a
    // broadcast hash join INSIDE the micro-batch plan (no state store
    // at all — the dimension rides the broadcast, the right posture
    // when one side is a bounded dim at any stream length). Full drain
    // equals the batch join.
    QuerySpec("q250_stream_static_join", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q250_sink"
      s.catalog.dropTempView(sink)
      val cust = t(s, dir, "customer")
        .select((col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))
      val src = s.readStream.format("graft").option("path", path)
        .option("maxFilesPerTrigger", "8").load()
      val joined = src.select(col("user_id"), col("value"))
        .join(broadcast(cust), Seq("user_id"))
      val q = joined.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("value_sum"))
        .orderBy(col("c_mktsegment"))
    },
      // the full-drain stream-static join equals the batch join
      """SELECT c.c_mktsegment, count(*) AS n_events,
                round(sum(e.value), 2) AS value_sum
         FROM events e JOIN customer c ON c.c_custkey = e.user_id + 1
         GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"""),

    // Beyond-reference: APPEND-MODE WATERMARKED WINDOWED AGGREGATION —
    // the streaming-agg output mode not yet in the corpus: hourly
    // tumbling counts emitted ONLY when the watermark passes the window
    // end (each window finalized exactly once — the mode a downstream
    // exactly-once sink wants). Commit-order replay keeps event time
    // monotone, so the drained sink holds precisely the windows whose
    // end ≤ final watermark (max event time − delay); the oracle
    // replays that cutoff arithmetically. Tail windows inside the
    // delay horizon are correctly ABSENT — the honest semantics, not a
    // full-drain equivalence.
    QuerySpec("q252_stream_window_append", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.events")
      val sink = "graft_q252_sink"
      s.catalog.dropTempView(sink)
      val src = normTs(s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "8").load())
      val agg = src.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("window.start").cast("long").as("bucket_start"),
          col("event_type"), col("n_events"))
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).orderBy(col("bucket_start"), col("event_type"))
    },
      // finalized windows = end ≤ max event time − delay, replayed
      // arithmetically (µs); the suppressed tail is part of the contract
      """WITH mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
         w AS (SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)
                 AS bucket_start, event_type FROM events)
         SELECT bucket_start, event_type, count(*) AS n_events
         FROM w CROSS JOIN mx
         WHERE (bucket_start + 3600) * 1000000 <= m - 7200000000
         GROUP BY bucket_start, event_type, m
         ORDER BY bucket_start, event_type""")
  )
}
