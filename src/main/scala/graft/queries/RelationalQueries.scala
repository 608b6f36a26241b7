package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Relational operators over the TPC-H tables and `events`: scans,
  * filters, joins (broadcast, semi/anti, band, as-of, interval, bloom,
  * salted), aggregations, windows, set operations, scalar functions,
  * sketches and quantiles.
  */
object RelationalQueries {
  val specs: Seq[QuerySpec] = Seq(
    // §2.4 Aggregation: TPC-H Q1-style pricing summary. Map-side partial
    // agg on (returnflag, linestatus): 6 groups — shuffle is negligible.
    QuerySpec("q01_pricing_summary", Plain, (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          round(sum(col("l_extendedprice")), 0).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("sum_disc_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
         round(sum(l_extendedprice), 0) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS sum_disc_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus"""),

    // §2.2 Filter + single-row aggregate (TPC-H Q6-style). The predicate
    // reaches the parquet scan as PushedFilters.
    QuerySpec("q02_revenue_filter", Plain, (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 0).as("revenue"))
    },
      """SELECT round(sum(l_extendedprice * l_discount), 0) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"""),

    // §2.3 Join (broadcast dim): revenue per region through a 6-table
    // star join. region/nation/supplier/customer are broadcast-sized.
    QuerySpec("q03_star_join_revenue", Plain, (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val su = broadcast(t(s, dir, "supplier"))
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          count(lit(1)).as("n_items"))
    },
      """SELECT r_name,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name"""),

    // §2.3 Join + §2.4: order-priority revenue (lineitem ⋈ orders).
    QuerySpec("q04_join_priority", Plain, (s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0).as("revenue"),
          countDistinct(col("o_orderkey")).cast("long").as("n_orders"))
    },
      """SELECT o_orderpriority,
         round(sum(l_extendedprice * (1 - l_discount)), 0) AS revenue,
         CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
         GROUP BY o_orderpriority"""),

    // §2.3 Left semi join: customers that have at least one order.
    QuerySpec("q05_semi_join", Plain, (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         GROUP BY c_mktsegment"""),

    // §2.3 Left anti join: customers with no orders since 2000-01-01.
    QuerySpec("q06_anti_join", Plain, (s, dir) => {
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
      t(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_customers"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c_mktsegment"""),

    // §2.3 Left outer join + conditional count: order-count histogram.
    QuerySpec("q07_outer_join_histogram", Plain, (s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy(col("n_orders"))
        .agg(count(lit(1)).as("n_customers"))
    },
      """SELECT n_orders, count(*) AS n_customers FROM (
           SELECT c_custkey, count(o_orderkey) AS n_orders
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey
           GROUP BY c_custkey)
         GROUP BY n_orders"""),

    // §2.5 Window top-k: top 3 orders per priority (deterministic
    // tiebreak on orderkey). Partitioned window — scales by key.
    QuerySpec("q08_window_topk", Plain, (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("totalprice"), col("rn").cast("long").as("rn"))
    },
      """SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice, rn FROM (
           SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
           FROM orders) WHERE rn <= 3"""),

    // §2.5 Window running aggregate: cumulative spend per customer.
    QuerySpec("q09_window_running_sum", Plain, (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 0).as("cum_spend"))
    },
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cum_spend
         FROM orders"""),

    // §2.5 Sort + limit with deterministic tiebreak (top 100 orders).
    QuerySpec("q10_topk_orders", Plain, (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"))
    },
      """SELECT o_orderkey, round(o_totalprice, 2) AS totalprice
         FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),

    // §2.5 Set ops: UNION / INTERSECT / EXCEPT over customer key sets,
    // reduced to one deterministic summary row each.
    QuerySpec("q11_set_ops", Plain, (s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val b = c.filter(col("c_acctbal") < 0).select(col("c_custkey"))
      val u = a.union(b).distinct.agg(count(lit(1)).as("n")).withColumn("op", lit("union"))
      val i = a.intersect(b).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
      val e = a.except(b).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
      u.union(i).union(e)
    },
      """SELECT count(*) AS n, 'union' AS op FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           UNION SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         UNION ALL
         SELECT count(*) AS n, 'intersect' AS op FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           INTERSECT SELECT c_custkey FROM customer WHERE c_acctbal < 0)
         UNION ALL
         SELECT count(*) AS n, 'except' AS op FROM (
           SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           EXCEPT SELECT c_custkey FROM customer WHERE c_acctbal < 0)"""),

    // §2.4 Distinct aggregate per group.
    QuerySpec("q12_distinct_agg", Plain, (s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).cast("long").as("n_custs"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
         count(*) AS n_orders FROM orders GROUP BY o_orderstatus"""),

    // §2.6 String scalar functions over part.
    QuerySpec("q13_string_funcs", Plain, (s, dir) => {
      t(s, dir, "part")
        .select(upper(substring(col("p_brand"), 1, 5)).as("brand_prefix"),
          length(col("p_name")).cast("long").as("name_len"))
        .groupBy(col("brand_prefix"))
        .agg(sum(col("name_len")).as("total_len"), count(lit(1)).as("n"))
    },
      """SELECT upper(substr(p_brand, 1, 5)) AS brand_prefix,
         CAST(sum(length(p_name)) AS BIGINT) AS total_len, count(*) AS n
         FROM part GROUP BY 1"""),

    // §2.6 Date/time scalar functions: orders per (year, month).
    QuerySpec("q14_date_funcs", Plain, (s, dir) => {
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .groupBy(col("y"), col("m"))
        .agg(count(lit(1)).as("n_orders"))
    },
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
         CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
         count(*) AS n_orders FROM orders GROUP BY 1, 2"""),

    // §2.6 CASE expression: price-band histogram.
    QuerySpec("q15_case_expr", Plain, (s, dir) => {
      t(s, dir, "orders")
        .select(when(col("o_totalprice") < 50000, "low")
          .when(col("o_totalprice") < 150000, "mid")
          .otherwise("high").as("band"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"))
    },
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                     WHEN o_totalprice < 150000 THEN 'mid'
                     ELSE 'high' END AS band,
         count(*) AS n FROM orders GROUP BY 1"""),

    // §2.2 IN + BETWEEN predicates.
    QuerySpec("q16_in_between", Plain, (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_quantity").between(10, 20))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).cast("long").as("sum_qty"))
    },
      """SELECT l_returnflag, count(*) AS n, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
         FROM lineitem
         WHERE l_returnflag IN ('A', 'R') AND l_quantity BETWEEN 10 AND 20
         GROUP BY l_returnflag"""),

    // §2.8/T11 Event-time tumbling window (batch shape of the streaming
    // query): 10-minute buckets per event_type.
    QuerySpec("q17_event_time_window", Plain, (s, dir) => {
      events(s, dir)
        .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("bucket_start"),
          col("event_type"), col("n_events"), col("sum_value"))
    },
      """SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS bucket_start,
         event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2"""),

    // Beyond-reference §7.1.8: exact dedup stats over documents.
    QuerySpec("q18_dedup_exact_stats", Plain, (s, dir) => {
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(countDistinct(col("text")).cast("long").as("distinct_docs"),
          count(lit(1)).as("total_docs"))
    },
      """SELECT lang, CAST(count(DISTINCT text) AS BIGINT) AS distinct_docs,
         count(*) AS total_docs FROM documents GROUP BY lang"""),

    // Beyond-reference: token statistics per language (whitespace tokens).
    QuerySpec("q19_token_stats", Plain, (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy(col("lang"))
        .agg(sum(col("n_tokens")).as("total_tokens"),
          round(avg(col("n_tokens")), 2).as("avg_tokens"),
          max(col("n_tokens")).as("max_tokens"))
    },
      """SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         round(avg(n_tokens), 2) AS avg_tokens,
         CAST(max(n_tokens) AS BIGINT) AS max_tokens FROM (
           SELECT lang, len(string_split(text, ' ')) AS n_tokens FROM documents)
         GROUP BY lang"""),

    // Beyond-reference: top-20 most frequent tokens. explode → partial
    // agg; orderBy().limit() plans as TakeOrderedAndProject (per-partition
    // heaps + tiny driver merge) — no global single-partition window, so
    // the plan survives a billions-of-distinct-tokens corpus.
    QuerySpec("q20_word_freq_topk", Plain, (s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
        .select(col("word"), col("cnt"))
    },
      """SELECT word, cnt FROM (
           SELECT word, count(*) AS cnt,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rn
           FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           GROUP BY word) WHERE rn <= 20"""),

    // Beyond-reference: as-of (point-in-time) join — each purchase is
    // attributed to the user's most recent click at-or-before it. Spark
    // has no as-of operator (a range join plans as BNL); this is the
    // scalable union + running-last trick: ONE shuffle by key, streaming
    // window, no range cross-product. DuckDB verifies with its native
    // ASOF LEFT JOIN.
    QuerySpec("q57_asof_attribution", Plain, (s, dir) => {
      val ev = events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"), unix_micros(col("ts")).as("click_us"))
      graft.ops.AsofJoin.asofJoin(purchases, clicks,
        Seq("user_id"), "ts", "click_ts", Seq("click_id", "click_us"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"), col("click_id"), col("click_us"))
    },
      """WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS cts, event_id AS click_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
               FROM events WHERE event_type = 'click')
         SELECT p.event_id, p.user_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS t_us, c.click_id, c.click_us
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.cts"""),

    // §2.5/§2.8 adjacent: sessionization — Spark's native session_window
    // (merging gap-based sessions inside one aggregation, no self-join)
    // vs the oracle's gaps-and-islands SQL. Adjacent same-user gaps sit
    // ≥0.6 s from the 30-min cut at every SF, so the strict-vs-inclusive
    // boundary and µs-vs-ns precision can't flip a session split.
    QuerySpec("q58_sessionization", Plain, (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"), unix_micros(col("sw.start")).as("session_start_us"),
          col("n_events"), col("sum_value"))
    },
      """WITH o AS (
           SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
           FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sess FROM o)
         SELECT user_id, epoch_us(CAST(min(ts) AS TIMESTAMP)) AS session_start_us,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
         FROM s GROUP BY user_id, sess"""),

    // Beyond-reference: HyperLogLog distinct-user estimate per event
    // type — portable md5-prefix hash + integer-numerator harmonic sum,
    // so the oracle replays the registers bit-for-bit. Map-side
    // combinable max-per-register: only m=64 rows per group shuffle.
    QuerySpec("q59_hll_distinct", Plain, (s, dir) => {
      val ev = events(s, dir)
      graft.ops.Sketches.hllDistinct(ev, Seq("event_type"), "user_id", p = 8)
        .join(ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_distinct")), Seq("event_type"))
        .select(col("event_type"), round(col("hll_estimate"), 3).as("hll_estimate"),
          col("exact_distinct"))
    },
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
         h AS (SELECT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
               FROM u),
         r AS (SELECT event_type, h >> 52 AS reg,
                 CASE WHEN (h & ((1::BIGINT << 52) - 1)) = 0 THEN 53
                      ELSE 53 - length(bin(h & ((1::BIGINT << 52) - 1))) END AS rho
               FROM h),
         m AS (SELECT event_type, reg, max(rho) AS mx FROM r GROUP BY 1, 2),
         s AS (SELECT event_type,
                 CAST(sum(1::BIGINT << CAST(53 - mx AS INT)) AS BIGINT) AS num,
                 CAST(count(*) AS BIGINT) AS nz
               FROM m GROUP BY 1),
         est AS (SELECT event_type,
                 (CAST(0.7213 AS DOUBLE) / (1 + CAST(1.079 AS DOUBLE) / 256))
                   * 256 * 256 * CAST(1::BIGINT << 53 AS DOUBLE) /
                   CAST(num + (256 - nz) * (1::BIGINT << 53) AS DOUBLE) AS raw,
                 256 - nz AS zeros FROM s)
         SELECT est.event_type,
           round(CASE WHEN raw <= 640.0 AND zeros > 0
                      THEN CAST(256 AS DOUBLE) * ln(CAST(256 AS DOUBLE) / zeros)
                      ELSE raw END, 3) AS hll_estimate,
           x.exact_distinct
         FROM est JOIN (SELECT event_type,
                          CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
                        FROM events GROUP BY 1) x USING (event_type)"""),

    // Beyond-reference: band join — same-user event pairs within one
    // hour, bucketed-interval equi-join (≤2 exploded buckets per left
    // row) instead of Spark's BroadcastNestedLoop range-join plan.
    QuerySpec("q60_band_join", Plain, (s, dir) => {
      val ev = events(s, dir)
      val a = ev.select(col("user_id"), col("event_type").as("type_a"),
        unix_micros(col("ts")).as("t_a"))
      val b = ev.select(col("user_id"), col("event_type").as("type_b"),
        unix_micros(col("ts")).as("t_b"))
      graft.ops.BandJoin.bandJoin(a, b, Seq("user_id"), "t_a", "t_b",
        lo = 0L, hi = 3600L * 1000000L)
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      """WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n_pairs
         FROM e a JOIN e b ON a.user_id = b.user_id
           AND b.t > a.t AND b.t <= a.t + 3600000000
         GROUP BY 1, 2"""),

    // Beyond-reference: KMV (bottom-k) distinct sketch — k smallest
    // portable hashes per group; the (k−1)·2^60/h_k estimate is
    // bit-deterministic, so no rounding is needed for the oracle.
    QuerySpec("q61_kmv_distinct", Plain, (s, dir) => {
      graft.ops.Sketches.kmvDistinct(t(s, dir, "events"),
        Seq("event_type"), "user_id", k = 64)
    },
      """WITH h AS (SELECT DISTINCT event_type,
                 CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                   AS BIGINT) AS h
               FROM events),
         r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS cnt
               FROM h)
         SELECT event_type,
           CASE WHEN cnt >= 64
                THEN CAST(63 AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE) /
                     CAST(h AS DOUBLE)
                ELSE CAST(cnt AS DOUBLE) END AS kmv_estimate
         FROM r WHERE (cnt >= 64 AND rk = 64) OR (cnt < 64 AND rk = cnt)"""),

    // §2.4-adjacent: hierarchical aggregation — ROLLUP(nation, year)
    // revenue with grouping_id disambiguating subtotal levels. One
    // shuffle; Spark expands grouping sets map-side.
    QuerySpec("q62_rollup_revenue", Plain, (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .select(col("n_name"), year(col("o_orderdate")).cast("long").as("yr"),
          col("o_totalprice"))
        .rollup(col("n_name"), col("yr"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          grouping_id().cast("long").as("gid"))
    },
      """WITH j AS (SELECT n_name,
                      CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
                      o_totalprice
                    FROM orders, customer, nation
                    WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey)
         SELECT n_name, yr, round(sum(o_totalprice), 2) AS revenue,
           CAST(GROUPING(n_name, yr) AS BIGINT) AS gid
         FROM j GROUP BY ROLLUP(n_name, yr)"""),

    // §2.4-adjacent: pivot — revenue per nation spread across the five
    // order priorities (explicit value list ⇒ no extra pass to discover
    // pivot values; plans as one aggregate with conditional sums).
    QuerySpec("q63_pivot_priority", Plain, (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(round(sum(col("o_totalprice")), 2))
        .select(col("n_name"), col("1-URGENT").as("p_urgent"),
          col("2-HIGH").as("p_high"), col("3-MEDIUM").as("p_medium"),
          col("4-NOT SPECIFIED").as("p_notspec"), col("5-LOW").as("p_low"))
    },
      """SELECT n_name,
           round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS p_urgent,
           round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 2) AS p_high,
           round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS p_medium,
           round(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN o_totalprice END), 2) AS p_notspec,
           round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 2) AS p_low
         FROM orders, customer, nation
         WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
         GROUP BY n_name"""),

    // §2.5-adjacent: EXACT distributed quantiles — value at rank
    // ⌈q·n⌉ per group; ranks use integer arithmetic
    // ((n·p + q − 1) div q), so no float ceil() can disagree across
    // engines. (approx_percentile exists in Spark but its t-digest isn't
    // engine-reproducible.) The rank is DISTRIBUTED (the dictionary-rank
    // pattern from ops/Dedup.featureTables): range-partition on
    // (group, value) so every partition sorts only its slice, rank
    // locally per (partition, group), then add per-(group, partition)
    // exclusive-prefix-sum offsets via a ≤ groups×partitions-row
    // broadcast. A `Window.partitionBy(rf)` would be 3 reducers each
    // sorting ⅓ of the table at 100×; here no single task ever sees
    // more than one range slice.
    QuerySpec("q64_exact_quantiles", Plain, (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("price"))
      graft.ops.Quantiles.withGroupRank(li, Seq("rf"), Seq("price"))
        .groupBy(col("rf")).agg(
          max(when(col("__rn") === expr("(__n + 3) div 4"), col("price"))).as("p25"),
          max(when(col("__rn") === expr("(__n + 1) div 2"), col("price"))).as("p50"),
          max(when(col("__rn") === expr("(3*__n + 3) div 4"), col("price"))).as("p75"),
          max(when(col("__rn") === expr("(9*__n + 9) div 10"), col("price"))).as("p90"))
    },
      """WITH r AS (SELECT l_returnflag AS rf, l_extendedprice AS price,
                      row_number() OVER (PARTITION BY l_returnflag
                                         ORDER BY l_extendedprice) AS rn,
                      count(*) OVER (PARTITION BY l_returnflag) AS n
                    FROM lineitem)
         SELECT rf, max(CASE WHEN rn = (n + 3) // 4 THEN price END) AS p25,
           max(CASE WHEN rn = (n + 1) // 2 THEN price END) AS p50,
           max(CASE WHEN rn = (3*n + 3) // 4 THEN price END) AS p75,
           max(CASE WHEN rn = (9*n + 9) // 10 THEN price END) AS p90
         FROM r GROUP BY rf"""),

    // §2.3-adjacent: salted equi-join — skew-mitigation shape whose
    // output must be EXACTLY the plain join's (the oracle runs the
    // unsalted join). Probe salt spreads hot keys over 8 buckets;
    // build side replicated ×8.
    QuerySpec("q65_salted_join", Plain, (s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      graft.ops.SkewJoin.saltedJoin(
        o.select(col("o_custkey").as("custkey"), col("o_totalprice")),
        c.select(col("c_custkey").as("custkey"), col("c_mktsegment")),
        Seq("custkey"), saltBy = col("o_totalprice"), buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 0).as("revenue"))
    },
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 0) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment"""),

    // Beyond-reference: count-min sketch frequency estimates — d×w
    // additive cells via one explode+groupBy (state bounded at d·w rows
    // total, the 100 TB heavy-hitter shape); probe the 10 smallest
    // user_ids and compare nothing — the estimate IS the checked output
    // (deterministic fixed-prime hashing).
    QuerySpec("q70_cms_frequency", Plain, (s, dir) => {
      val ev = events(s, dir)
      val sketch = graft.ops.Sketches.cmsSketch(ev, "user_id")
      graft.ops.Sketches.cmsEstimate(
        sketch, ev.select(col("user_id")).filter(col("user_id") < 10).distinct(),
        "user_id")
    },
      """WITH h(j, a, b) AS (VALUES (0, 824633720837 % 1000000007, 97),
                                    (1, 479001599, 179426549),
                                    (2, 715827883, 15485863)),
         cells AS (
           SELECT j, ((a * (user_id % 1000000007) + b) % 1000000007) % 512 AS bucket
           FROM events, h),
         sketch AS (SELECT j, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
         probes AS (SELECT DISTINCT user_id FROM events WHERE user_id < 10),
         pcells AS (
           SELECT user_id, j,
             ((a * (user_id % 1000000007) + b) % 1000000007) % 512 AS bucket
           FROM probes, h)
         SELECT user_id, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS cms_estimate
         FROM pcells LEFT JOIN sketch USING (j, bucket)
         GROUP BY user_id"""),

    // Beyond-reference: bloom-prefiltered EXACT semi-join — the selective
    // build side is folded into a bloom_filter_agg scalar subquery, the
    // probe side is pruned by might_contain BEFORE the join exchange, and
    // the real semi-join removes the false positives, so the result is
    // byte-identical to the plain semi-join the oracle runs.
    QuerySpec("q73_bloom_semi_join", Plain, (s, dir) => {
      val hot = t(s, dir, "orders").filter(col("o_totalprice") > lit(450000.0))
      graft.ops.BloomJoin.bloomSemiJoin(
        t(s, dir, "lineitem"), hot, "l_orderkey", "o_orderkey",
        expectedItems = 100000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
    },
      """SELECT l_returnflag, count(*) AS n_items,
           round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem
         WHERE l_orderkey IN
           (SELECT o_orderkey FROM orders WHERE o_totalprice > 450000.0)
         GROUP BY l_returnflag"""),

    // §2.5-adjacent: exact equi-depth histogram — SQL NTILE semantics
    // over the same distributed rank (ops.Quantiles), with a unique
    // (orderkey, linenumber) tiebreaker so bucket membership at value
    // ties is engine-reproducible; the oracle replays it with a literal
    // ntile() window.
    QuerySpec("q86_equidepth_histogram", Plain, (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("price"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      graft.ops.Quantiles.equiDepthHistogram(
        li, Seq("rf"), "price", Seq("price", "ok", "ln"), buckets = 8)
    },
      """SELECT rf, bucket, count(*) AS n_rows, min(price) AS lo, max(price) AS hi
         FROM (SELECT l_returnflag AS rf, l_extendedprice AS price,
                      CAST(ntile(8) OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT)
                        AS bucket
               FROM lineitem)
         GROUP BY 1, 2"""),

    // Beyond-reference: Misra-Gries heavy hitters — a native mergeable
    // TypedImperativeAggregate with bounded state (at most `capacity`
    // counters per partial), so only KB-sized summaries shuffle, never
    // the key space. The flag|ship-month key has ~250 distinct values at
    // ANY scale factor (3 flags x the fixed 1992-98 month range), so
    // capacity=512 keeps the counters exact and the oracle is a plain
    // GROUP BY; the approximate-regime guarantees (presence above
    // N/(cap+1), bounded undercount) are property-tested in OpsSpec.
    QuerySpec("q112_heavy_hitters", Plain, (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(concat_ws("|", col("l_returnflag"),
          date_format(col("l_shipdate"), "yyyy-MM")).as("k"))
      graft.ops.Sketches.heavyHitters(li, "k", capacity = 512, topK = 10)
    },
      // capacity 512 > ~250 distinct keys: the MG counters are exact counts
      """SELECT item, cnt, rank FROM (
           SELECT l_returnflag || '|' || strftime(l_shipdate, '%Y-%m') AS item,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(row_number() OVER (
               ORDER BY count(*) DESC,
                 l_returnflag || '|' || strftime(l_shipdate, '%Y-%m'))
               AS BIGINT) AS rank
           FROM lineitem GROUP BY 1)
         WHERE rank <= 10"""),

    // Beyond-reference: per-group quantiles via the KLL sketch — a
    // native mergeable TypedImperativeAggregate whose partials retain
    // O(capacity) values per group regardless of group size, so only
    // KB-scale level arrays shuffle (the 100 TB alternative to a full
    // per-group sort). capacity=512 >= any per-lang count at the
    // correctness SF, so no compaction fires and the sketch IS
    // percentile_disc exactly; the approximate-regime rank-error bound
    // is property-tested in OpsSpec.
    QuerySpec("q127_quantile_sketch", Plain, (s, dir) => {
      graft.ops.Sketches.groupQuantiles(
        t(s, dir, "documents"), Seq("lang"), "n_chars",
        capacity = 512, probs = Seq(0.25, 0.5, 0.75, 0.95))
        .select(col("lang"),
          element_at(col("qs"), 1).as("q25"),
          element_at(col("qs"), 2).as("q50"),
          element_at(col("qs"), 3).as("q75"),
          element_at(col("qs"), 4).as("q95"))
    },
      // capacity 512 >= every per-lang count at the correctness SF: the
      // KLL sketch never compacts, so it reports percentile_disc exactly
      """SELECT lang,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.25) AS DOUBLE) AS q25,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.5) AS DOUBLE) AS q50,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.75) AS DOUBLE) AS q75,
           CAST(quantile_disc(CAST(n_chars AS DOUBLE), 0.95) AS DOUBLE) AS q95
         FROM documents GROUP BY lang"""),

    // Beyond-reference: cross-source QUANTILE NORMALIZATION of quality
    // scores — each doc's score maps to the pooled distribution's value
    // at its within-source rank fraction (rank machinery from
    // ops.Quantiles: range-partition + broadcast offsets, no
    // low-cardinality window); reports per-source calibration shift.
    QuerySpec("q144_quantile_norm", Plain, (s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          round(graft.ops.TextOps.qualityScore(col("text")), 6).as("score"))
      val ws = graft.ops.Quantiles
        .withGroupRank(scored, Seq("source"), Seq("score", "doc_id"))
        .withColumnRenamed("__rn", "r").withColumnRenamed("__n", "n")
      val pooled = graft.ops.Quantiles
        .withGroupRank(scored.withColumn("__g", lit(1)), Seq("__g"),
          Seq("score", "doc_id"))
        .select(col("score").as("gscore"), col("__rn").as("gr"))
      val nTot = scored.agg(count(lit(1)).as("pool_total"))
      ws.crossJoin(broadcast(nTot))
        .withColumn("idx", expr("(r * pool_total + n - 1) div n"))
        .join(pooled, col("idx") === col("gr"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("score")), 4).as("raw_mean"),
          round(avg(col("gscore")), 4).as("norm_mean"),
          round(max(abs(col("score") - col("gscore"))), 4).as("max_shift"))
    },
      // within-source rank -> pooled index ceil(r*N/n) -> pooled score;
      // the quality formula is q55's, rounded to 6 before ranking
      """WITH q AS (SELECT doc_id, source,
             round((0.5 * least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) +
               0.5 * (1.0 - least(abs((CAST(length(text) AS DOUBLE) -
                 (CAST(len(string_split(text, ' ')) AS DOUBLE) - 1.0))
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) - 5.0)
                 / 5.0, 1.0))) *
               (CASE WHEN len(string_split(text, ' ')) < 5
                     THEN 0.5 ELSE 1.0 END), 6) AS score
           FROM documents),
         ws AS (SELECT doc_id, source, score,
                  CAST(row_number() OVER (PARTITION BY source
                    ORDER BY score, doc_id) AS BIGINT) AS r,
                  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
                FROM q),
         g AS (SELECT score AS gscore,
                 CAST(row_number() OVER (ORDER BY score, doc_id) AS BIGINT)
                   AS gr
               FROM q),
         nn AS (SELECT CAST(count(*) AS BIGINT) AS N FROM q),
         j AS (SELECT ws.source, ws.score, g.gscore
               FROM ws CROSS JOIN nn
                 JOIN g ON ((ws.r * nn.N + ws.n - 1) // ws.n) = g.gr)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 4) AS raw_mean,
           round(avg(gscore), 4) AS norm_mean,
           round(max(abs(score - gscore)), 4) AS max_shift
         FROM j GROUP BY source"""),

    // Beyond-reference: per-group TOP-K as a bounded-heap mergeable
    // aggregate. Spark 4's WindowGroupLimit already prunes the window
    // idiom's shuffle to k rows per (partition, group) — but it still
    // fully SORTS every input partition AND every reduce group
    // (O(n log n) twice); the heap aggregate replaces both sorts with
    // O(n log k) sift in constant memory. Top-5 longest docs per source;
    // the oracle is the window spelling.
    QuerySpec("q178_topk_agg", Plain, (s, dir) => {
      graft.ops.Sketches.topKPerGroup(
        t(s, dir, "documents"), Seq("source"), "n_chars", "doc_id", k = 5)
    },
      // the window spelling of the same (score desc, id asc) top-5
      """SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rank AS BIGINT) AS rank FROM (
           SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank
           FROM documents)
         WHERE rank <= 5"""),

    // Beyond-reference: INTERVAL-OVERLAP JOIN — variable-length activity
    // windows (10..92 min, scaled by event value) per user, pairs whose
    // windows overlap, via bucketized equi-join with algebraic dedup
    // (kept in the bucket of the overlap's left edge). Spark would plan
    // the raw predicate as a per-key cross product; this shuffles on
    // (user, hour-bucket). Per-user overlapping-pair counts.
    QuerySpec("q179_interval_overlap", Plain, (s, dir) => {
      val iv = events(s, dir).select(col("user_id"), col("event_id"),
          expr("unix_micros(ts)").as("s0"), col("value"))
        .withColumn("e0", col("s0") +
          floor((lit(600.0) + col("value") * 10.0) * 1000000.0).cast("long"))
      val a = iv.select(col("user_id"), col("event_id").as("a_id"),
        col("s0").as("a_s"), col("e0").as("a_e"))
      val b = iv.select(col("user_id"), col("event_id").as("b_id"),
        col("s0").as("b_s"), col("e0").as("b_e"))
      graft.ops.IntervalJoin.overlapJoin(a, b, Seq("user_id"),
          "a_s", "a_e", "b_s", "b_e", bucketWidth = 3600L * 1000000L)
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
    },
      // DuckDB's native inequality join replays the overlap predicate
      """WITH iv AS (SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s0,
             epoch_us(CAST(ts AS TIMESTAMP)) +
               CAST(floor((600 + value * 10) * 1000000) AS BIGINT) AS e0
           FROM events)
         SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_pairs
         FROM iv a JOIN iv b ON a.user_id = b.user_id
           AND a.event_id < b.event_id
           AND a.s0 < b.e0 AND b.s0 < a.e0
         GROUP BY a.user_id"""),

    // Beyond-reference: event-time LATENESS audit — the measurement a
    // streaming watermark is tuned on: with arrival order = ingest id,
    // how far behind the running event-time high-water mark do late rows
    // arrive, per event type? One per-type window over arrival order
    // (sub-partition by ingest chunk at 100 TB), exact percentiles of
    // the lateness distribution.
    QuerySpec("q181_lateness_audit", Plain, (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      events(s, dir)
        .withColumn("__t", expr("unix_micros(ts)"))
        .withColumn("__hwm", max(col("__t")).over(w))
        .withColumn("__late_s",
          when(col("__hwm") > col("__t"),
            (col("__hwm") - col("__t")).cast("double") / 1000000.0))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("__late_s")).as("n_late"),
          round(percentile(col("__late_s"), lit(0.5)), 6).as("p50_late_s"),
          round(percentile(col("__late_s"), lit(0.9)), 6).as("p90_late_s"),
          round(max(col("__late_s")), 6).as("max_late_s"))
    },
      // running event-time max over ingest order; quantile_cont matches
      // Spark's interpolated exact percentile; NULL lateness = on-time
      """WITH x AS (SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t,
             max(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
           FROM events),
         l AS (SELECT event_type,
                 CASE WHEN hwm > t THEN (hwm - t) / 1000000.0 END AS late_s
               FROM x)
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(late_s) AS BIGINT) AS n_late,
           round(quantile_cont(late_s, 0.5), 6) AS p50_late_s,
           round(quantile_cont(late_s, 0.9), 6) AS p90_late_s,
           round(max(late_s), 6) AS max_late_s
         FROM l GROUP BY event_type"""),

    // Beyond-reference: DIRECTIONAL AS-OF JOIN (the pandas merge_asof
    // direction surface) — NEAREST-purchase attribution per click,
    // ties to backward: two one-shuffle running-last walks (time asc /
    // time desc, right before left at equal stamps) + a row-local
    // closer-side pick on integral micros. Census per user over the
    // matched distances.
    QuerySpec("q247_asof_nearest", Plain, (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"),
          col("event_id").as("cid"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("p_us"),
          col("event_id").as("pid"))
        .groupBy(col("user_id"), col("p_us"))
        .agg(min(col("pid")).as("pid")) // deterministic under µs ties
      val nearest = graft.ops.AsofJoin.asofJoinDirected(
        clicks, purch, Seq("user_id"), "c_us", "p_us", Seq("pid"), "nearest")
      nearest.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("pid").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(abs(col("c_us") - col("__asof_t"))).as("sum_abs_dt_us"),
          countDistinct(col("pid")).cast("long").as("n_distinct_purch"))
        .orderBy(col("user_id"))
    },
      // prev/next purchase per click via bounded join aggregates, the
      // closer-side pick with the backward tie, then the same census
      """WITH c AS (SELECT user_id, epoch_us(ts) AS cu, event_id AS cid
                    FROM events WHERE event_type = 'click'),
         p0 AS (SELECT user_id, epoch_us(ts) AS pu,
                  CAST(min(event_id) AS BIGINT) AS pid
                FROM events WHERE event_type = 'purchase'
                GROUP BY user_id, epoch_us(ts)),
         prev AS (SELECT c.cid, max(p.pu) AS bpu FROM c
                  LEFT JOIN p0 p ON p.user_id = c.user_id AND p.pu <= c.cu
                  GROUP BY c.cid),
         nxt AS (SELECT c.cid, min(p.pu) AS fpu FROM c
                 LEFT JOIN p0 p ON p.user_id = c.user_id AND p.pu >= c.cu
                 GROUP BY c.cid),
         x AS (SELECT c.user_id, c.cid, c.cu, prev.bpu, nxt.fpu
               FROM c LEFT JOIN prev USING (cid) LEFT JOIN nxt USING (cid)),
         y AS (SELECT user_id, cid, cu,
                 CASE WHEN bpu IS NOT NULL
                        AND (fpu IS NULL OR (cu - bpu) <= (fpu - cu))
                   THEN bpu ELSE fpu END AS mu
               FROM x),
         z AS (SELECT y.user_id, y.cid, y.cu, y.mu, p0.pid
               FROM y LEFT JOIN p0
                 ON p0.user_id = y.user_id AND p0.pu = y.mu)
         SELECT user_id, count(*) AS n_clicks,
                CAST(sum(CASE WHEN pid IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched,
                CAST(sum(abs(cu - mu)) AS BIGINT) AS sum_abs_dt_us,
                CAST(count(DISTINCT pid) AS BIGINT) AS n_distinct_purch
         FROM z GROUP BY user_id""")
  )
}
