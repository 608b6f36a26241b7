package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the query families share: table readers, the streaming drain,
  * and the SQL fragments that more than one oracle is built from.
  */
private[queries] object QueryHelpers {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Drain an AvailableNow stream and FAIL LOUDLY on timeout — a
    * timed-out drain leaves a partially-filled memory sink and would
    * otherwise return a silently wrong (incomplete) answer.
    */
  def drain(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      if (!q.awaitTermination(300000))
        throw new IllegalStateException(
          "streaming drain timed out after 300 s — sink is incomplete")
    } finally q.stop()

  /** Some testdata generations store `events.ts` as TIMESTAMP(NANOS),
    * which Spark's parquet reader rejects by default; others store plain
    * TIMESTAMP(MICROS). Handle both: read nanos as long and convert with
    * integral `div` (true division promotes to double, which can't
    * represent ~1.7e18 ns exactly and rounds ±1µs vs DuckDB's truncating
    * ns→µs cast); pass a genuine timestamp column through unchanged.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normTs(s.read.parquet(s"$dir/events.parquet"))
  }

  /** Normalize an `events`-shaped frame's `ts` to TimestampType (LTZ
    * micros): long nanos → integral `div` (true division promotes to
    * double, which can't represent ~1.7e18 ns exactly and rounds ±1µs
    * vs DuckDB's truncating ns→µs cast); NTZ (isAdjustedToUTC=false
    * parquet) → LTZ cast — sessions run UTC, so epoch micros are
    * preserved exactly. Shared by the batch reader above and the
    * streaming readers (watermarks need a genuine TimestampType).
    */
  def normTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  /** Read a table through the sharing layer (builds the share on first
    * use; rows are identical to the source fixture so oracles stay valid).
    */
  def sharedTable(s: SparkSession, dir: String, name: String): DataFrame = {
    graft.log.SharedFixtures.ensure(s, dir)
    s.read.format("graft")
      .option("table", s"${graft.log.SharedFixtures.SHARE}.$name").load()
  }

  /** One hard-EM round of the q190 oracle: per-word integer Viterbi DP
    * as RECURSIVE CTEs — the forward pass carries a 3-deep best-score
    * window (b1=best[pos], b2, b3) plus the backpointer digits as a
    * string, one recursion step per character; the backward pass is a
    * second recursion emitting one (pos, k) jump row per chosen piece.
    * Deliberately lambda-free: DuckDB 1.0's list_reduce mis-evaluates
    * struct reassignment and is non-deterministic under parallel
    * evaluation (observed: identical SQL, different totals per run), so
    * the list-fold spelling of this DP is not trustworthy. `probs` is
    * the incoming piece-logprob CTE, `cnt` the produced count CTE.
    */
  def unigramDpSql(probs: String, cnt: String): String =
    s"""
 scp_$cnt AS (
   SELECT w, any_value(freq) AS freq, any_value(n) AS n, j,
     max(CASE WHEN k = 1 THEN lp END) AS lp1,
     max(CASE WHEN k = 2 THEN lp END) AS lp2,
     max(CASE WHEN k = 3 THEN lp END) AS lp3
   FROM (
     SELECT s.w, s.freq, s.n, s.j, s.k, coalesce(p.lp, -1000000000000) AS lp
     FROM (
       SELECT w, freq, n, j, k,
         CASE WHEN k <= j THEN substr(w, CAST(j-k+1 AS INT), CAST(k AS INT)) END AS pc
       FROM words, LATERAL unnest(range(1, n+1)) t(j), LATERAL unnest(range(1, 4)) u(k)) s
     LEFT JOIN $probs p ON p.piece = s.pc)
   GROUP BY w, j),
 fw_$cnt AS (
   SELECT w, freq, n, pos, b1, ks FROM (
     WITH RECURSIVE r AS (
       SELECT w, freq, n, CAST(0 AS BIGINT) AS pos,
         CAST(0 AS BIGINT) AS b1, CAST(-4000000000000000 AS BIGINT) AS b2,
         CAST(-4000000000000000 AS BIGINT) AS b3, '' AS ks
       FROM words
       UNION ALL
       SELECT r.w, r.freq, r.n, r.pos + 1,
         greatest(r.b1 + s.lp1,
           CASE WHEN r.pos >= 1 THEN r.b2 + s.lp2 ELSE CAST(-4000000000000000 AS BIGINT) END,
           CASE WHEN r.pos >= 2 THEN r.b3 + s.lp3 ELSE CAST(-4000000000000000 AS BIGINT) END),
         r.b1, r.b2,
         r.ks || CASE
           WHEN r.b1 + s.lp1 = greatest(r.b1 + s.lp1,
             CASE WHEN r.pos >= 1 THEN r.b2 + s.lp2 ELSE CAST(-4000000000000000 AS BIGINT) END,
             CASE WHEN r.pos >= 2 THEN r.b3 + s.lp3 ELSE CAST(-4000000000000000 AS BIGINT) END)
           THEN '1'
           WHEN r.pos >= 1 AND r.b2 + s.lp2 = greatest(r.b1 + s.lp1, r.b2 + s.lp2,
             CASE WHEN r.pos >= 2 THEN r.b3 + s.lp3 ELSE CAST(-4000000000000000 AS BIGINT) END)
           THEN '2' ELSE '3' END
       FROM r JOIN scp_$cnt s ON s.w = r.w AND s.j = r.pos + 1
       WHERE r.pos < r.n)
     SELECT * FROM r) WHERE pos = n),
 bk_$cnt AS (
   SELECT w, freq, pos, k FROM (
     WITH RECURSIVE b AS (
       SELECT w, freq, ks, n AS pos,
         CAST(substr(ks, CAST(n AS INT), 1) AS BIGINT) AS k
       FROM fw_$cnt WHERE n > 0
       UNION ALL
       SELECT w, freq, ks, pos - k,
         CAST(substr(ks, CAST(pos - k AS INT), 1) AS BIGINT)
       FROM b WHERE pos - k > 0)
     SELECT * FROM b)),
 $cnt AS (
   SELECT substr(w, CAST(pos - k + 1 AS INT), CAST(k AS INT)) AS pc,
     CAST(sum(freq) AS BIGINT) AS c
   FROM bk_$cnt GROUP BY 1)"""

  /** Shared oracle CTEs for the hashed-feature quality classifiers
    * (q200 NB, q202 perceptron): gopher labels (the q138 rule replay),
    * the id%5 train split, and token features hashed with the positional
    * codepoint hash mod 1024. Emitted from ONE def so the two oracles
    * cannot drift.
    */
  def gopherFeatsSql: String =
    """d AS (SELECT doc_id, text,
                      list_filter(string_split_regex(text, '\s+'),
                        w -> w <> '') AS ts,
                      string_split(text, chr(10)) AS ls
                    FROM documents),
         r AS (SELECT doc_id,
           COALESCE(len(ts) >= 50 AND len(ts) <= 100000, FALSE) AS p1,
           COALESCE((CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, w -> CAST(length(w) AS BIGINT))),
               (a, b) -> a + b) AS DOUBLE) / len(ts)) >= 3.0 AND
             (CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(ts, w -> CAST(length(w) AS BIGINT))),
               (a, b) -> a + b) AS DOUBLE) / len(ts)) <= 10.0, FALSE) AS p2,
           COALESCE(CAST(length(text) - length(replace(text, '#', ''))
               AS DOUBLE) <= 0.1 * len(ts), FALSE) AS p3,
           COALESCE(CAST(length(text) - length(replace(text, '...', ''))
               AS DOUBLE) / 3.0 <= 0.1 * len(ts), FALSE) AS p4,
           COALESCE(CAST(len(list_filter(ls, l ->
               starts_with(trim(l), '-') OR starts_with(trim(l), '*')))
               AS DOUBLE) <= 0.9 * len(ls), FALSE) AS p5,
           COALESCE(CAST(len(list_filter(ls, l -> ends_with(trim(l), '...')))
               AS DOUBLE) <= 0.3 * len(ls), FALSE) AS p6,
           COALESCE(CAST(len(list_filter(ts, w ->
               regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
               >= 0.8 * len(ts), FALSE) AS p7,
           COALESCE(len(list_filter(ts, w -> list_contains(
               ['the','be','to','of','and','that','have','with'],
               lower(w)))) >= 2, FALSE) AS p8
           FROM d),
         lab AS (SELECT doc_id,
                   (p1 AND p2 AND p3 AND p4 AND p5 AND p6 AND p7 AND p8)
                     AS label,
                   doc_id % 5 = 0 AS is_train
                 FROM r),
         toks AS (SELECT doc_id,
                    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                      w -> w <> '')) AS tok
                  FROM documents),
         fb AS (SELECT doc_id,
                  CAST(list_aggregate(list_transform(
                    range(1, length(tok) + 1),
                    k -> (CAST(unicode(substr(tok, CAST(k AS INT), 1))
                            AS BIGINT) + 1) * k),
                    'sum') % 1024 AS INT) AS b
                FROM toks),
         feats AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS cnt
                   FROM fb GROUP BY 1, 2)"""

  /** q192's mojibake repair as a nested SQL replace chain, emitted from
    * the SAME ordered table the engine applies
    * ([[graft.ops.TextOps.mojibakeMap]]) so the two can never drift.
    * Neither side of any mapping contains an ASCII quote.
    */
  def mojibakeRepairSql(inner: String): String =
    graft.ops.TextOps.mojibakeMap.foldLeft(inner) { case (s, (bad, good)) =>
      s"replace($s, '$bad', '$good')"
    }

  /** q197's BPE demo-table encode as a sentinel replace chain, emitted
    * from the SAME table the engine applies
    * ([[graft.ops.TextOps.DemoMerges]], the q129 spelling).
    */
  def bpeDemoChainSql(inner: String): String =
    graft.ops.TextOps.DemoMerges.foldLeft(inner) { case (s, (l, r)) =>
      s"replace($s, chr(1)||'$l'||chr(2)||chr(1)||'$r'||chr(2), chr(1)||'$l$r'||chr(2))"
    }

  /** The q189 oracle's integer-DCT table as a SQL VALUES list — emitted
    * from the SAME constant ([[graft.ops.Multimodal.DctC]]) the engine
    * computes pHash with, so the two sides can never drift.
    */
  lazy val dctTableSql: String =
    (for (k <- 0 until 8; x <- 0 until 8)
      yield s"($k,$x,${graft.ops.Multimodal.DctC(k)(x)})").mkString(",")

  /** Expected per-change-type counts of the orders_cdf fixture history
    * (insert/insert/delete/update commits derived from `orders`), shared
    * by the three CDF queries (programmatic API, DataSource option,
    * streaming).
    */
  val cdfOracle: String =
    """SELECT 'insert' AS _change_type, count(*) AS n FROM orders
         WHERE o_orderdate < TIMESTAMP '1999-01-01'
       UNION ALL
       SELECT 'delete', count(*) FROM orders
         WHERE o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01'
       UNION ALL
       SELECT 'update_preimage', count(*) FROM orders
         WHERE o_totalprice > 400000 AND o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')
       UNION ALL
       SELECT 'update_postimage', count(*) FROM orders
         WHERE o_totalprice > 400000 AND o_orderdate < TIMESTAMP '1999-01-01'
           AND NOT (o_orderstatus = 'F' AND o_orderdate < TIMESTAMP '1996-01-01')"""
}
