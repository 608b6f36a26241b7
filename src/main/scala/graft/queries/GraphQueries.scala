package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Event analytics and graph algorithms over the `events` interaction
  * graph: funnels, cohorts, PageRank, triangles, k-core, label
  * propagation, reachability and path lengths.
  */
object GraphQueries {
  val specs: Seq[QuerySpec] = Seq(
    // Beyond-reference: ordered conversion funnel view→click→purchase —
    // single pass, per-user sorted-fold progression (no per-stage
    // self-joins); integer ts*8+stage encoding keeps the fold
    // engine-reproducible.
    QuerySpec("q68_funnel", Plain, (s, dir) => {
      graft.ops.Analytics.funnel(events(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    },
      """WITH enc AS (
           SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) * 8 +
             CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS e
           FROM events WHERE event_type IN ('view', 'click', 'purchase')),
         r AS (
           SELECT user_id,
             list_reduce(list_prepend(CAST(0 AS BIGINT), list_sort(list(e))),
               (acc, x) -> acc + CASE WHEN x % 8 = acc THEN 1 ELSE 0 END) AS reached
           FROM enc GROUP BY user_id),
         s AS (SELECT unnest(range(reached)) AS stage_idx FROM r WHERE reached > 0)
         SELECT CASE stage_idx WHEN 0 THEN 'view' WHEN 1 THEN 'click'
                  ELSE 'purchase' END AS stage,
           CAST(stage_idx AS BIGINT) AS stage_idx, count(*) AS n_users
         FROM s GROUP BY 1, 2"""),

    // Beyond-reference: weekly retention cohorts (first-event week ×
    // week offset × distinct active users) — absolute integer week
    // indexes; both shuffles land on the user key.
    QuerySpec("q69_retention_cohorts", Plain, (s, dir) => {
      graft.ops.Analytics.retentionCohorts(events(s, dir), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
         f AS (SELECT user_id, min(t) AS t0 FROM e GROUP BY user_id),
         w AS (SELECT DISTINCT e.user_id,
                 t0 // 604800000000 AS cohort_week,
                 t // 604800000000 - t0 // 604800000000 AS week_offset
               FROM e JOIN f ON e.user_id = f.user_id)
         SELECT cohort_week, week_offset, count(*) AS n_users
         FROM w GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""),

    // Beyond-reference: PMI word-pair co-occurrence over the top-40
    // vocabulary — corpus reduced to (doc, vocab-word) before the
    // bounded per-document self-join; broadcast vocab + doc count.
    QuerySpec("q71_pmi_cooccurrence", Plain, (s, dir) => {
      graft.ops.Analytics.pmiPairs(t(s, dir, "documents"),
        "doc_id", "text", vocabSize = 40, topK = 20)
    },
      """WITH words AS (
           SELECT DISTINCT doc_id, w FROM (
             SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
             FROM documents) t
           WHERE w <> ''),
         dfreq AS (SELECT w, count(*) AS df FROM words GROUP BY w),
         vocab AS (SELECT w, df FROM dfreq ORDER BY df DESC, w LIMIT 40),
         iv AS (SELECT words.doc_id, words.w, vocab.df
                FROM words JOIN vocab USING (w)),
         n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         pairs AS (
           SELECT a.w AS word_a, b.w AS word_b, count(*) AS n_pair,
             min(a.df) AS dfa, min(b.df) AS dfb
           FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.w < b.w
           GROUP BY 1, 2),
         r AS (SELECT word_a, word_b, n_pair,
             round(ln(CAST(n_pair AS DOUBLE) * n_docs /
               (CAST(dfa AS DOUBLE) * dfb)), 4) AS pmi,
             row_number() OVER (ORDER BY n_pair DESC, word_a, word_b) AS rn
           FROM pairs, n)
         SELECT word_a, word_b, n_pair, pmi FROM r WHERE rn <= 20"""),

    // Beyond-reference: event-flow PageRank — per-user transition edges
    // (windowed lag, partitioned by user) row-normalized into a Markov
    // matrix, ranked by a FIXED 3-step power iteration where ranks and
    // edges stay DataFrames (one equi-join + one combinable groupBy per
    // step; nothing collected), so the same code ranks a 100M-node
    // item-transition graph.
    QuerySpec("q76_event_pagerank", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.eventTransitions(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.pageRank(edges, damping = 0.85, iterations = 3)
        .select(col("node").as("event_type"), round(col("rank"), 6).as("rank"))
    },
      """WITH steps AS (
           SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
                  event_type AS dst
           FROM events),
         edges AS (
           SELECT src, dst,
             count(*)::DOUBLE / sum(count(*)) OVER (PARTITION BY src) AS p
           FROM steps WHERE src IS NOT NULL GROUP BY src, dst),
         nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
         nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
         r1 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM edges e JOIN r0 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r2 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM edges e JOIN r1 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r3 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM edges e JOIN r2 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node))
         SELECT node AS event_type, round(rank, 6) AS rank FROM r3"""),

    // Beyond-reference: triangle counting over the temporal interaction
    // graph — degree-oriented wedge join (Suri & Vassilvitskii WWW'11):
    // every edge orients from its (degree, id)-smaller endpoint, wedges
    // form only at sources (out-degree O(sqrt(E)) regardless of hubs),
    // one closing equi-join, map-side corner count. Top-10 users by
    // triangle participation.
    QuerySpec("q136_triangle_count", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.triangleCounts(edges)
        .orderBy(col("n_triangles").desc, col("user_id"))
        .limit(10)
    },
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                   SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
                 GROUP BY v),
         orient AS (SELECT
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS src,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS dst,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg
                           ELSE da.deg END AS dd
                    FROM und JOIN deg da ON und.a = da.v
                      JOIN deg db ON und.b = db.v),
         wedges AS (SELECT e1.u, e1.v, e2.w FROM
                      (SELECT src AS u, dst AS v, dd AS dv FROM orient) e1
                      JOIN (SELECT src AS u, dst AS w, dd AS dw FROM orient) e2
                        USING (u)
                    WHERE (e1.dv, e1.v) < (e2.dw, e2.w)),
         tri AS (SELECT u, v, w FROM wedges
                   JOIN orient o ON wedges.v = o.src AND wedges.w = o.dst),
         corners AS (SELECT unnest([u, v, w]) AS user_id FROM tri)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_triangles
         FROM corners GROUP BY user_id
         ORDER BY n_triangles DESC, user_id LIMIT 10"""),

    // Beyond-reference: k-core peeling over the interaction graph —
    // three fixed rounds of degree-< k vertex removal (one degree
    // count + two semi-joins per round, nothing collected); top-10
    // surviving users by (core degree, id).
    QuerySpec("q139_kcore", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.kCoreMembers(edges, k = 3, rounds = 3)
        .orderBy(col("core_degree").desc, col("user_id"))
        .limit(10)
    },
      // same adjacency edges as q136; three peel rounds as chained CTEs
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e0 AS (SELECT a AS u, b AS v FROM und
                UNION ALL SELECT b AS u, a AS v FROM und),
         k1 AS (SELECT u FROM e0 GROUP BY u HAVING count(*) >= 3),
         e1 AS (SELECT e0.u, e0.v FROM e0
                WHERE e0.u IN (SELECT u FROM k1)
                  AND e0.v IN (SELECT u FROM k1)),
         k2 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 3),
         e2 AS (SELECT e1.u, e1.v FROM e1
                WHERE e1.u IN (SELECT u FROM k2)
                  AND e1.v IN (SELECT u FROM k2)),
         k3 AS (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 3),
         e3 AS (SELECT e2.u, e2.v FROM e2
                WHERE e2.u IN (SELECT u FROM k3)
                  AND e2.v IN (SELECT u FROM k3))
         SELECT u AS user_id, CAST(count(*) AS BIGINT) AS core_degree
         FROM e3 GROUP BY u
         ORDER BY core_degree DESC, user_id LIMIT 10"""),

    // Beyond-reference: local clustering coefficients — 2T(v)/(d(d-1))
    // over the interaction graph, reusing the degree-oriented triangle
    // machinery; top-10 by (clustering, degree, id).
    QuerySpec("q140_clustering_coeff", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.clusteringCoefficients(edges)
        .orderBy(col("clustering").desc, col("degree").desc, col("user_id"))
        .limit(10)
        .select(col("user_id"), col("degree"), col("n_triangles"), col("clustering"))
    },
      // q136's triangle corners + raw degrees -> the standard coefficient
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         degs AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
                    SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und)
                  GROUP BY v),
         orient AS (SELECT
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN a ELSE b END AS src,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN b ELSE a END AS dst,
                      CASE WHEN (da.deg, a) < (db.deg, b) THEN db.deg
                           ELSE da.deg END AS dd
                    FROM und JOIN degs da ON und.a = da.v
                      JOIN degs db ON und.b = db.v),
         wedges AS (SELECT e1.u, e1.v, e2.w FROM
                      (SELECT src AS u, dst AS v, dd AS dv FROM orient) e1
                      JOIN (SELECT src AS u, dst AS w, dd AS dw FROM orient) e2
                        USING (u)
                    WHERE (e1.dv, e1.v) < (e2.dw, e2.w)),
         tri AS (SELECT u, v, w FROM wedges
                   JOIN orient o ON wedges.v = o.src AND wedges.w = o.dst),
         tc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_triangles
                FROM (SELECT unnest([u, v, w]) AS user_id FROM tri)
                GROUP BY user_id)
         SELECT degs.v AS user_id, degs.deg AS degree,
           COALESCE(tc.n_triangles, 0) AS n_triangles,
           round(2.0 * COALESCE(tc.n_triangles, 0) /
             (degs.deg * (degs.deg - 1)), 6) AS clustering
         FROM degs LEFT JOIN tc ON degs.v = tc.user_id
         WHERE degs.deg >= 2
         ORDER BY clustering DESC, degree DESC, user_id LIMIT 10"""),

    // Beyond-reference: time-decayed engagement — sum of value halved
    // per elapsed half-life window (integer div, exact powers of two,
    // no transcendental drift); top-10 users by recency-weighted score.
    QuerySpec("q143_decayed_engagement", Plain, (s, dir) => {
      graft.ops.Analytics.decayedEngagement(
        events(s, dir), "user_id", "ts", "value", halfLifeDays = 7)
        .orderBy(col("score").desc, col("user_id"))
        .limit(10)
    },
      // integer half-life windows -> exact powers of two on both engines
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                      value
                    FROM events),
         m AS (SELECT max(us) AS tmax FROM e),
         d AS (SELECT user_id, value, (tmax - us) // 604800000000 AS w
               FROM e, m)
         SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value * pow(2.0, -CAST(w AS DOUBLE))), 4) AS score
         FROM d GROUP BY user_id
         ORDER BY score DESC, user_id LIMIT 10"""),

    // Beyond-reference: degree assortativity (Newman 2002) — Pearson
    // correlation of endpoint degrees over the interaction graph;
    // integer sums, one closed-form float step.
    QuerySpec("q145_assortativity", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.degreeAssortativity(edges)
    },
      // symmetrized edges joined to endpoint degrees; integer sums into
      // the closed-form Pearson
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS u, b AS v FROM und
               UNION ALL SELECT b AS u, a AS v FROM und),
         deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
                 FROM e GROUP BY u),
         j AS (SELECT du.d AS du, dv.d AS dv
               FROM e JOIN deg du ON e.u = du.u JOIN deg dv ON e.v = dv.u),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS m,
                 sum(CAST(du AS DOUBLE)) AS sx, sum(CAST(dv AS DOUBLE)) AS sy,
                 sum(CAST(du * dv AS DOUBLE)) AS sxy,
                 sum(CAST(du * du AS DOUBLE)) AS sxx,
                 sum(CAST(dv * dv AS DOUBLE)) AS syy
               FROM j)
         SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           round((m*sxy - sx*sy) /
             (sqrt(m*sxx - sx*sx) * sqrt(m*syy - sy*sy)), 4) AS assortativity
         FROM s"""),

    // Beyond-reference: synchronous label-propagation communities
    // (Raghavan 2007) over the interaction graph — 3 deterministic
    // rounds of most-frequent-neighbor-label, ties to the smallest;
    // per round one equi-join + two map-side-combinable aggregates.
    QuerySpec("q146_label_propagation", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.labelPropagation(edges, rounds = 3)
    },
      // three unrolled synchronous rounds; per round the (node, label)
      // frequency then argmax with (freq DESC, label ASC) — the same
      // total tie-break as max(struct(f, -label))
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS u, b AS v FROM und
               UNION ALL SELECT b AS u, a AS v FROM und),
         l0 AS (SELECT DISTINCT u AS node, u AS label FROM e),
         c1 AS (SELECT e.u, l0.label, count(*) AS f
                FROM e JOIN l0 ON e.v = l0.node GROUP BY 1, 2),
         l1 AS (SELECT u AS node, label FROM c1
                QUALIFY row_number() OVER (PARTITION BY u
                  ORDER BY f DESC, label) = 1),
         c2 AS (SELECT e.u, l1.label, count(*) AS f
                FROM e JOIN l1 ON e.v = l1.node GROUP BY 1, 2),
         l2 AS (SELECT u AS node, label FROM c2
                QUALIFY row_number() OVER (PARTITION BY u
                  ORDER BY f DESC, label) = 1),
         c3 AS (SELECT e.u, l2.label, count(*) AS f
                FROM e JOIN l2 ON e.v = l2.node GROUP BY 1, 2),
         l3 AS (SELECT u AS node, label FROM c3
                QUALIFY row_number() OVER (PARTITION BY u
                  ORDER BY f DESC, label) = 1)
         SELECT node AS user_id, label AS community FROM l3"""),

    // Beyond-reference: event-volume anomaly days — per-type daily
    // counts z-scored against the trailing 7 rows (exact integer
    // window sums into a closed-form variance, identical doubles on
    // both engines); the feed-went-dark / feed-doubled monitor.
    QuerySpec("q147_volume_anomaly", Plain, (s, dir) => {
      graft.ops.Analytics.countAnomalies(
        events(s, dir), "event_type", "ts", trailing = 7, minTrail = 3)
        .filter(abs(col("zscore")) >= 1.5)
    },
      // trailing-7-rows z-score from exact integer window sums; the
      // closed-form mean/sd expressions are spelled identically to the
      // Spark side so the doubles match bit-for-bit
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          CAST(count(*) AS BIGINT) AS n
                        FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, day, n,
                 CAST(count(n) OVER tw AS BIGINT) AS k,
                 CAST(sum(n) OVER tw AS BIGINT) AS s,
                 CAST(sum(n * n) OVER tw AS BIGINT) AS s2
               FROM daily
               WINDOW tw AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT event_type, day, n,
                 CAST(s AS DOUBLE) / k AS mean,
                 sqrt(CAST(k * s2 - s * s AS DOUBLE) / (k * (k - 1))) AS sd
               FROM w WHERE k >= 3 AND k * s2 > s * s)
         SELECT event_type, day, n, round(mean, 6) AS trail_mean,
           round((n - mean) / sd, 6) AS zscore
         FROM z WHERE abs(round((n - mean) / sd, 6)) >= 1.5"""),

    // Beyond-reference: inter-arrival regularity (bot/scraper
    // heuristic) — coefficient of variation of per-user event gaps
    // from exact integer second sums; metronomic = cv < 0.5.
    QuerySpec("q150_bot_regularity", Plain, (s, dir) => {
      graft.ops.Analytics.interArrivalRegularity(
        events(s, dir), "user_id", "ts", "event_id",
        minEvents = 5, cvThreshold = 0.5)
        .orderBy(col("cv"), col("user_id")).limit(20)
    },
      // per-user second-floored gaps; exact integer moment sums into the
      // identical closed-form doubles; 20 steadiest actors
      """WITH g AS (SELECT user_id,
             epoch_us(ts) // 1000000 -
               lag(epoch_us(ts) // 1000000) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS gap
           FROM events),
         m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(gap) AS BIGINT) AS s,
                 CAST(sum(gap * gap) AS BIGINT) AS s2
               FROM g WHERE gap IS NOT NULL GROUP BY user_id),
         c AS (SELECT user_id, k + 1 AS n_events,
                 CAST(s AS DOUBLE) / k AS mean,
                 sqrt(CAST(k * s2 - s * s AS DOUBLE) / (k * (k - 1))) AS sd
               FROM m WHERE k >= 4 AND s > 0)
         SELECT user_id, n_events, round(mean, 6) AS mean_gap_s,
           round(sd / mean, 6) AS cv, sd / mean < 0.5 AS metronomic
         FROM c ORDER BY round(sd / mean, 6), user_id LIMIT 20"""),

    // Beyond-reference: deterministic NEGATIVE-EDGE sampling for
    // link-prediction training — content-addressed draws into the
    // ranked vertex list, self/real-edge rejection, first-2 survivors
    // per vertex; distributed rank + equi-joins, no RNG state.
    QuerySpec("q159_negative_edges", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.negativeEdgeSamples(edges, perNode = 2, draws = 8)
    },
      // ranked vertex list + md5-mod draws + rejection, replayed verbatim;
      // % equals pmod here because both operands are positive
      """WITH adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         verts AS (SELECT a AS node FROM und UNION SELECT b FROM und),
         ranked AS (SELECT node,
                      CAST(row_number() OVER (ORDER BY node) AS BIGINT) AS rn,
                      CAST(count(*) OVER () AS BIGINT) AS n
                    FROM verts),
         prop AS (SELECT v.node, j.j,
                    (('0x' || substr(md5(v.node::VARCHAR || ':' ||
                        j.j::VARCHAR || ':neg1'), 1, 12))::BIGINT % v.n) + 1
                      AS r
                  FROM ranked v, (SELECT unnest(range(1, 9)) AS j) j),
         tgt AS (SELECT p.node, t.node AS neg, min(p.j) AS j
                 FROM prop p JOIN ranked t ON t.rn = p.r
                 WHERE t.node <> p.node
                 GROUP BY p.node, t.node),
         surv AS (SELECT tgt.node, tgt.neg, tgt.j
                  FROM tgt LEFT JOIN und ON
                    und.a = least(tgt.node, tgt.neg) AND
                    und.b = greatest(tgt.node, tgt.neg)
                  WHERE und.a IS NULL)
         SELECT node AS user_id, neg AS negative,
           CAST(row_number() OVER (PARTITION BY node ORDER BY j) AS BIGINT)
             AS draw
         FROM surv
         QUALIFY row_number() OVER (PARTITION BY node ORDER BY j) <= 2"""),

    // Beyond-reference: Adamic–Adar link prediction over the interaction
    // graph — candidate (non-adjacent) pairs scored by sum 1/ln(deg) of
    // their common neighbors, hub centers (deg > 128) excluded from wedge
    // generation (their quadratic wedge sets carry near-constant signal).
    // Top-20 predicted links; the training-data companion to q159's
    // negative edges.
    QuerySpec("q168_adamic_adar", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.adamicAdar(edges, maxHubDegree = 128, minCommon = 2)
        .orderBy(col("aa_score").desc, col("u"), col("v"))
        .limit(20)
    },
      // adjacency edges from per-type lag windows, degree-oriented wedge
      // join, closing join, corner counts — row-value comparisons mirror
      // the engine's (deg, id) struct ordering
      // same edge CTE as q136; wedges at centers with deg <= 128, scores on
      // true degree, NOT EXISTS screens existing edges, rounded order cut
      """WITH adj0 AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj0 WHERE prev IS NOT NULL AND prev <> user_id),
         dir AS (SELECT a AS z, b AS x FROM und
                 UNION ALL SELECT b AS z, a AS x FROM und),
         deg AS (SELECT z, count(*) AS deg FROM dir GROUP BY z),
         adjf AS (SELECT dir.z, dir.x, 1.0 / ln(deg.deg) AS w
                  FROM dir JOIN deg USING (z) WHERE deg.deg <= 128),
         wedges AS (SELECT l.z, l.x AS u, r.x AS v, l.w
                    FROM adjf l JOIN adjf r USING (z) WHERE l.x < r.x),
         scored AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
                      sum(w) AS s
                    FROM wedges GROUP BY u, v HAVING count(*) >= 2),
         nonadj AS (SELECT * FROM scored sc
                    WHERE NOT EXISTS (SELECT 1 FROM und
                      WHERE und.a = sc.u AND und.b = sc.v))
         SELECT u, v, n_common, round(s, 6) AS aa_score FROM nonadj
         ORDER BY aa_score DESC, u, v LIMIT 20"""),

    // Beyond-reference: NEIGHBORHOOD FUNCTION (ANF / HyperANF family) —
    // N(h) = how many (v, w) pairs sit within h hops, the quantity
    // behind effective-diameter and reachability profiling of the
    // interaction graph. Exact iterative frontier expansion below the
    // node gate (this fixture: 150 nodes); above it the SAME operator
    // switches to HyperBall — one 64-register HLL per node max-merged
    // along edges per hop, O(nodes × 64 B) state at any graph size
    // (accuracy pinned by OpsSpec on a gate-lifted fixture; the sketch
    // path is estimate-valued, so the oracle covers the exact path).
    // The oracle replays the BFS with a hop-capped recursive CTE over
    // the same lag-derived edges as q136.
    QuerySpec("q236_neighborhood_function", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 4)
        .orderBy(col("hop"))
    },
      // min-hop BFS replayed with a RECURSIVE CTE (UNION dedups the
      // reached (v, w, hop) rows, so cycles terminate); pair counts at
      // each hop must equal the engine's iterative frontier expansion
      """WITH RECURSIVE adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS src, b AS dst FROM und
               UNION SELECT b, a FROM und),
         n AS (SELECT DISTINCT src AS v FROM e),
         walk(v, w, hop) AS (
           SELECT v, v, 0 FROM n
           UNION
           SELECT wk.v, e.dst, wk.hop + 1
           FROM walk wk JOIN e ON e.src = wk.w
           WHERE wk.hop < 4),
         nf AS (SELECT v, w, min(hop) AS mh FROM walk GROUP BY v, w),
         hops AS (SELECT unnest(range(0, 5)) AS hop)
         SELECT CAST(hops.hop AS BIGINT) AS hop,
                CAST(count(*) AS BIGINT) AS n_pairs
         FROM hops JOIN nf ON nf.mh <= hops.hop
         GROUP BY hops.hop ORDER BY hop"""),

    // Beyond-reference: EFFECTIVE DIAMETER from the q236 neighborhood
    // function — the smallest hop reaching ≥ 90% of the maximal
    // reachable-pair mass, decided in pure integers (10·N(h) ≥ 9·N(max),
    // no float ceil ambiguity). The ANF/HyperBall machinery does the
    // work; this is the one-row reachability summary a graph datacard
    // reports.
    QuerySpec("q246_effective_diameter", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.interactionEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      val nf = graft.ops.Analytics.neighborhoodFunction(edges, maxHops = 4)
      val maxRow = nf.agg(max(col("n_pairs")).as("n_pairs_max"))
      nf.crossJoin(broadcast(maxRow))
        .filter(col("n_pairs") * 10 >= col("n_pairs_max") * 9)
        .groupBy(col("n_pairs_max"))
        .agg(min(col("hop")).cast("long").as("hop_eff"))
        .select(col("hop_eff"), col("n_pairs_max"))
    },
      // the q236 exact walk plus the integer 90%-mass selection
      """WITH RECURSIVE adj AS (SELECT user_id,
                        lag(user_id) OVER (PARTITION BY event_type
                          ORDER BY ts, event_id) AS prev
                      FROM events),
         und AS (SELECT DISTINCT least(prev, user_id) AS a,
                   greatest(prev, user_id) AS b
                 FROM adj WHERE prev IS NOT NULL AND prev <> user_id),
         e AS (SELECT a AS src, b AS dst FROM und
               UNION SELECT b, a FROM und),
         n AS (SELECT DISTINCT src AS v FROM e),
         walk(v, w, hop) AS (
           SELECT v, v, 0 FROM n
           UNION
           SELECT wk.v, e.dst, wk.hop + 1
           FROM walk wk JOIN e ON e.src = wk.w
           WHERE wk.hop < 4),
         nf AS (SELECT v, w, min(hop) AS mh FROM walk GROUP BY v, w),
         hops AS (SELECT unnest(range(0, 5)) AS hop),
         nfh AS (SELECT CAST(hops.hop AS BIGINT) AS hop,
                   CAST(count(*) AS BIGINT) AS n_pairs
                 FROM hops JOIN nf ON nf.mh <= hops.hop
                 GROUP BY hops.hop),
         mx AS (SELECT CAST(max(n_pairs) AS BIGINT) AS n_pairs_max FROM nfh)
         SELECT CAST(min(hop) AS BIGINT) AS hop_eff,
                (SELECT n_pairs_max FROM mx) AS n_pairs_max
         FROM nfh CROSS JOIN mx
         WHERE n_pairs * 10 >= n_pairs_max * 9"""),

    // Beyond-reference: TEMPORAL REACHABILITY — time-respecting BFS
    // (edge times never decrease along a path) from 10 seed users over
    // the directed temporal interaction graph, 3 hops: the influence/
    // contagion primitive a static BFS answers WRONGLY. Min-arrival
    // relaxation (provably sound+complete for this semantics — an
    // earlier arrival admits a superset of onward edges) keeps one row
    // per (seed, node); per-round equi-join + min-merge with the
    // CC/ANF lineage discipline. The census sums exact earliest
    // arrivals in micros.
    QuerySpec("q249_temporal_reach", Plain, (s, dir) => {
      val edges = graft.ops.Analytics.temporalEdges(
        events(s, dir), "user_id", "event_type", "ts", "event_id")
      val seeds = s.range(10).select(col("id").as("seed"))
      val dist = graft.ops.Analytics.temporalReachability(edges, seeds, maxHops = 3)
      val census = dist.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"), sum(col("t")).as("arrival_sum_us"))
      seeds.join(census, Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("arrival_sum_us"), lit(0L)).as("arrival_sum_us"))
        .orderBy(col("seed"))
    },
      // every time-respecting walk ≤ 3 hops enumerated recursively; the
      // engine's min-arrival relaxation must land on the same earliest
      // arrivals and reach sets
      """WITH RECURSIVE ev AS (SELECT user_id, epoch_us(ts) AS t,
                lag(user_id) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS prev
              FROM events),
         edges AS (SELECT DISTINCT prev AS src, user_id AS dst, t FROM ev
                   WHERE prev IS NOT NULL AND prev <> user_id),
         seeds AS (SELECT unnest(range(0, 10)) AS seed),
         walk(seed, node, t, hop) AS (
           SELECT seed, seed, CAST(-1 AS BIGINT), 0 FROM seeds
           UNION
           SELECT w.seed, e.dst, e.t, w.hop + 1
           FROM walk w JOIN edges e ON e.src = w.node AND e.t >= w.t
           WHERE w.hop < 3),
         reach AS (SELECT seed, node, min(t) AS t FROM walk
                   WHERE node <> seed GROUP BY seed, node),
         cen AS (SELECT seed, count(*) AS n, sum(t) AS st
                 FROM reach GROUP BY seed)
         SELECT s.seed, CAST(coalesce(cen.n, 0) AS BIGINT) AS n_reached,
                CAST(coalesce(cen.st, 0) AS BIGINT) AS arrival_sum_us
         FROM seeds s LEFT JOIN cen USING (seed)
         ORDER BY seed"""),

    // Beyond-reference: BOUNDED-HOP CHEAPEST PATHS — min-plus
    // (Bellman–Ford) relaxation from 10 seed users over the weighted
    // directed interaction graph, 3 rounds: per-round equi-join +
    // min-merge with the CC/ANF lineage discipline, parallel edges
    // pre-reduced to their cheapest weight. Exact integer costs; the
    // oracle enumerates every ≤3-hop walk and must land on the same
    // minima.
    QuerySpec("q251_shortest_paths", Plain, (s, dir) => {
      val ev = events(s, dir)
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      val edges = ev
        .withColumn("__prev", lag(col("user_id"), 1).over(w))
        .filter(col("__prev").isNotNull && col("__prev") =!= col("user_id"))
        .select(col("__prev").as("src"), col("user_id").as("dst"),
          (lit(1L) + pmod(col("event_id"), lit(7L))).as("w"))
      val seeds = s.range(10).select(col("id").as("seed"))
      val dist = graft.ops.Analytics.boundedShortestPaths(edges, seeds, maxHops = 3)
      val census = dist.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"))
        .agg(count(lit(1)).as("n_reached"), sum(col("cost")).as("cost_sum"),
          max(col("cost")).as("cost_max"))
      seeds.join(census, Seq("seed"), "left")
        .select(col("seed"),
          coalesce(col("n_reached"), lit(0L)).as("n_reached"),
          coalesce(col("cost_sum"), lit(0L)).as("cost_sum"),
          coalesce(col("cost_max"), lit(0L)).as("cost_max"))
        .orderBy(col("seed"))
    },
      // every ≤3-hop walk enumerated over the min-reduced edges; the
      // engine's min-plus relaxation must land on the same minima
      """WITH RECURSIVE ev AS (SELECT user_id, event_id,
                lag(user_id) OVER (PARTITION BY event_type
                  ORDER BY ts, event_id) AS prev
              FROM events),
         e0 AS (SELECT DISTINCT prev AS src, user_id AS dst,
                  1 + event_id % 7 AS w
                FROM ev WHERE prev IS NOT NULL AND prev <> user_id),
         edges AS (SELECT src, dst, CAST(min(w) AS BIGINT) AS w
                   FROM e0 GROUP BY src, dst),
         seeds AS (SELECT unnest(range(0, 10)) AS seed),
         walk(seed, node, cost, hop) AS (
           SELECT seed, seed, CAST(0 AS BIGINT), 0 FROM seeds
           UNION
           SELECT wk.seed, e.dst, wk.cost + e.w, wk.hop + 1
           FROM walk wk JOIN edges e ON e.src = wk.node
           WHERE wk.hop < 3),
         best AS (SELECT seed, node, min(cost) AS c FROM walk
                  WHERE node <> seed GROUP BY seed, node),
         cen AS (SELECT seed, count(*) AS n, sum(c) AS sc, max(c) AS mc
                 FROM best GROUP BY seed)
         SELECT s.seed, CAST(coalesce(cen.n, 0) AS BIGINT) AS n_reached,
                CAST(coalesce(cen.sc, 0) AS BIGINT) AS cost_sum,
                CAST(coalesce(cen.mc, 0) AS BIGINT) AS cost_max
         FROM seeds s LEFT JOIN cen USING (seed)
         ORDER BY seed""")
  )
}
