package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Dataset curation: sampling, mixing, packing and sharding, data cards,
  * and evaluation of scorers and features.
  */
object CurationQueries {
  val specs: Seq[QuerySpec] = Seq(
    // Beyond-reference: deterministic stratified sampling for training
    // mixes — content-addressed Bernoulli per stratum (md5-bucket string
    // compare), so the sample is identical across runs, engines, and
    // cluster sizes; a pure scan predicate, zero shuffle.
    QuerySpec("q48_stratified_sample", Plain, (s, dir) => {
      val keep = graft.ops.Sampling.stratifiedKeep(
        col("doc_id"), col("lang"),
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125), default = 0.0625)
      t(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
    },
      """WITH k AS (
           SELECT lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS b
           FROM documents)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE
             WHEN lang = 'en' AND b < '8000' THEN 1
             WHEN lang = 'de' AND b < '4000' THEN 1
             WHEN lang = 'fr' AND b < '2000' THEN 1
             WHEN lang NOT IN ('en','de','fr') AND b < '1000' THEN 1
             ELSE 0 END) AS BIGINT) AS n_sampled
         FROM k GROUP BY lang"""),

    // Beyond-reference: token-budget shard packing — docs pack greedily
    // into ~5000-token shards per source via a per-stratum prefix-sum
    // window (parallel across sources, no global sort).
    QuerySpec("q49_token_shards", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packByBudget(docs, "source", "doc_id", "n_tokens", budget = 5000L)
        .groupBy(col("source"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"))
    },
      """WITH d AS (
           SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         packed AS (
           SELECT source, n_tokens,
             CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 5000.0)
               AS BIGINT) AS shard
           FROM d)
         SELECT source, shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
         FROM packed GROUP BY source, shard"""),

    // Beyond-reference: training-mix weighting — per (source, lang)
    // corpus stats with sqrt-scaled sampling weights (the standard
    // square-root temperature mix), normalized against the broadcast
    // total. One map-side-combinable agg over the corpus; the group
    // table is tiny at any scale.
    QuerySpec("q56_mix_weights", Plain, (s, dir) => {
      val g = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.ops.TextOps.tokenCount(col("text")).cast("long")).as("n_tokens"))
        .withColumn("__w", sqrt(col("n_tokens").cast("double")))
      val tot = g.agg(sum(col("__w")).as("__tw"))
      g.crossJoin(broadcast(tot))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          round(col("__w") / col("__tw"), 6).as("mix_weight"))
    },
      """WITH g AS (
           SELECT source, lang, count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1, 2),
         tot AS (SELECT sum(sqrt(CAST(n_tokens AS DOUBLE))) AS tw FROM g)
         SELECT source, lang, n_docs, n_tokens,
           round(sqrt(CAST(n_tokens AS DOUBLE)) / tw, 6) AS mix_weight
         FROM g, tot"""),

    // Beyond-reference: deterministic WEIGHTED sampling without
    // replacement (Efraimidis–Spirakis race keys over content-addressed
    // uniforms) — quality/length-weighted corpus sampling whose result is
    // identical on every engine; top-k by race key is
    // TakeOrderedAndProject, never a global sort.
    QuerySpec("q79_weighted_sample", Plain, (s, dir) => {
      graft.ops.Sampling.weightedSample(
        t(s, dir, "documents"), col("doc_id"), col("n_chars").cast("double"), k = 50)
        .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"))
    },
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars FROM (
           SELECT doc_id, n_chars,
             -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                       AS BIGINT) + 1.0) / power(16.0, 13))
               / CAST(n_chars AS DOUBLE) AS race
           FROM documents)
         ORDER BY race LIMIT 50"""),

    // Beyond-reference: per-language weighted sample — k race winners
    // within every stratum via one stratum-partitioned window (parallel
    // across strata; the training-mix "n docs per language, weighted by
    // length" selector).
    QuerySpec("q80_stratified_weighted_sample", Plain, (s, dir) => {
      graft.ops.Sampling.stratifiedWeightedSample(
        t(s, dir, "documents"),
        col("doc_id"), col("n_chars").cast("double"), col("lang"), k = 10)
        .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"))
    },
      """SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars FROM (
           SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY
               -ln((CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                         AS BIGINT) + 1.0) / power(16.0, 13))
                 / CAST(n_chars AS DOUBLE)) AS rk
           FROM documents)
         WHERE rk <= 10"""),

    // Beyond-reference: concat-and-chunk sequence packing — 2048-token
    // context windows per source, docs straddle window boundaries; one
    // row per window with doc/fragment/token accounting. Pure
    // window-cumsum + per-doc range explode; DuckDB replays it with the
    // same running sum and generate_series.
    QuerySpec("q95_sequence_packing", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.ops.Packing.packSequences(docs, "source", "doc_id", "n_tokens", seqLen = 2048L)
    },
      """WITH d AS (
           SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
           FROM documents),
         pos AS (
           SELECT source, n_tokens,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
           FROM d WHERE n_tokens > 0),
         spans AS (
           SELECT source, s, s + n_tokens AS e,
             CAST(floor(s / 2048.0) AS BIGINT) AS f,
             CAST(floor((s + n_tokens - 1) / 2048.0) AS BIGINT) AS l
           FROM pos),
         ex AS (
           SELECT source, s, e, f, l, unnest(generate_series(f, l)) AS seq_id
           FROM spans)
         SELECT source, seq_id, count(*) AS n_docs,
           CAST(sum(CASE WHEN f < l THEN 1 ELSE 0 END) AS BIGINT) AS n_fragments,
           CAST(sum(least(e, (seq_id + 1) * 2048) - greatest(s, seq_id * 2048)) AS BIGINT) AS seq_tokens
         FROM ex GROUP BY source, seq_id"""),

    // Beyond-reference: DSIR-style importance scoring (Xie et al. 2023) —
    // every doc scored by the mean token log-likelihood ratio under
    // hashed unigram models of the TARGET set (lang='en') vs the whole
    // corpus; top-50 "most target-like" docs. The portable md5 bucket
    // hash lets DuckDB replay the models and scores exactly.
    QuerySpec("q100_importance_resample", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Sampling.importanceScore(
        docs, docs.filter(col("lang") === "en"), "doc_id", "text",
        buckets = 1024, k = 50)
        .select(col("id").as("doc_id"), col("score"))
    },
      // replay of the hashed-unigram importance models: same md5 buckets,
      // same add-one smoothing, same (rounded score, id) selection order
      """WITH b AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 1024 AS b
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                 FROM documents)),
         tt AS (SELECT b.b, count(*) AS t FROM b
                JOIN documents d USING (doc_id) WHERE d.lang = 'en' GROUP BY 1),
         cc AS (SELECT b, count(*) AS c FROM b GROUP BY 1),
         tot AS (SELECT
             (SELECT count(*) FROM b JOIN documents d USING (doc_id)
              WHERE d.lang = 'en') AS ttot,
             (SELECT count(*) FROM b) AS ctot),
         dom AS (SELECT range AS b FROM range(1024)),
         lr AS (SELECT dom.b,
             ln((COALESCE(tt.t, 0) + 1.0) / (tot.ttot + 1024)) -
             ln((COALESCE(cc.c, 0) + 1.0) / (tot.ctot + 1024)) AS lr
           FROM dom CROSS JOIN tot
           LEFT JOIN tt ON dom.b = tt.b
           LEFT JOIN cc ON dom.b = cc.b)
         SELECT doc_id, score FROM (
           SELECT b.doc_id, round(avg(lr.lr), 3) AS score
           FROM b JOIN lr ON b.b = lr.b GROUP BY 1)
         ORDER BY score DESC, doc_id LIMIT 50"""),

    // Beyond-reference: deterministic EPOCH SHUFFLE — seed-keyed md5
    // permutation into shards (shard = key bucket, position = in-shard
    // key rank): every epoch is a different but exactly reproducible
    // permutation on any engine/cluster size; DuckDB replays it verbatim.
    QuerySpec("q105_epoch_shuffle", Plain, (s, dir) => {
      graft.ops.Sampling.epochShuffle(
        t(s, dir, "documents").select(col("doc_id")), "doc_id",
        seed = "epoch1", numShards = 8)
        .select(col("doc_id"), col("shard"), col("pos"))
    },
      // same md5 permutation key, bucket, and rank in SQL
      """WITH keyed AS (
           SELECT doc_id,
             md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS k,
             ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % 8 AS shard
           FROM documents)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY k, doc_id) AS BIGINT) AS pos
         FROM keyed"""),

    // Beyond-reference: temperature-based source mixing (mT5 alpha
    // rebalancing) — per-source quota round(budget * n^alpha / Z), each
    // source keeps its quota of smallest content-addressed draws. The
    // oracle replays quota arithmetic and the draw ordering exactly.
    QuerySpec("q115_temperature_mix", Plain, (s, dir) => {
      val kept = graft.ops.Sampling.temperatureMix(
        t(s, dir, "documents"), col("doc_id"), col("source"),
        alpha = 0.5, budget = 300L)
      kept.groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
    },
      // same quota arithmetic (pow/round on doubles) and the same
      // content-addressed draw ordering (13-hex-char md5 uniform)
      """WITH counts AS (SELECT source, CAST(count(*) AS DOUBLE) AS n
                         FROM documents GROUP BY 1),
         w AS (SELECT source, pow(n, 0.5) AS w FROM counts),
         z AS (SELECT sum(w) AS z FROM w),
         quota AS (SELECT source, CAST(round(300 * w / z) AS BIGINT) AS q
                   FROM w, z),
         ranked AS (
           SELECT d.doc_id, d.source, q.q,
             row_number() OVER (PARTITION BY d.source ORDER BY
               (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 13))::BIGINT
                 + 1.0) / 4503599627370496.0,
               d.doc_id) AS rk
           FROM documents d JOIN quota q USING (source))
         SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
         FROM ranked WHERE rk <= q GROUP BY 1"""),

    // Beyond-reference: the per-source CORPUS DATACARD — the one-page
    // artifact a dataset release ships: docs, token mass, quality mean,
    // near-dup exposure, dominant language, all from the already-proven
    // column expressions + the exact dedup cascade in one pass family.
    QuerySpec("q161_corpus_datacard", Plain, (s, dir) => {
      val docs = graft.ops.Par.widen(t(s, dir, "documents"))
      val prof = docs.select(col("doc_id"), col("source"),
        graft.ops.TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
        graft.ops.TextOps.qualityScore(col("text")).as("q"),
        graft.ops.TextOps.langId(col("text")).as("lang"))
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val dupDocs = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id"))).distinct()
        .withColumn("__dup", lit(1))
      val langTop = prof.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("source"))
        .agg(min(struct((-col("__c")).as("nc"), col("lang").as("l"))).as("__b"))
        .select(col("source"), col("__b.l").as("top_lang"))
      prof.join(dupDocs, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          round(avg(col("q")), 4).as("avg_quality"),
          count(col("__dup")).as("n_neardup_docs"))
        .withColumn("dup_rate",
          round(col("n_neardup_docs").cast("double") / col("n_docs"), 6))
        .join(langTop, Seq("source"))
    },
      // q26's lang/quality spellings + q27's exact pairs folded into the
      // one release artifact; top language ties break by marker order
      // (en,de,fr,es,zh — the same CASE order), dup docs via a left join
      """WITH scored AS (
           SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('hash','join','key'))) AS s_zh,
             CAST(length(text) AS DOUBLE) AS n_chars
           FROM documents),
         labeled AS (
           SELECT doc_id, source, n_tokens,
             CASE WHEN s_en = gm AND gm > 0 THEN 'en'
                  WHEN s_de = gm AND gm > 0 THEN 'de'
                  WHEN s_fr = gm AND gm > 0 THEN 'fr'
                  WHEN s_es = gm AND gm > 0 THEN 'es'
                  WHEN s_zh = gm AND gm > 0 THEN 'zh'
                  ELSE 'und' END AS pred_lang,
             (0.5 * least(n_chars / 500.0, 1.0) +
              0.5 * (1.0 - least(abs((n_chars - (CAST(n_tokens AS DOUBLE) - 1.0))
                                     / CAST(n_tokens AS DOUBLE) - 5.0) / 5.0, 1.0))) *
             (CASE WHEN n_tokens < 5 THEN 0.5 ELSE 1.0 END) AS quality
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm
                 FROM scored)),
         sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         dup AS (SELECT id_a AS doc_id FROM pairs
                 UNION SELECT id_b FROM pairs),
         lt AS (SELECT source, pred_lang, count(*) AS c
                FROM labeled GROUP BY 1, 2),
         top AS (SELECT source, pred_lang AS top_lang FROM lt
                 QUALIFY row_number() OVER (PARTITION BY source
                   ORDER BY c DESC, pred_lang) = 1)
         SELECT l.source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(l.n_tokens) AS BIGINT) AS total_tokens,
           round(avg(l.quality), 4) AS avg_quality,
           CAST(count(d.doc_id) AS BIGINT) AS n_neardup_docs,
           round(CAST(count(d.doc_id) AS DOUBLE) / count(*), 6) AS dup_rate,
           any_value(t.top_lang) AS top_lang
         FROM labeled l
         LEFT JOIN dup d ON d.doc_id = l.doc_id
         JOIN top t ON t.source = l.source
         GROUP BY l.source"""),

    // Beyond-reference: MOJIBAKE repair (the ftfy-core digraph table as
    // a codegen replace chain) — corruption planted deterministically on
    // every 5th doc (UTF-8-as-Latin-1 of á/é), repaired by the FULL
    // chain, and checked exact against the intended accented text.
    // Beyond-reference: UniMax language-sampling allocation (Chung et
    // al. 2023) — water-fill a token budget (half the corpus) across
    // languages with a 2-epoch cap, the fairness-first alternative to
    // q56/q115's temperature mixes. Closed-form window-function
    // water-filling over the tiny group table; the only corpus-wide work
    // is one map-side-combinable token-count agg.
    QuerySpec("q167_unimax_mix", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val total = docs.agg(
        sum(graft.ops.TextOps.tokenCount(col("text")).cast("double")))
        .first().getDouble(0)
      graft.ops.Sampling.unimaxAllocation(
        docs, Seq("lang"), graft.ops.TextOps.tokenCount(col("text")),
        budget = 0.5 * total, maxEpochs = 2.0)
    },
      // water-filling with epoch caps, replayed with the same closed form:
      // candidate level at each sorted rank, water level = level at the
      // first uncapped rank
      """WITH g AS (
           SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS capacity
           FROM documents GROUP BY 1),
         tot AS (SELECT 0.5 * sum(capacity) AS b FROM g),
         r AS (SELECT lang, capacity, capacity * 2.0 AS cap,
                 CAST(row_number() OVER (ORDER BY capacity * 2.0, lang)
                   AS DOUBLE) AS i,
                 CAST(count(*) OVER () AS DOUBLE) AS n,
                 coalesce(sum(capacity * 2.0) OVER (
                   ORDER BY capacity * 2.0, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumprev
               FROM g),
         l AS (SELECT r.*, ((SELECT b FROM tot) - cumprev) / (n - i + 1.0)
                 AS level FROM r),
         s AS (SELECT l.*, min(CASE WHEN cap >= level THEN i END) OVER ()
                 AS istar FROM l),
         s2 AS (SELECT s.*, max(CASE WHEN i = istar THEN level END) OVER ()
                 AS lstar FROM s)
         SELECT lang, CAST(capacity AS BIGINT) AS n_tokens,
           round(CASE WHEN lstar IS NULL THEN cap
                      ELSE least(cap, lstar) END, 4) AS alloc_tokens,
           round(CASE WHEN lstar IS NULL THEN cap
                      ELSE least(cap, lstar) END / capacity, 6) AS epochs
         FROM s2"""),

    // Beyond-reference: EPOCH EXPANSION — q167's UniMax allocation
    // realized as an actual oversampled training stream: floor(epochs)
    // full copies per doc plus a content-addressed fractional share
    // (budget 1.2x corpus, 3-epoch cap, so small languages hit the cap
    // and large ones land fractional). Per-language realized-vs-target
    // epochs; zero RNG state, engine-reproducible.
    QuerySpec("q177_epoch_expand", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val total = docs.agg(
        sum(graft.ops.TextOps.tokenCount(col("text")).cast("double")))
        .first().getDouble(0)
      val alloc = graft.ops.Sampling.unimaxAllocation(
        docs, Seq("lang"), graft.ops.TextOps.tokenCount(col("text")),
        budget = 1.2 * total, maxEpochs = 3.0)
        .select(col("lang"), col("epochs"))
      val expanded = graft.ops.Sampling.epochExpand(
        docs.join(broadcast(alloc), "lang"), "doc_id", col("epochs"))
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
        .join(expanded.groupBy(col("lang")).agg(count(lit(1)).as("n_out")),
          Seq("lang"), "left")
        .join(broadcast(alloc), "lang")
        .select(col("lang"), col("n_in"), coalesce(col("n_out"), lit(0L)).as("n_out"),
          col("epochs").as("target_epochs"),
          round(coalesce(col("n_out"), lit(0L)).cast("double") / col("n_in"), 6)
            .as("realized_epochs"))
    },
      // q167's water-fill at budget 1.2x / cap 3.0, epochs rounded to 6dp
      // BEFORE expansion (both engines), then the md5 uniform01 replay
      """WITH g AS (
           SELECT lang,
             CAST(sum(len(string_split(text, ' '))) AS DOUBLE) AS capacity
           FROM documents GROUP BY 1),
         tot AS (SELECT 1.2 * sum(capacity) AS b FROM g),
         r AS (SELECT lang, capacity, capacity * 3.0 AS cap,
                 CAST(row_number() OVER (ORDER BY capacity * 3.0, lang)
                   AS DOUBLE) AS i,
                 CAST(count(*) OVER () AS DOUBLE) AS n,
                 coalesce(sum(capacity * 3.0) OVER (
                   ORDER BY capacity * 3.0, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cumprev
               FROM g),
         l AS (SELECT r.*, ((SELECT b FROM tot) - cumprev) / (n - i + 1.0)
                 AS level FROM r),
         s AS (SELECT l.*, min(CASE WHEN cap >= level THEN i END) OVER ()
                 AS istar FROM l),
         s2 AS (SELECT s.*, max(CASE WHEN i = istar THEN level END) OVER ()
                 AS lstar FROM s),
         alloc AS (SELECT lang,
                     round(CASE WHEN lstar IS NULL THEN cap
                                ELSE least(cap, lstar) END / capacity, 6)
                       AS e
                   FROM s2),
         d AS (SELECT documents.lang AS lang, e,
                 CAST(floor(e) AS BIGINT) +
                 CASE WHEN (CAST(concat('0x', substr(md5(
                        CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) + 1.0)
                        / power(16.0, 13) < e - floor(e)
                      THEN 1 ELSE 0 END AS cnt
               FROM documents JOIN alloc USING (lang))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_in,
           CAST(sum(cnt) AS BIGINT) AS n_out,
           any_value(e) AS target_epochs,
           round(sum(cnt) / CAST(count(*) AS DOUBLE), 6) AS realized_epochs
         FROM d GROUP BY lang"""),

    // Beyond-reference: stride-scheduled source INTERLEAVING (start-time
    // fair queuing) — the training-order construction where every source
    // is consumed evenly across the epoch; by lang here so the head of
    // the order provably alternates in corpus proportion. First 60
    // positions of the global order.
    QuerySpec("q182_stride_interleave", Plain, (s, dir) => {
      graft.ops.Sampling.interleaveByStride(
          t(s, dir, "documents").select(col("lang"), col("doc_id")),
          "lang", "doc_id")
        .orderBy(col("stride_key"), col("lang"), col("doc_id"))
        .limit(60)
        .select(row_number().over(Window.orderBy(
            col("stride_key"), col("lang"), col("doc_id"))).cast("long")
            .as("position"),
          col("lang"), col("doc_id"), round(col("stride_key"), 8).as("k"))
    },
      // same (i - 0.5)/n_s stride keys, same (key, lang, id) total order
      """WITH r AS (SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id)
               AS DOUBLE) AS i,
             CAST(count(*) OVER (PARTITION BY lang) AS DOUBLE) AS n
           FROM documents),
         k AS (SELECT lang, doc_id, (i - 0.5) / n AS sk FROM r),
         top AS (SELECT lang, doc_id, sk FROM k
                 ORDER BY sk, lang, doc_id LIMIT 60)
         SELECT CAST(row_number() OVER (ORDER BY sk, lang, doc_id)
             AS BIGINT) AS position,
           lang, doc_id, round(sk, 8) AS k
         FROM top"""),

    // Beyond-reference: SHARD INTEGRITY MANIFEST — per epoch-shuffle
    // shard, the row/token counts and an ORDER-INDEPENDENT modular
    // content digest (sum of per-doc portable hashes mod p): a training
    // loader verifies each shard it reads against the manifest whatever
    // order workers consume rows in; any engine reproduces the digests.
    QuerySpec("q183_shard_manifest", Plain, (s, dir) => {
      val p = 1000000007L
      val sh = graft.ops.Sampling.epochShuffle(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", seed = "epoch1", numShards = 8)
      sh.groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.ops.TextOps.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          pmod(sum(pmod(graft.ops.Sketches.portableHash60(
            concat(col("doc_id").cast("string"), lit(":"), col("text"))),
            lit(p))), lit(p)).as("digest"))
    },
      // q105's shard replay + the 60-bit md5 hash, summed mod p (order-
      // independent, so any execution order produces the same digest)
      """WITH keyed AS (
           SELECT doc_id, text,
             ('0x' || substr(md5('epoch1:' || CAST(doc_id AS VARCHAR)),
               1, 4))::BIGINT % 8 AS shard,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text),
               1, 15))::BIGINT % 1000000007 AS h
           FROM documents)
         SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(h) % 1000000007 AS BIGINT) AS digest
         FROM keyed GROUP BY shard"""),

    // Beyond-reference: END-TO-END CURATION DATACARD — the FineWeb/CCNet
    // chain composed from this round's full operator set as ONE query
    // with per-stage attrition rows: sanitize (mojibake repair + NFC,
    // over the q164/q169-style deterministic plant since the fixture is
    // clean ASCII) → marker lang-ID gate → quality + repetition gate →
    // paragraph-level near-dup with reassembly → doc-level 3-gram
    // near-dup (keep-first) → contamination canary screen → UniMax
    // language mix → 512-token sequence packing. Stage frames are
    // pinned once so the cascades run once, not per attrition row;
    // rows 0-6 count surviving docs/tokens, row 7 the allocated token
    // budget, row 8 the packed bins/tokens. Doubles as the composition
    // regression test over the whole operator family.
    QuerySpec("q192_curation_datacard", Plain, (s, dir) => {
      val T = graft.ops.TextOps
      val De = graft.ops.Dedup
      val m4 = pmod(col("doc_id"), lit(4))
      val corrupted = when(pmod(col("doc_id"), lit(5)) === 0,
        expr("replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©')"))
        .otherwise(col("text"))
      val planted = concat(corrupted,
        when(m4 === 0, lit("é")).when(m4 === 1, lit("Å"))
          .when(m4 === 2, lit("Ω")).otherwise(lit("")))
      val text1 = T.nfcNormalize(T.fixMojibake(planted))
      val M = graft.ops.Materialize
      val base = M.pin(t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          T.tokenCount(col("text")).cast("long").as("tok0"), text1.as("text1"))
        .withColumn("tok1", T.tokenCount(col("text1")).cast("long"))
        .withColumn("p2", T.langId(col("text1")) =!= "und")
        .withColumn("p3", T.qualityScore(col("text1")) >= 0.5 &&
          T.uniqueTokenRatio(col("text1")) >= 0.4)
        // widen BEFORE the pin (same rationale as q201: the
        // mojibake/NFC/langid/quality kernels parallelize and every
        // downstream cascade's Par.widen gate then no-ops).
        .transform(graft.ops.Par.widen))
      // EAGER stage aggregates into a local 9-row frame: a lazy
      // 9-branch union would hand Catalyst the full multi-cascade
      // lineage NINE times over — at sf0.1 the analysis/optimization of
      // that tree alone cost ~45 s (55.8 s total vs ~13 s for the
      // stage computations; the plan string OOMs a 1 GB driver just
      // printing). Each stage is one aggregate over a pinned frame;
      // rows 0-3 share one conditional-aggregation pass over `base`.
      // The datacard is an attrition REPORT — 9 rows — so a local
      // result frame is its natural shape (the q190 model-artifact
      // pattern), and the timed work is identical.
      val r03 = base.agg(
        count(lit(1)), coalesce(sum(col("tok0")), lit(0L)),
        coalesce(sum(col("tok1")), lit(0L)),
        count(when(col("p2"), 1)),
        coalesce(sum(when(col("p2"), col("tok1"))), lit(0L)),
        count(when(col("p2") && col("p3"), 1)),
        coalesce(sum(when(col("p2") && col("p3"), col("tok1"))), lit(0L)))
        .first()
      def stageOf(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("tok2")), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
      }
      // the stage frames and the cascades' own pins (code arrays, shingle
      // sets) are released once the stage aggregates are collected
      val ((d4, t4), (d5, t5), (d6, t6), t7, p8) = M.scoped {
        val s3 = base.filter(col("p2") && col("p3"))
        val pd = De.paragraphDedup(s3.select(col("doc_id"), col("text1")),
          "doc_id", "text1", threshold = 0.7,
          paragraphs = De.tokenWindows(20))
        val s4 = M.pin(s3
          .join(pd.filter(col("n_kept") > 0)
            .select(col("doc_id"), col("text_kept").as("text2")), "doc_id")
          .withColumn("tok2", T.tokenCount(col("text2")).cast("long")))
        val pairs = De.nearDuplicatesExact(
          s4.select(col("doc_id"), col("text2")), "doc_id", "text2",
          threshold = 0.6, includeMinHashCandidates = false)
        val s5 = M.pin(s4.join(
          pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
        val canaries = Seq("hash join", "fast data", "data data")
        val s6 = M.pin(s5.filter(aggregate(
          T.ahoCounts(col("text2"), canaries), lit(0L), (a, x) => a + x) === 0L))
        val st6 = stageOf(s6)
        val um = graft.ops.Sampling.unimaxAllocation(
          s6, Seq("lang"), col("tok2"), budget = 0.5 * st6._2, maxEpochs = 2.0)
        val t7 = um.agg(coalesce(round(sum(col("alloc_tokens")), 0), lit(0.0))
          .cast("long")).first().getLong(0)
        val p8 = graft.ops.Packing.packSequences(
          s6.select(col("source"), col("doc_id"), col("tok2")),
          "source", "doc_id", "tok2", seqLen = 512L)
          .agg(count(lit(1)), coalesce(sum(col("seq_tokens")), lit(0L))).first()
        (stageOf(s4), stageOf(s5), st6, t7, p8)
      }
      import s.implicits._
      Seq(
        (0L, "input", r03.getLong(0), r03.getLong(1)),
        (1L, "sanitize", r03.getLong(0), r03.getLong(2)),
        (2L, "langid", r03.getLong(3), r03.getLong(4)),
        (3L, "quality", r03.getLong(5), r03.getLong(6)),
        (4L, "paragraph_dedup", d4, t4),
        (5L, "near_dup", d5, t5),
        (6L, "decontaminate", d6, t6),
        (7L, "unimax_mix", d6, t7),
        (8L, "pack", p8.getLong(0), p8.getLong(1)))
        .toDF("stage_idx", "stage", "n_docs", "n_tokens")
    },
      // every stage replayed: plant + repair chain (emitted from the same
      // table) + DuckDB's nfc_normalize, q51's langid/quality spellings,
      // q165's paragraph cascade, q27's all-pairs jaccard with keep-first,
      // LIKE canaries, q167's water-filling, q95's span packing at 512
      (s"""WITH base AS MATERIALIZED (
   SELECT doc_id, lang, source,
     len(string_split(text, ' ')) AS tok0,
     nfc_normalize(${mojibakeRepairSql(
        "((CASE WHEN doc_id % 5 = 0 THEN replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©') ELSE text END) || " +
          "(CASE doc_id % 4 WHEN 0 THEN 'e' || chr(769) WHEN 1 THEN 'A' || chr(778) WHEN 2 THEN chr(8486) ELSE '' END))")}) AS text1
   FROM documents),
 sc1 AS (
   SELECT doc_id, lang, source, tok0, text1,
     string_split(text1, ' ') AS t1s,
     CAST(length(text1) AS DOUBLE) AS n_chars
   FROM base),
 mk AS (
   SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM (
     SELECT *,
       len(list_filter(t1s, t -> t IN ('the','fast','data','query'))) AS s_en,
       len(list_filter(t1s, t -> t IN ('scan','merge','window'))) AS s_de,
       len(list_filter(t1s, t -> t IN ('table','column','line'))) AS s_fr,
       len(list_filter(t1s, t -> t IN ('row','group','order'))) AS s_es,
       len(list_filter(t1s, t -> t IN ('hash','join','key'))) AS s_zh
     FROM sc1)),
 lab AS MATERIALIZED (
   SELECT doc_id, lang, source, tok0, text1,
     len(t1s) AS tok1,
     gm > 0 AS p2,
     ((0.5 * least(n_chars / 500.0, 1.0) +
       0.5 * (1.0 - least(abs((n_chars - (CAST(len(t1s) AS DOUBLE) - 1.0))
                              / CAST(len(t1s) AS DOUBLE) - 5.0) / 5.0, 1.0))) *
      (CASE WHEN len(t1s) < 5 THEN 0.5 ELSE 1.0 END)) >= 0.5
     AND len(list_distinct(t1s))::DOUBLE / len(t1s)::DOUBLE >= 0.4 AS p3
   FROM mk),
 s3 AS MATERIALIZED (
   SELECT doc_id, lang, source, text1 FROM lab WHERE p2 AND p3),
 ptok AS (SELECT doc_id, string_split(text1, ' ') AS ts FROM s3),
 paras AS (
   SELECT doc_id, CAST(i AS BIGINT) AS pidx,
     array_to_string(list_slice(ts, CAST(i*20+1 AS INT),
                                CAST(i*20+20 AS INT)), ' ') AS para
   FROM ptok, LATERAL unnest(
     range(0, CAST(ceil(len(ts) / 20.0) AS BIGINT))) AS t(i)
   WHERE len(ts) > 0),
 punits AS (SELECT doc_id*1024 + pidx AS uid, doc_id, pidx, para FROM paras),
 psets AS (SELECT uid, list_distinct(
     CASE WHEN len(string_split(para, ' ')) < 3 THEN [para]
          ELSE list_transform(range(1, len(string_split(para, ' ')) - 1),
                 i -> array_to_string(list_slice(string_split(para, ' '),
                        CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
     END) AS fset
   FROM punits),
 pdup AS (SELECT DISTINCT b.uid FROM psets b JOIN psets a
          ON a.uid < b.uid
          AND len(list_intersect(a.fset, b.fset))::DOUBLE /
              len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
 pd AS (
   SELECT doc_id,
     CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
     coalesce(string_agg(para, ' ' ORDER BY pidx) FILTER (WHERE k), '')
       AS text2
   FROM (SELECT u.doc_id, u.pidx, u.para,
           u.uid NOT IN (SELECT uid FROM pdup) AS k
         FROM punits u)
   GROUP BY doc_id),
 s4 AS MATERIALIZED (
   SELECT s3.doc_id, s3.lang, s3.source, pd.text2,
     CAST(len(string_split(pd.text2, ' ')) AS BIGINT) AS tok2
   FROM s3 JOIN pd USING (doc_id) WHERE pd.n_kept > 0),
 dsets AS (SELECT doc_id, list_distinct(
     CASE WHEN len(string_split(text2, ' ')) < 3 THEN [text2]
          ELSE list_transform(range(1, len(string_split(text2, ' ')) - 1),
                 i -> array_to_string(list_slice(string_split(text2, ' '),
                        CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
     END) AS fset
   FROM s4),
 ddrop AS (SELECT DISTINCT b.doc_id FROM dsets b JOIN dsets a
           ON a.doc_id < b.doc_id
           AND len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.6),
 s5 AS MATERIALIZED (
   SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM ddrop)),
 s6 AS MATERIALIZED (
   SELECT * FROM s5 WHERE NOT (text2 LIKE '%hash join%'
     OR text2 LIKE '%fast data%' OR text2 LIKE '%data data%')),
 g AS (SELECT lang, CAST(sum(tok2) AS DOUBLE) AS capacity FROM s6 GROUP BY 1),
 tot AS (SELECT 0.5 * sum(capacity) AS b FROM g),
 r AS (SELECT lang, capacity, capacity * 2.0 AS cap,
         CAST(row_number() OVER (ORDER BY capacity * 2.0, lang) AS DOUBLE) AS i,
         CAST(count(*) OVER () AS DOUBLE) AS n,
         coalesce(sum(capacity * 2.0) OVER (
           ORDER BY capacity * 2.0, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
       FROM g),
 lv AS (SELECT r.*, ((SELECT b FROM tot) - cumprev) / (n - i + 1.0) AS level
        FROM r),
 st AS (SELECT lv.*, min(CASE WHEN cap >= level THEN i END) OVER () AS istar
        FROM lv),
 st2 AS (SELECT st.*, max(CASE WHEN i = istar THEN level END) OVER () AS lstar
         FROM st),
 um AS (SELECT round(CASE WHEN lstar IS NULL THEN cap
                          ELSE least(cap, lstar) END, 4) AS alloc FROM st2),
 pos AS (
   SELECT source, tok2 AS n_tokens,
     coalesce(sum(tok2) OVER (
       PARTITION BY source ORDER BY doc_id
       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
   FROM s6 WHERE tok2 > 0),
 spans AS (
   SELECT source, s, s + n_tokens AS e,
     CAST(floor(s / 512.0) AS BIGINT) AS f,
     CAST(floor((s + n_tokens - 1) / 512.0) AS BIGINT) AS l
   FROM pos),
 ex AS (SELECT source, s, e, f, l, unnest(generate_series(f, l)) AS seq_id
        FROM spans),
 bins AS (
   SELECT source, seq_id,
     CAST(sum(least(e, (seq_id + 1) * 512) - greatest(s, seq_id * 512))
       AS BIGINT) AS seq_tokens
   FROM ex GROUP BY source, seq_id)
 SELECT CAST(0 AS BIGINT) AS stage_idx, 'input' AS stage,
   CAST(count(*) AS BIGINT) AS n_docs,
   CAST(coalesce(sum(tok0), 0) AS BIGINT) AS n_tokens FROM lab
 UNION ALL SELECT 1, 'sanitize', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok1), 0) AS BIGINT) FROM lab
 UNION ALL SELECT 2, 'langid', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok1), 0) AS BIGINT) FROM lab WHERE p2
 UNION ALL SELECT 3, 'quality', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok1), 0) AS BIGINT) FROM lab WHERE p2 AND p3
 UNION ALL SELECT 4, 'paragraph_dedup', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok2), 0) AS BIGINT) FROM s4
 UNION ALL SELECT 5, 'near_dup', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok2), 0) AS BIGINT) FROM s5
 UNION ALL SELECT 6, 'decontaminate', CAST(count(*) AS BIGINT),
   CAST(coalesce(sum(tok2), 0) AS BIGINT) FROM s6
 UNION ALL SELECT 7, 'unimax_mix', (SELECT CAST(count(*) AS BIGINT) FROM s6),
   CAST(round((SELECT coalesce(sum(alloc), 0) FROM um), 0) AS BIGINT)
 UNION ALL SELECT 8, 'pack', (SELECT CAST(count(*) AS BIGINT) FROM bins),
   (SELECT CAST(coalesce(sum(seq_tokens), 0) AS BIGINT) FROM bins)""")),

    // Beyond-reference: INCREMENTAL datacard maintenance over the change
    // feed — the 100 TB posture for q192's attrition report: recomputing
    // a datacard over the full corpus per append is O(corpus) per run,
    // while folding each versioned append's delta through the stage
    // gates (per-doc verdicts are append-local) and the incremental
    // near-dup admission (q94's batch-vs-seen cascade) is O(delta).
    // The query runs BOTH paths and emits them side by side; the oracle
    // computes the from-scratch card once, so a hash match IS the
    // incremental == from-scratch assertion. Equality argument for the
    // dedup stage: version order aligns with doc_id order in the
    // fixture, so "matches any earlier-seen gate-passing doc (or a
    // smaller-id doc in the same batch)" and "matches any smaller-id
    // gate-passing doc" are the same rule; both sides dedup against
    // SEEN docs (not admitted-only), making the rule chain-free.
    QuerySpec("q201_incremental_datacard", Fixture, (s, dir) => {
      import s.implicits._
      val T = graft.ops.TextOps
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_cdf")
      val g = graft.log.GraftCDF.tableChanges(s, path, 0)
        .filter(col("_change_type") === "insert")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("_commit_version").cast("long").as("v"),
          T.tokenCount(col("text")).cast("long").as("tok0"),
          (T.langId(col("text")) =!= "und").as("p2"),
          (T.qualityScore(col("text")) >= 0.5 &&
            T.uniqueTokenRatio(col("text")) >= 0.4).as("p3"))
        // widen BEFORE the pin: the CDF scan is a handful of
        // partitions, so (a) the langid/quality kernels above would
        // otherwise serialize in its tasks and (b) every per-version
        // filter downstream would trip Par.widen's gate and re-shuffle
        // the growing corpus once per iteration; pinning wide makes all
        // of those no-ops (one exchange total).
        .transform(graft.ops.Par.widen)
        .transform(graft.ops.Materialize.pin)

      def stageRow(df: DataFrame): Array[Long] = {
        val r = df.agg(
          count(lit(1)), coalesce(sum(col("tok0")), lit(0L)),
          count(when(col("p2"), 1)),
          coalesce(sum(when(col("p2"), col("tok0"))), lit(0L)),
          count(when(col("p2") && col("p3"), 1)),
          coalesce(sum(when(col("p2") && col("p3"), col("tok0"))), lit(0L)))
          .first()
        Array(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))
      }
      def survivorRow(df: DataFrame): (Long, Long) = {
        val r = df.agg(count(lit(1)),
          coalesce(sum(col("tok0")), lit(0L))).first()
        (r.getLong(0), r.getLong(1))
      }

      // --- incremental fold over versions (version-scale driver loop).
      // The per-version stage stats are additive over the disjoint
      // version batches, so ONE grouped aggregate over the pinned
      // CDF frame yields every version's row (and the version list) in a
      // single job, folded driver-side — replaces the former
      // distinct-collect plus one six-column aggregate job per version
      // (driver-loop jobs cut). The dedup admission below
      // remains the genuine per-version sequential fold.
      val perVersion = g.groupBy(col("v")).agg(
        count(lit(1)), coalesce(sum(col("tok0")), lit(0L)),
        count(when(col("p2"), 1)),
        coalesce(sum(when(col("p2"), col("tok0"))), lit(0L)),
        count(when(col("p2") && col("p3"), 1)),
        coalesce(sum(when(col("p2") && col("p3"), col("tok0"))), lit(0L)))
        .collect().sortBy(_.getLong(0))
      val versions = perVersion.map(_.getLong(0))
      val acc = Array.fill(6)(0L)
      perVersion.foreach { r =>
        (0 until 6).foreach(i => acc(i) += r.getLong(i + 1))
      }
      var admN = 0L; var admT = 0L
      // `seen` after version v is exactly the passing docs of versions
      // ≤ v — a filter over the ALREADY-pinned `g`, not a growing
      // unionByName + pin chain (same rows, no per-version
      // re-materialization job, no quadratic pinned bytes).
      def passUpTo(vMax: Long) = g
        .filter(col("v") <= vMax && col("p2") && col("p3"))
        .select(col("doc_id"), col("text"), col("tok0"))
      versions.zipWithIndex.foreach { case (v, i) =>
        val bPass = g.filter(col("v") === v && col("p2") && col("p3"))
          .select(col("doc_id"), col("text"), col("tok0"))
        val seen =
          if (i == 0) bPass.limit(0) else passUpTo(versions(i - 1))
        // each version's cascade pins are released with its own scope
        val (an, at) = graft.ops.Materialize.scoped(survivorRow(
          graft.ops.Dedup.incrementalDedup(seen, bPass, "doc_id", "text", threshold = 0.6)))
        admN += an; admT += at
      }

      // --- from-scratch over the full corpus, smaller-id-wins
      val fr = stageRow(g)
      val fPass = g.filter(col("p2") && col("p3"))
        .select(col("doc_id"), col("text"), col("tok0"))
      val (fn, ft) = graft.ops.Materialize.scoped {
        val pairs = graft.ops.Dedup.nearDuplicatesExact(fPass, "doc_id", "text",
          threshold = 0.6, includeMinHashCandidates = false)
        survivorRow(fPass.join(
          pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti"))
      }

      Seq(
        (0L, "input", acc(0), acc(1), fr(0), fr(1)),
        (1L, "langid", acc(2), acc(3), fr(2), fr(3)),
        (2L, "quality", acc(4), acc(5), fr(4), fr(5)),
        (3L, "near_dup", admN, admT, fn, ft))
        .toDF("stage_idx", "stage", "n_docs_incr", "n_tokens_incr",
          "n_docs_full", "n_tokens_full")
    },
      // from-scratch datacard replay (q192's langid/quality formulas on raw
      // text, q27's pair replay at 0.6, smaller-id-wins); the oracle emits
      // the SAME card into the _incr and _full column pairs, so a match
      // asserts incremental == from-scratch
      """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS ts,
                      CAST(length(text) AS DOUBLE) AS n_chars
                    FROM documents),
         mk AS (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM (
           SELECT *,
             len(list_filter(ts, t -> t IN ('the','fast','data','query'))) AS s_en,
             len(list_filter(ts, t -> t IN ('scan','merge','window'))) AS s_de,
             len(list_filter(ts, t -> t IN ('table','column','line'))) AS s_fr,
             len(list_filter(ts, t -> t IN ('row','group','order'))) AS s_es,
             len(list_filter(ts, t -> t IN ('hash','join','key'))) AS s_zh
           FROM d)),
         lab AS (SELECT doc_id, text, CAST(len(ts) AS BIGINT) AS tok0,
           gm > 0 AS p2,
           ((0.5 * least(n_chars / 500.0, 1.0) +
             0.5 * (1.0 - least(abs((n_chars - (CAST(len(ts) AS DOUBLE) - 1.0))
                                    / CAST(len(ts) AS DOUBLE) - 5.0) / 5.0, 1.0))) *
            (CASE WHEN len(ts) < 5 THEN 0.5 ELSE 1.0 END)) >= 0.5
           AND len(list_distinct(ts))::DOUBLE / len(ts)::DOUBLE >= 0.4 AS p3
           FROM mk),
         gp AS (SELECT doc_id, text, tok0 FROM lab WHERE p2 AND p3),
         sets AS (SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset FROM gp),
         ddrop AS (SELECT DISTINCT b.doc_id FROM sets b JOIN sets a
                   ON a.doc_id < b.doc_id
                   AND len(list_intersect(a.fset, b.fset))::DOUBLE /
                       len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.6),
         surv AS (SELECT * FROM gp
                  WHERE doc_id NOT IN (SELECT doc_id FROM ddrop)),
         st AS (
           SELECT 0 AS stage_idx, 'input' AS stage,
             CAST(count(*) AS BIGINT) AS n,
             CAST(coalesce(sum(tok0), 0) AS BIGINT) AS tk FROM lab
           UNION ALL SELECT 1, 'langid', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(tok0), 0) AS BIGINT) FROM lab WHERE p2
           UNION ALL SELECT 2, 'quality', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(tok0), 0) AS BIGINT) FROM lab WHERE p2 AND p3
           UNION ALL SELECT 3, 'near_dup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(tok0), 0) AS BIGINT) FROM surv)
         SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
                n AS n_docs_incr, tk AS n_tokens_incr,
                n AS n_docs_full, tk AS n_tokens_full
         FROM st ORDER BY stage_idx"""),

    // Beyond-reference: DSIR importance-resampling data selection (Xie
    // et al. 2023) — score every raw doc by the integer-micronat
    // log-ratio of its hashed-token features under the target-domain
    // (lang='de') vs raw distributions, keep the top 10% of raw docs.
    // One hash scan (target flag rides the explode), O(dim) broadcast
    // model, rank-threshold selection (exact distributed rank, keep
    // rank <= K) — never a single-partition window, no Int-capped
    // limit(), driver cost flat in K.
    QuerySpec("q204_dsir_selection", Plain, (s, dir) =>
      graft.ops.Sampling.dsirSelect(
        t(s, dir, "documents"), "doc_id", "text",
        isTarget = col("lang") === "de"),
      // DSIR replay: same hash, integer-micronat per-bucket log-ratios,
      // exact integer doc weights, rank by (weight desc, doc_id) <= K
      // with K = floor(0.1 * raw doc count)
      """WITH base AS (SELECT doc_id, text, lang = 'de' AS tgt FROM documents),
         toks AS (SELECT doc_id, tgt,
                    unnest(list_filter(string_split_regex(lower(text), '\s+'),
                      w -> w <> '')) AS tok
                  FROM base),
         fb AS (SELECT doc_id, tgt,
                  CAST(list_aggregate(list_transform(
                    range(1, length(tok) + 1),
                    k -> (CAST(unicode(substr(tok, CAST(k AS INT), 1))
                            AS BIGINT) + 1) * k),
                    'sum') % 1024 AS INT) AS b
                FROM toks),
         feats AS (SELECT doc_id, tgt, b, CAST(count(*) AS BIGINT) AS cnt
                   FROM fb GROUP BY 1, 2, 3),
         tot AS (SELECT
             CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS BIGINT) AS nt,
             CAST(sum(CASE WHEN NOT tgt THEN cnt ELSE 0 END) AS BIGINT) AS nr
           FROM feats),
         model AS (SELECT b,
             CAST(floor(ln(CAST(sum(CASE WHEN tgt THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.nt + 1024)) * 1000000 + 0.5) AS BIGINT)
           - CAST(floor(ln(CAST(sum(CASE WHEN NOT tgt THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.nr + 1024)) * 1000000 + 0.5) AS BIGINT) AS lr
           FROM feats, tot GROUP BY b, tot.nt, tot.nr),
         kk AS (SELECT greatest(1, CAST(floor(0.1 * count(*)) AS BIGINT)) AS k
                FROM base WHERE NOT tgt),
         wts AS (SELECT f.doc_id, CAST(sum(f.cnt * m.lr) AS BIGINT) AS weight
                 FROM feats f JOIN model m USING (b)
                 WHERE NOT f.tgt GROUP BY f.doc_id),
         rk AS (SELECT doc_id, weight,
                  row_number() OVER (ORDER BY weight DESC, doc_id) AS rn
                FROM wts)
         SELECT doc_id, weight FROM rk, kk WHERE rn <= kk.k
         ORDER BY weight DESC, doc_id"""),

    // Beyond-reference: SCORER EVALUATION — tie-aware ROC-AUC
    // (Mann–Whitney U) of each of the first 8 embedding dimensions as a
    // ranker for the binary label (cluster id < 5). The per-dim walk is
    // one corpus aggregate to (dim, score) cells + one higher-order fold
    // over the per-dim sorted cell array (bounded by the quantization
    // grid, never corpus rows) — no global window, no collect. U2 is an
    // exact integer so the ranking quality is bit-replayable.
    QuerySpec("q238_scorer_auc", Plain, (s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(posexplode(slice(col("embedding"), 1, 8)).as(Seq("dim", "__v")),
          (col("label") < 5).as("__pos"))
        .select(col("dim").cast("long").as("dim"),
          graft.ops.Eval.micro(col("__v")).as("__q"), col("__pos"))
      graft.ops.Eval.aucByGroup(pts, "dim", "__q", "__pos")
        .orderBy(col("dim"))
    },
      // tie-aware Mann–Whitney 2U replayed with a window prefix over the
      // (dim, score) cells — same integer walk the engine folds per dim
      """WITH dims AS (SELECT unnest(range(0, 8)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS q,
                   (e.label < 5) AS pos
                 FROM embeddings e CROSS JOIN dims d),
         cells AS (SELECT dim, q,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
                   FROM pts GROUP BY dim, q),
         walk AS (SELECT dim, np, nn,
                    coalesce(sum(nn) OVER (PARTITION BY dim ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS below
                  FROM cells)
         SELECT dim, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2,
                round(CAST(sum(np * (2 * below + nn)) AS DOUBLE) /
                  (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)), 6)
                  AS auc
         FROM walk GROUP BY dim ORDER BY dim"""),

    // Beyond-reference: LINEAR PROBE feature screening — univariate
    // least-squares fit of the cluster label on each of the first 8
    // embedding dimensions from five exact integer sums (one map-side-
    // combinable aggregate; the closed form is a single pinned IEEE
    // expression both engines replay identically). The r² column ranks
    // dimensions by explanatory power — the cheap-first probe a
    // curation pipeline runs before training anything.
    QuerySpec("q239_linear_probe", Plain, (s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(posexplode(slice(col("embedding"), 1, 8)).as(Seq("dim", "__v")),
          col("label").cast("long").as("__y"))
        .select(col("dim").cast("long").as("dim"),
          graft.ops.Eval.micro(col("__v")).as("__x"), col("__y"))
      graft.ops.Eval.linearProbeByGroup(pts, "dim", "__x", "__y")
        .orderBy(col("dim"))
    },
      // the five integer sums and the pinned closed form, replayed term
      // for term (sums cast to double first, two products, one subtract)
      """WITH dims AS (SELECT unnest(range(0, 8)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS x,
                   CAST(e.label AS BIGINT) AS y
                 FROM embeddings e CROSS JOIN dims d),
         st AS (SELECT dim, count(*) AS n,
                  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                  CAST(sum(x * x) AS BIGINT) AS sxx,
                  CAST(sum(x * y) AS BIGINT) AS sxy,
                  CAST(sum(y * y) AS BIGINT) AS syy
                FROM pts GROUP BY dim)
         SELECT dim, n,
           floor(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 * 1e6 + 0.5) / 1e6 AS slope,
           floor(((CAST(sy AS DOUBLE)
                   - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                     * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE))
                 * 1e6 + 0.5) / 1e6 AS intercept,
           floor((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                 / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                 * 1e6 + 0.5) / 1e6 AS r2
         FROM st ORDER BY dim"""),

    // Beyond-reference: SPEARMAN RANK CORRELATION between the first 4
    // embedding dimensions (signal-redundancy audit over quality
    // features). Global ranks come from the range-partitioned
    // rank machinery (no single-partition window), ties broken by
    // vec_id so ranks are a permutation and Σd² is an exact integer.
    QuerySpec("q240_spearman_dims", Plain, (s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)).as(Seq("dim", "__v")))
        .select(col("dim").cast("long").as("dim"), col("vec_id"),
          graft.ops.Eval.micro(col("__v")).as("__q"))
      graft.ops.Eval.spearmanPairs(pts, "dim", "vec_id", "__q")
        .select(col("series_a").as("dim_a"), col("series_b").as("dim_b"),
          col("n"), col("sum_d2"), col("spearman"))
        .orderBy(col("dim_a"), col("dim_b"))
    },
      // tie-broken permutation ranks → the exact-integer Σd² closed form
      """WITH dims AS (SELECT unnest(range(0, 4)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim, e.vec_id,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS q
                 FROM embeddings e CROSS JOIN dims d),
         r AS (SELECT dim, vec_id,
                 row_number() OVER (PARTITION BY dim ORDER BY q, vec_id) AS rn
               FROM pts),
         p AS (SELECT a.dim AS dim_a, b.dim AS dim_b, a.rn - b.rn AS d
               FROM r a JOIN r b ON a.vec_id = b.vec_id AND a.dim < b.dim)
         SELECT dim_a, dim_b, count(*) AS n,
                CAST(sum(d * d) AS BIGINT) AS sum_d2,
                round(1.0 - 6.0 * CAST(sum(d * d) AS DOUBLE)
                  / (CAST(count(*) AS DOUBLE)
                     * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE)
                        - 1.0)), 6) AS spearman
         FROM p GROUP BY dim_a, dim_b ORDER BY dim_a, dim_b"""),

    // Beyond-reference: PARETO SKYLINE data selection — the documents
    // (here: vectors) not dominated on two maximized axes, the
    // multi-objective cut ("no other candidate is at least as good on
    // both quality signals and better on one"). Distributed as a
    // cell-reduction + range-partitioned prefix-MAX scan (the
    // withGroupRank offsets pattern) — no single-partition window, no
    // driver collect; the dominance test collapses to one strict
    // compare against the running maximum.
    QuerySpec("q242_pareto_skyline", Plain, (s, dir) => {
      val pts = t(s, dir, "embeddings").select(col("vec_id"),
        graft.ops.Eval.micro(element_at(col("embedding"), 1)).as("x"),
        graft.ops.Eval.micro(element_at(col("embedding"), 2)).as("y"))
      graft.ops.Skyline.skyline2D(pts, "vec_id", "x", "y")
        .orderBy(col("vec_id"))
    },
      // the textbook dominance definition, replayed as NOT EXISTS
      """WITH p AS (SELECT vec_id,
             CAST(floor(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT) AS x,
             CAST(floor(CAST(embedding[2] AS DOUBLE) * 1e6) AS BIGINT) AS y
           FROM embeddings)
         SELECT vec_id, x, y FROM p a
         WHERE NOT EXISTS (SELECT 1 FROM p b
           WHERE b.x >= a.x AND b.y >= a.y AND (b.x > a.x OR b.y > a.y))
         ORDER BY vec_id"""),

    // Beyond-reference: AVERAGE PRECISION (PR-AUC) — q238's companion
    // ranking metric, same cell machinery with a descending-score fold;
    // tie blocks contribute block-end precision, each term floored to
    // integer picounits before summing so the accumulation is exact in
    // any engine and any order.
    QuerySpec("q243_scorer_ap", Plain, (s, dir) => {
      val pts = t(s, dir, "embeddings")
        .select(posexplode(slice(col("embedding"), 1, 8)).as(Seq("dim", "__v")),
          (col("label") < 5).as("__pos"))
        .select(col("dim").cast("long").as("dim"),
          graft.ops.Eval.micro(col("__v")).as("__q"), col("__pos"))
      graft.ops.Eval.avgPrecisionByGroup(pts, "dim", "__q", "__pos")
        .orderBy(col("dim"))
    },
      // block-end tie convention replayed with DESC window prefixes; the
      // per-block picounit floor makes the sum order-independent
      """WITH dims AS (SELECT unnest(range(0, 8)) AS dim),
         pts AS (SELECT CAST(d.dim AS BIGINT) AS dim,
                   CAST(floor(CAST(e.embedding[d.dim + 1] AS DOUBLE) * 1e6)
                     AS BIGINT) AS q,
                   (e.label < 5) AS pos
                 FROM embeddings e CROSS JOIN dims d),
         cells AS (SELECT dim, q,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
                   FROM pts GROUP BY dim, q),
         walk AS (SELECT dim, np, nn,
                    coalesce(sum(np) OVER (PARTITION BY dim ORDER BY q DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS pb,
                    coalesce(sum(np + nn) OVER (PARTITION BY dim ORDER BY q DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS tb
                  FROM cells),
         terms AS (SELECT dim, np, nn,
                     CASE WHEN np > 0 THEN
                       CAST(floor(CAST(np * (pb + np) AS DOUBLE)
                         / CAST(tb + np + nn AS DOUBLE) * 1e12) AS BIGINT)
                     ELSE 0 END AS tp
                   FROM walk)
         SELECT dim, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(tp) AS BIGINT) AS ap_pico,
                round((CAST(sum(tp) AS DOUBLE) / 1e12)
                  / CAST(sum(np) AS BIGINT), 6) AS ap
         FROM terms GROUP BY dim ORDER BY dim"""),

    // Beyond-reference: STREAMING AUC — the q238 ranking metric
    // maintained INCREMENTALLY over the document stream: per-language
    // state is the score-cell histogram (bounded by the scorer's
    // 64-bucket grid, never the stream length); each trigger re-emits
    // the running integer (n_pos, n_neg, 2U) and the drained emission
    // hash-matches the batch walk the oracle replays — the
    // incremental==from-scratch proof, applied to model evaluation.
    QuerySpec("q244_stream_auc", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q244_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val scored = src.select(col("lang"),
          least(lit(63L), expr("n_chars div 10")).as("score"),
          (pmod(col("doc_id"), lit(3)) === 0).as("pos"))
        .as[(String, Long, Boolean)]
      val running = scored.groupByKey(_._1)
        .mapGroupsWithState[Map[Long, (Long, Long)], (String, Long, Long, Long)](
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          graft.ops.Incremental.runningAuc)
        .toDF("lang", "n_pos", "n_neg", "u2")
      val q = running.writeStream.format("memory").queryName(sink)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("lang"))
        .agg(max_by(struct(col("n_pos"), col("n_neg"), col("u2")),
          col("n_pos") + col("n_neg")).as("f"))
        .select(col("lang"), col("f.n_pos").as("n_pos"),
          col("f.n_neg").as("n_neg"), col("f.u2").as("u2"))
        .withColumn("auc", round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6))
        .orderBy(col("lang"))
    },
      // the drained incremental AUC equals the batch walk over the same
      // bucketed scores — same integer 2U as q238, grouped by language
      """WITH pts AS (SELECT lang, least(63, n_chars // 10) AS q,
                        (doc_id % 3 = 0) AS pos
                      FROM documents),
         cells AS (SELECT lang, q,
                     CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS np,
                     CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS nn
                   FROM pts GROUP BY lang, q),
         walk AS (SELECT lang, np, nn,
                    coalesce(sum(nn) OVER (PARTITION BY lang ORDER BY q
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS below
                  FROM cells)
         SELECT lang, CAST(sum(np) AS BIGINT) AS n_pos,
                CAST(sum(nn) AS BIGINT) AS n_neg,
                CAST(sum(np * (2 * below + nn)) AS BIGINT) AS u2,
                round(CAST(sum(np * (2 * below + nn)) AS DOUBLE) /
                  (2.0 * CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT)), 6)
                  AS auc
         FROM walk GROUP BY lang ORDER BY lang"""),

    // Beyond-reference: PSI FEATURE DRIFT between corpus VERSIONS —
    // the monitoring gate a pipeline runs before admitting a new crawl
    // batch: Population Stability Index of the document-length
    // distribution, version 0 of the shared versioned table (time
    // travel) vs its latest snapshot. Two corpus aggregates to 8 bins,
    // a static bin spine, one broadcast totals row; each bin term is
    // floored to picounits so the PSI total is an exact integer sum.
    QuerySpec("q245_feature_drift", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val tbl = s"${graft.log.SharedFixtures.SHARE}.documents_versioned"
      def binned(df: DataFrame) = df.select(
        least(lit(7L), expr("n_chars div 75")).as("bin"))
      val base = binned(s.read.format("graft").option("table", tbl)
        .option("versionAsOf", "0").load())
      val cur = binned(s.read.format("graft").option("table", tbl).load())
      graft.ops.Eval.populationStability(base, cur, "bin", 8)
        .orderBy(col("bin"))
    },
      // version 0 = the first doc_id quartile (the fixture's split
      // formula); smoothing, bin spine, and picounit floors replayed
      """WITH q1 AS (SELECT (max(doc_id) + 1) // 4 AS v FROM documents),
         b AS (SELECT least(7, n_chars // 75) AS bin FROM documents
               WHERE doc_id < (SELECT v FROM q1)),
         c AS (SELECT least(7, n_chars // 75) AS bin FROM documents),
         cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin),
         cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY bin),
         tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS tb,
                        (SELECT CAST(count(*) AS BIGINT) FROM c) AS tc),
         j AS (SELECT s.bin, coalesce(cb.n, 0) AS n_base,
                 coalesce(cc.n, 0) AS n_cur, tb, tc
               FROM (SELECT unnest(range(0, 8)) AS bin) s
               LEFT JOIN cb USING (bin) LEFT JOIN cc USING (bin)
               CROSS JOIN tot),
         t AS (SELECT bin, n_base, n_cur,
                 CAST(floor((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE)
                     - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
                   * ln((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE))
                     / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE)))
                   * 1e12) AS BIGINT) AS term_pico
               FROM j)
         SELECT bin, n_base, n_cur, term_pico,
                (SELECT CAST(sum(term_pico) AS BIGINT) FROM t) AS psi_pico,
                round((SELECT CAST(sum(term_pico) AS BIGINT) FROM t) / 1e12, 6)
                  AS psi
         FROM t ORDER BY bin"""),

    // Beyond-reference: STREAMING DRIFT MONITOR — q245's PSI kept
    // current by a STREAMING aggregation: Spark's state store maintains
    // the 8-bin current-side histogram (complete-mode counts, 8 rows of
    // state at any corpus size) while the baseline stays the
    // time-travel version-0 read; the drained histogram feeds the same
    // PSI core and hash-matches q245's batch oracle VERBATIM — the
    // monitoring posture where only the tiny histogram, never the
    // corpus, survives between triggers.
    QuerySpec("q248_stream_drift", Streaming, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val tbl = s"${graft.log.SharedFixtures.SHARE}.documents_versioned"
      val path = graft.log.GraftCatalog.location(tbl)
      val sink = "graft_q248_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val counts = src
        .select(least(lit(7L), expr("n_chars div 75")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_cur"))
      val q = counts.writeStream.format("memory").queryName(sink)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      val baseCounts = s.read.format("graft").option("table", tbl)
        .option("versionAsOf", "0").load()
        .select(least(lit(7L), expr("n_chars div 75")).as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n_base"))
      val cells = s.table(sink).join(baseCounts, Seq("bin"), "full")
        .select(col("bin"), coalesce(col("n_base"), lit(0L)).as("n_base"),
          coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      graft.ops.Eval.psiFromCells(cells, 8).orderBy(col("bin"))
    },
      // IDENTICAL replay to q245 — the hash-match against the same SQL
      // is precisely the streaming==batch maintenance proof
      """WITH q1 AS (SELECT (max(doc_id) + 1) // 4 AS v FROM documents),
         b AS (SELECT least(7, n_chars // 75) AS bin FROM documents
               WHERE doc_id < (SELECT v FROM q1)),
         c AS (SELECT least(7, n_chars // 75) AS bin FROM documents),
         cb AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bin),
         cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY bin),
         tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM b) AS tb,
                        (SELECT CAST(count(*) AS BIGINT) FROM c) AS tc),
         j AS (SELECT s.bin, coalesce(cb.n, 0) AS n_base,
                 coalesce(cc.n, 0) AS n_cur, tb, tc
               FROM (SELECT unnest(range(0, 8)) AS bin) s
               LEFT JOIN cb USING (bin) LEFT JOIN cc USING (bin)
               CROSS JOIN tot),
         t AS (SELECT bin, n_base, n_cur,
                 CAST(floor((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE)
                     - CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE))
                   * ln((CAST(n_base + 1 AS DOUBLE) / CAST(tb + 8 AS DOUBLE))
                     / (CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 8 AS DOUBLE)))
                   * 1e12) AS BIGINT) AS term_pico
               FROM j)
         SELECT bin, n_base, n_cur, term_pico,
                (SELECT CAST(sum(term_pico) AS BIGINT) FROM t) AS psi_pico,
                round((SELECT CAST(sum(term_pico) AS BIGINT) FROM t) / 1e12, 6)
                  AS psi
         FROM t ORDER BY bin""")
  )
}
