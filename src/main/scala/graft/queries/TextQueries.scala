package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Text statistics and tokenization: token and n-gram counts, BPE and
  * unigram tokenizers, language-model scores, fingerprints and
  * vocabulary measures over `documents`.
  */
object TextQueries {
  val specs: Seq[QuerySpec] = Seq(
    // Beyond-reference: text profile — language-ID (marker-word argmax)
    // + quality scoring, aggregated per predicted language.
    QuerySpec("q26_text_profile", Plain, (s, dir) => {
      graft.ops.TextOps.profile(t(s, dir, "documents"))
        .groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("quality")), 3).as("avg_quality"),
          sum(col("n_tokens")).as("total_tokens"))
    },
      """WITH scored AS (
           SELECT
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
           SELECT n_tokens,
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
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM scored))
         SELECT pred_lang, count(*) AS n_docs,
           round(avg(quality), 3) AS avg_quality,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         FROM labeled GROUP BY pred_lang"""),

    // Beyond-reference: BPE-ish subword tokenization (GPT-2-shaped
    // regexp, RE2-compatible so the oracle reproduces the exact token
    // stream) — token counts per language.
    QuerySpec("q39_bpe_token_stats", Plain, (s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          graft.ops.TextOps.bpeTokenCount(col("text")).cast("long").as("n_bpe"))
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe")).as("total_bpe"),
          round(avg(col("n_bpe")), 2).as("avg_bpe"),
          max(col("n_bpe")).as("max_bpe"))
    },
      """SELECT lang,
         CAST(sum(len(regexp_extract_all(lower(text),
           '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))) AS BIGINT) AS total_bpe,
         round(avg(len(regexp_extract_all(lower(text),
           '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))), 2) AS avg_bpe,
         CAST(max(len(regexp_extract_all(lower(text),
           '''[a-z]+| ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s'']+'))) AS BIGINT) AS max_bpe
         FROM documents GROUP BY lang"""),

    // Beyond-reference: rolling-hash (Rabin–Karp) document fingerprints —
    // fold of acc*31+ascii mod p over the normalized text, grouped into
    // content-addressed dedup stats like q25 but with an engine-neutral
    // polynomial hash instead of md5.
    QuerySpec("q40_rolling_fingerprint", Plain, (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), graft.ops.TextOps.rollingFingerprint(col("text")).as("fp"))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
    },
      """WITH norm AS (
           SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g')) AS nt
           FROM documents),
         fp AS (
           SELECT doc_id,
             CASE WHEN length(nt) = 0 THEN 0
                  ELSE list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(nt, ''), c -> CAST(ascii(c) AS BIGINT))),
                    (acc, c) -> (acc * 31 + c) % 1000000007)
             END AS fp
           FROM norm)
         SELECT fp, CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS group_size
         FROM fp GROUP BY fp"""),

    // Beyond-reference: BM25 keyword retrieval (Lucene-shaped idf) —
    // inverted-index plan: term filter pushed to the scan, postings-only
    // shuffles, broadcast df/corpus stats, fixed-order contribution sum
    // so the oracle replays the floats exactly.
    QuerySpec("q66_bm25_search", Plain, (s, dir) => {
      graft.ops.Bm25.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
        Seq("hash", "join", "spark"), k = 10)
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
                      FROM documents),
         dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) AS tot_dl FROM dl),
         tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM toks
                WHERE tok IN ('hash', 'join', 'spark') GROUP BY doc_id, tok),
         df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         scored AS (
           SELECT tf.doc_id, tf.tok,
             ln(CAST(1 AS DOUBLE) +
                (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
             * (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1)) /
               (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
                 (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE) /
                   (CAST(tot_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS contrib
           FROM tf, df, dl, stats
           WHERE tf.tok = df.tok AND tf.doc_id = dl.doc_id),
         summed AS (
           SELECT doc_id,
             round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(contrib ORDER BY tok)), (a, b) -> a + b), 4) AS score
           FROM scored GROUP BY doc_id)
         SELECT doc_id, score FROM summed
         ORDER BY score DESC, doc_id LIMIT 10"""),

    // Beyond-reference: LM context-window chunking — 32-token windows
    // sliding by 24 (8-token overlap); spans come from one codegen
    // transform over a sequence of offsets, so the chunker is a pure
    // narrow map over the corpus scan (zero shuffle before the explode).
    QuerySpec("q74_token_chunks", Plain, (s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), graft.ops.TextOps.tokens(col("text")).as("__toks"))
      docs.select(col("doc_id"),
        explode(graft.ops.TextOps.tokenChunks(col("__toks"), chunkTokens = 32, stride = 24))
          .as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("c.n_tok").as("n_tok"), col("c.first_tok").as("first_tok"))
    },
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE doc_id < 100),
         spans AS (
           SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, len(toks), 24)) AS start
           FROM d)
         SELECT doc_id, CAST(start / 24 AS BIGINT) AS chunk_idx,
           CAST(least(32, n - start) AS BIGINT) AS n_tok,
           toks[CAST(start AS INT) + 1] AS first_tok
         FROM spans"""),

    // Beyond-reference: perplexity-style quality scoring — per-doc mean
    // unigram surprisal under the corpus's own token distribution (the
    // CCNet LM-filter shape, engine-reproducible because the "LM" is the
    // corpus itself).
    QuerySpec("q75_unigram_surprisal", Plain, (s, dir) => {
      graft.ops.TextOps.unigramSurprisal(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").cast("long").as("doc_id"), col("n_tokens"),
          round(col("surprisal"), 3).as("surprisal"))
    },
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
         total AS (SELECT sum(tf) AS total FROM freq)
         SELECT t.doc_id, count(*) AS n_tokens,
           round(avg(-ln(f.tf::DOUBLE / total.total::DOUBLE)), 3) AS surprisal
         FROM toks t JOIN freq f USING (tok) CROSS JOIN total
         GROUP BY t.doc_id"""),

    // Beyond-reference: corpus-trained bigram LM quality score (the
    // CCNet/KenLM perplexity-filter family) — smoothed transition
    // probabilities from map-side-combinable pair counts, scored back
    // through bucket equi-joins; the oracle replays counts, smoothing,
    // and the per-doc mean exactly.
    QuerySpec("q121_lm_quality", Plain, (s, dir) => {
      graft.ops.TextOps.bigramLmScore(t(s, dir, "documents"), "doc_id", "text")
    },
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                       FROM documents WHERE text IS NOT NULL),
         idx AS (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM toks),
         pairs AS (SELECT doc_id,
                     CASE WHEN i = 1 THEN '<s>'
                          ELSE t[CAST(i - 1 AS INT)] END AS prev,
                     t[CAST(i AS INT)] AS cur
                   FROM idx),
         big AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cbg
                 FROM pairs GROUP BY prev, cur),
         pref AS (SELECT prev, CAST(count(*) AS BIGINT) AS cp
                  FROM pairs GROUP BY prev),
         voc AS (SELECT CAST(count(DISTINCT cur) AS BIGINT) AS v FROM pairs),
         lp AS (SELECT doc_id,
                  ln((CAST(cbg AS DOUBLE) + CAST(0.5 AS DOUBLE)) /
                     (CAST(cp AS DOUBLE) + CAST(0.5 AS DOUBLE) * CAST(v AS DOUBLE))) AS lp
                FROM pairs JOIN big USING (prev, cur) JOIN pref USING (prev), voc)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 4) AS avg_logprob
         FROM lp GROUP BY doc_id"""),

    // Beyond-reference: n-gram novelty — fraction of each doc's distinct
    // char 5-grams that no other doc contains (df=1 over the same
    // feature space the exact dedup cascade uses). The memorization-risk
    // signal next to dedup rates; one explode + df groupBy + bucket join.
    QuerySpec("q122_ngram_novelty", Plain, (s, dir) => {
      graft.ops.TextOps.ngramNovelty(t(s, dir, "documents"), "doc_id", "text")
    },
      """WITH sets AS (SELECT doc_id, list_distinct(list_transform(
             range(0, greatest(length(text) - 5, 0) + 1),
             i -> substr(text, CAST(1 + i AS INT), 5))) AS fset
           FROM documents WHERE text IS NOT NULL),
         g AS (SELECT doc_id, unnest(fset) AS g FROM sets),
         df AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           round(sum(CASE WHEN df = 1 THEN CAST(1 AS DOUBLE)
                          ELSE CAST(0 AS DOUBLE) END) / count(*), 4) AS novelty
         FROM g JOIN df USING (g) GROUP BY doc_id"""),

    // Beyond-reference: BPE merge induction over the corpus (tokenizer
    // FIT, Sennrich et al. 2016) — deterministic merge table from the
    // word-frequency collapse; vocabulary-scale rounds, 1-row argmax
    // collects. The DuckDB oracle replays all 8 fold-re-segmentation
    // rounds with MATERIALIZED per-round CTEs: each round recounts
    // adjacent symbol pairs over the sentinel-coded words, takes the
    // same (freq desc, l, r) argmax, and applies the merge as the same
    // literal sentinel replace the engine's q129 encoder uses. OpsSpec's
    // hand-computed canonical corpus additionally pins the algorithm.
    QuerySpec("q123_bpe_merges", Plain, (s, dir) => {
      graft.ops.TextOps.bpeMerges(t(s, dir, "documents"), "text", numMerges = 8)
    },
      // replays the 8 BPE fit rounds: per-round MATERIALIZED CTEs (plain
      // CTE inlining would duplicate the scan 4^8 times), sentinel-coded
      // words, adjacent-pair recount, (freq desc, l, r) argmax, literal
      // sentinel replace as the non-overlapping left-to-right merge pass
      """WITH wf AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
             SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
             FROM documents) WHERE w <> '' GROUP BY w),
         s0 AS MATERIALIZED (SELECT chr(1) ||
             array_to_string(string_split(w, ''), chr(2)||chr(1)) || chr(2) AS s,
             freq FROM wf),
         p1 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s0),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s1 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p1)||chr(2)||chr(1)||(SELECT r FROM p1)||chr(2),
             chr(1)||(SELECT l FROM p1)||(SELECT r FROM p1)||chr(2)) AS s, freq FROM s0),
         p2 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s1),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s2 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p2)||chr(2)||chr(1)||(SELECT r FROM p2)||chr(2),
             chr(1)||(SELECT l FROM p2)||(SELECT r FROM p2)||chr(2)) AS s, freq FROM s1),
         p3 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s2),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s3 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p3)||chr(2)||chr(1)||(SELECT r FROM p3)||chr(2),
             chr(1)||(SELECT l FROM p3)||(SELECT r FROM p3)||chr(2)) AS s, freq FROM s2),
         p4 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s3),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s4 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p4)||chr(2)||chr(1)||(SELECT r FROM p4)||chr(2),
             chr(1)||(SELECT l FROM p4)||(SELECT r FROM p4)||chr(2)) AS s, freq FROM s3),
         p5 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s4),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s5 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p5)||chr(2)||chr(1)||(SELECT r FROM p5)||chr(2),
             chr(1)||(SELECT l FROM p5)||(SELECT r FROM p5)||chr(2)) AS s, freq FROM s4),
         p6 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s5),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s6 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p6)||chr(2)||chr(1)||(SELECT r FROM p6)||chr(2),
             chr(1)||(SELECT l FROM p6)||(SELECT r FROM p6)||chr(2)) AS s, freq FROM s5),
         p7 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s6),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1),
         s7 AS MATERIALIZED (SELECT replace(s,
             chr(1)||(SELECT l FROM p7)||chr(2)||chr(1)||(SELECT r FROM p7)||chr(2),
             chr(1)||(SELECT l FROM p7)||(SELECT r FROM p7)||chr(2)) AS s, freq FROM s6),
         p8 AS MATERIALIZED (SELECT l, r, pf FROM (
             SELECT us[i] AS l, us[i+1] AS r, CAST(sum(freq) AS BIGINT) AS pf
             FROM (SELECT freq, string_split(substr(s, 2, len(s)-2),
                                             chr(2)||chr(1)) AS us FROM s7),
                  LATERAL unnest(range(1, len(us))) AS t(i)
             GROUP BY us[i], us[i+1])
           ORDER BY pf DESC, l, r LIMIT 1)
         SELECT CAST(1 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p1
         UNION ALL SELECT CAST(2 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p2
         UNION ALL SELECT CAST(3 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p3
         UNION ALL SELECT CAST(4 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p4
         UNION ALL SELECT CAST(5 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p5
         UNION ALL SELECT CAST(6 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p6
         UNION ALL SELECT CAST(7 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p7
         UNION ALL SELECT CAST(8 AS BIGINT) AS rank, l AS "left", r AS "right", pf AS pair_freq FROM p8"""),

    // Beyond-reference: winnowing fingerprints (the MOSS local
    // fingerprinting rule) — every shared substring of length ≥ k+w−1
    // yields a shared fingerprint at expected density 2/(w+1). Pure
    // row-local codegen (hash + window argmin), md5-based so selection
    // replays bit-for-bit in the oracle.
    QuerySpec("q125_winnowing", Plain, (s, dir) => {
      // bind the fingerprint array once per row (lambda variable) — a
      // shared Column would re-inline the whole winnowing tree at each
      // of the three references below
      val summary = element_at(transform(
        array(graft.ops.TextOps.winnowing(col("text"))), fps =>
          struct(
            size(fps).cast("long").as("n_fps"),
            aggregate(fps, lit(0L), (a, x) => a + x.getField("fp")).as("fp_sum"),
            element_at(fps, 1).getField("pos").cast("long").as("first_pos"))), 1)
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"), summary.as("r"))
        .select(col("doc_id"), col("r.n_fps").as("n_fps"),
          col("r.fp_sum").as("fp_sum"), col("r.first_pos").as("first_pos"))
    },
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         h AS (SELECT doc_id,
                 list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                   i -> CAST(concat('0x',
                     substr(md5(substr(text, CAST(i AS INT), 5)), 1, 12)) AS BIGINT)) AS hs
               FROM d),
         s1 AS (SELECT doc_id, hs, len(hs) AS nh FROM h),
         fps AS (SELECT doc_id, hs,
                   list_sort(list_distinct(list_transform(
                     range(1, greatest(nh - 3, 1) + 1),
                     s -> list_reduce(
                            list_prepend({'fp': 9223372036854775807, 'pos': -1},
                              list_transform(range(0, least(4, nh)),
                                off -> {'fp': hs[CAST(s + off AS INT)],
                                        'pos': CAST(s + off AS INT)})),
                            (acc, x) -> CASE WHEN x.fp <= acc.fp
                                             THEN x ELSE acc END).pos))) AS sel
                 FROM s1)
         SELECT doc_id, CAST(len(sel) AS BIGINT) AS n_fps,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(sel, p -> hs[CAST(p AS INT)])), (a, b) -> a + b)
             AS BIGINT) AS fp_sum,
           CAST(sel[1] AS BIGINT) AS first_pos
         FROM fps"""),

    // Beyond-reference: BPE ENCODE (tokenizer apply, the runtime
    // companion to q123's fit) — a fixed merge table applied as a chain
    // of sentinel-delimited literal replaces, provably the left-to-right
    // non-overlapping merge pass (OpsSpec) and one whole-stage-codegen
    // scan: no shuffle until the vocabulary-scale count. Top tokens by
    // corpus frequency.
    QuerySpec("q129_bpe_encode", Plain, (s, dir) => {
      t(s, dir, "documents")
        .select(explode(graft.ops.TextOps.bpeEncodeTokens(
          col("text"), graft.ops.TextOps.DemoMerges)).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token"))
        .limit(15)
    },
      // sentinel-delimited words, eight literal replaces in merge-rank
      // order (replace IS the non-overlapping left-to-right merge pass),
      // then unwrap and count
      """WITH w AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
                    FROM documents),
         ww AS (SELECT w FROM w WHERE w <> ''),
         s0 AS (SELECT chr(1) || array_to_string(string_split(w, ''),
                         chr(2) || chr(1)) || chr(2) AS s FROM ww),
         s1 AS (SELECT replace(s, chr(1)||'t'||chr(2)||chr(1)||'h'||chr(2),
                               chr(1)||'th'||chr(2)) AS s FROM s0),
         s2 AS (SELECT replace(s, chr(1)||'th'||chr(2)||chr(1)||'e'||chr(2),
                               chr(1)||'the'||chr(2)) AS s FROM s1),
         s3 AS (SELECT replace(s, chr(1)||'i'||chr(2)||chr(1)||'n'||chr(2),
                               chr(1)||'in'||chr(2)) AS s FROM s2),
         s4 AS (SELECT replace(s, chr(1)||'a'||chr(2)||chr(1)||'n'||chr(2),
                               chr(1)||'an'||chr(2)) AS s FROM s3),
         s5 AS (SELECT replace(s, chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2),
                               chr(1)||'er'||chr(2)) AS s FROM s4),
         s6 AS (SELECT replace(s, chr(1)||'o'||chr(2)||chr(1)||'n'||chr(2),
                               chr(1)||'on'||chr(2)) AS s FROM s5),
         s7 AS (SELECT replace(s, chr(1)||'r'||chr(2)||chr(1)||'e'||chr(2),
                               chr(1)||'re'||chr(2)) AS s FROM s6),
         s8 AS (SELECT replace(s, chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2),
                               chr(1)||'at'||chr(2)) AS s FROM s7),
         toks AS (SELECT unnest(string_split(trim(s, chr(1) || chr(2)),
                           chr(2) || chr(1))) AS token
                  FROM s8)
         SELECT token, CAST(count(*) AS BIGINT) AS cnt
         FROM toks GROUP BY token
         ORDER BY cnt DESC, token LIMIT 15"""),

    // Beyond-reference: Zipf power-law fit over the token frequency
    // distribution — OLS on (ln rank, ln freq) of the top-100 tokens;
    // one token-count pass, vocabulary-scale top cut, 5-sum aggregate.
    QuerySpec("q134_zipf_fit", Plain, (s, dir) => {
      graft.ops.TextOps.zipfFit(t(s, dir, "documents"), "text", topN = 100)
    },
      // same top-100 cut (ties to token asc) and the closed-form OLS sums
      """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '\s+')) AS tok
                       FROM documents),
         freqs AS (SELECT tok, CAST(count(*) AS BIGINT) AS freq
                   FROM toks WHERE tok <> '' GROUP BY tok),
         top AS (SELECT freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT)
                     AS rank
                 FROM (SELECT tok, freq FROM freqs
                       ORDER BY freq DESC, tok LIMIT 100)),
         pts AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
                   ln(CAST(freq AS DOUBLE)) AS y FROM top),
         s AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x) AS sx,
                 sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx FROM pts)
         SELECT CAST(n AS BIGINT) AS n_points,
           round((n*sxy - sx*sy) / (n*sxx - sx*sx), 4) AS slope,
           round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 4)
             AS intercept
         FROM s"""),

    // Beyond-reference: pairwise source-vocabulary Jaccard — the
    // mixture-redundancy diagnostic; distinct (source, token) pass +
    // token bucket join (fan-out <= sources^2 per token) + broadcast
    // sizes. Top-15 most-overlapping source pairs.
    QuerySpec("q141_vocab_overlap", Plain, (s, dir) => {
      graft.ops.TextOps.sourceVocabOverlap(
        t(s, dir, "documents"), "source", "text")
        .orderBy(col("jaccard").desc, col("src_a"), col("src_b"))
        .limit(15)
    },
      // distinct (source, token) pairs self-joined on the token
      """WITH vt AS (SELECT DISTINCT source AS src, tok FROM (
                       SELECT source,
                         unnest(string_split_regex(lower(text), '\s+')) AS tok
                       FROM documents) WHERE tok <> ''),
         sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n
                   FROM vt GROUP BY src),
         pairs AS (SELECT x.src AS src_a, y.src AS src_b,
                     CAST(count(*) AS BIGINT) AS common
                   FROM vt x JOIN vt y ON x.tok = y.tok AND x.src < y.src
                   GROUP BY x.src, y.src)
         SELECT src_a, src_b, common,
           round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
         FROM pairs JOIN sizes sa ON pairs.src_a = sa.src
           JOIN sizes sb ON pairs.src_b = sb.src
         ORDER BY jaccard DESC, src_a, src_b LIMIT 15"""),

    // Beyond-reference: token burstiness — chi-square of each top
    // token's source distribution vs the corpus source shares; the
    // template/jargon-marker diagnostic. Full top-N x sources grid is
    // broadcast-scale; zero cells contribute their expectation.
    QuerySpec("q142_token_burstiness", Plain, (s, dir) => {
      graft.ops.TextOps.tokenBurstiness(
        t(s, dir, "documents"), "source", "text", topN = 50, topK = 15)
    },
      // full grid = top tokens x sources; zero cells via left join
      """WITH ts AS (SELECT source AS src,
                       unnest(string_split_regex(lower(text), '\s+')) AS tok
                     FROM documents),
         tk AS (SELECT src, tok FROM ts WHERE tok <> ''),
         cell AS (SELECT tok, src, CAST(count(*) AS BIGINT) AS c
                  FROM tk GROUP BY tok, src),
         tokTot AS (SELECT tok, CAST(sum(c) AS BIGINT) AS tt
                    FROM cell GROUP BY tok),
         srcTot AS (SELECT src, CAST(sum(c) AS BIGINT) AS st
                    FROM cell GROUP BY src),
         grand AS (SELECT CAST(sum(st) AS BIGINT) AS g FROM srcTot),
         top AS (SELECT tok, tt FROM tokTot ORDER BY tt DESC, tok LIMIT 50),
         grid AS (SELECT top.tok, top.tt, srcTot.src, srcTot.st, g,
                    COALESCE(cell.c, 0) AS obs
                  FROM top CROSS JOIN srcTot CROSS JOIN grand
                    LEFT JOIN cell ON top.tok = cell.tok
                      AND srcTot.src = cell.src),
         terms AS (SELECT tok, tt,
                     (CAST(obs AS DOUBLE) -
                       CAST(tt AS DOUBLE) * st / g) *
                     (CAST(obs AS DOUBLE) -
                       CAST(tt AS DOUBLE) * st / g) /
                     (CAST(tt AS DOUBLE) * st / g) AS term
                   FROM grid)
         SELECT tok, tt AS total, round(sum(term), 4) AS chi2
         FROM terms GROUP BY tok, tt
         ORDER BY chi2 DESC, tok LIMIT 15"""),

    // Beyond-reference: out-of-vocabulary rate per source vs the
    // corpus' own top-20 token vocabulary — the tokenizer-fit
    // diagnostic; distributed top-N, broadcast vocab, one agg.
    QuerySpec("q149_oov_rate", Plain, (s, dir) => {
      graft.ops.TextOps.oovRate(
        t(s, dir, "documents"), "source", "text", vocabSize = 20)
    },
      // top-20 vocabulary by (count DESC, token ASC); OOV = tokens left
      // of the same boundary
      """WITH toks AS (SELECT source AS src,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
               w -> w <> '')) AS tok
           FROM documents),
         vocab AS (SELECT tok FROM toks GROUP BY tok
                   ORDER BY count(*) DESC, tok LIMIT 20)
         SELECT src AS source, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE tok NOT IN (SELECT tok FROM vocab))
             AS BIGINT) AS n_oov,
           round(CAST(count(*) FILTER (WHERE tok NOT IN
               (SELECT tok FROM vocab)) AS DOUBLE) / count(*), 6) AS oov_rate
         FROM toks GROUP BY src"""),

    // Beyond-reference: tokenizer FERTILITY report (the multilingual-
    // tokenizer health metric: subword tokens per word, chars per token,
    // per language) — q129's sentinel replace-chain BPE encoder applied
    // per doc, reduced to three map-side-combinable sums per language.
    // High-fertility languages burn context window; this is the number
    // vocabulary allocation decisions are made on.
    QuerySpec("q170_tokenizer_fertility", Plain, (s, dir) => {
      val words = filter(split(lower(col("text")), "\\s+"), w => w =!= "")
      t(s, dir, "documents")
        .select(col("lang"),
          size(words).cast("long").as("__w"),
          aggregate(words, lit(0L), (acc, w) => acc + length(w)).as("__c"),
          size(graft.ops.TextOps.bpeEncodeTokens(
            col("text"), graft.ops.TextOps.DemoMerges)).cast("long").as("__t"))
        .groupBy(col("lang"))
        .agg(sum(col("__w")).as("n_words"),
          sum(col("__t")).as("n_tokens"),
          round(sum(col("__t")).cast("double") / sum(col("__w")), 6)
            .as("fertility"),
          round(sum(col("__c")).cast("double") / sum(col("__t")), 6)
            .as("chars_per_token"))
    },
      // q129's replace-chain replayed per word keeping lang; a word's
      // token count is its sentinel-segment count after the 8 merges
      """WITH w AS (SELECT lang,
             unnest(string_split_regex(lower(text), '\s+')) AS w
           FROM documents),
         ww AS (SELECT lang, w FROM w WHERE w <> ''),
         s0 AS (SELECT lang, len(w) AS c,
                  chr(1) || array_to_string(string_split(w, ''),
                    chr(2) || chr(1)) || chr(2) AS s FROM ww),
         s1 AS (SELECT lang, c, replace(s, chr(1)||'t'||chr(2)||chr(1)||'h'||chr(2),
                         chr(1)||'th'||chr(2)) AS s FROM s0),
         s2 AS (SELECT lang, c, replace(s, chr(1)||'th'||chr(2)||chr(1)||'e'||chr(2),
                         chr(1)||'the'||chr(2)) AS s FROM s1),
         s3 AS (SELECT lang, c, replace(s, chr(1)||'i'||chr(2)||chr(1)||'n'||chr(2),
                         chr(1)||'in'||chr(2)) AS s FROM s2),
         s4 AS (SELECT lang, c, replace(s, chr(1)||'a'||chr(2)||chr(1)||'n'||chr(2),
                         chr(1)||'an'||chr(2)) AS s FROM s3),
         s5 AS (SELECT lang, c, replace(s, chr(1)||'e'||chr(2)||chr(1)||'r'||chr(2),
                         chr(1)||'er'||chr(2)) AS s FROM s4),
         s6 AS (SELECT lang, c, replace(s, chr(1)||'o'||chr(2)||chr(1)||'n'||chr(2),
                         chr(1)||'on'||chr(2)) AS s FROM s5),
         s7 AS (SELECT lang, c, replace(s, chr(1)||'r'||chr(2)||chr(1)||'e'||chr(2),
                         chr(1)||'re'||chr(2)) AS s FROM s6),
         s8 AS (SELECT lang, c, replace(s, chr(1)||'a'||chr(2)||chr(1)||'t'||chr(2),
                         chr(1)||'at'||chr(2)) AS s FROM s7),
         tok AS (SELECT lang, c,
                   len(string_split(trim(s, chr(1) || chr(2)),
                     chr(2) || chr(1))) AS t
                 FROM s8)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t) AS BIGINT) AS n_tokens,
           round(sum(t) / CAST(count(*) AS DOUBLE), 6) AS fertility,
           round(sum(c) / CAST(sum(t) AS DOUBLE), 6) AS chars_per_token
         FROM tok GROUP BY lang"""),

    // Beyond-reference: vocabulary COVERAGE curve — fraction of corpus
    // token mass covered by the top-k types, the number tokenizer vocab
    // sizes are chosen on. One token-count agg, one vocabulary-scale
    // rank window, k-fanout via a tiny cross join; corpus never
    // re-scanned per k.
    QuerySpec("q173_vocab_coverage", Plain, (s, dir) => {
      import s.implicits._
      val ks = Seq(1, 2, 5, 10, 20)
      val freqs = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      val ranked = freqs.withColumn("rank",
        row_number().over(Window.orderBy(col("f").desc, col("tok"))))
      val tot = freqs.agg(sum(col("f")).as("__tot"))
      ranked.crossJoin(broadcast(tot))
        .crossJoin(broadcast(
          ks.toDF("k")))
        .groupBy(col("k"))
        .agg(sum(when(col("rank") <= col("k"), 1L).otherwise(0L)).as("n_types"),
          round(sum(when(col("rank") <= col("k"), col("f")).otherwise(0L))
            .cast("double") / first(col("__tot")), 6).as("coverage"))
    },
      // rank window + cross-joined k list; same tie-break (freq desc, tok)
      """WITH toks AS (SELECT unnest(string_split_regex(lower(text), '\s+'))
             AS tok FROM documents),
         f AS (SELECT tok, CAST(count(*) AS BIGINT) AS f FROM toks
               WHERE tok <> '' GROUP BY tok),
         r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS rank
               FROM f),
         tot AS (SELECT sum(f) AS tot FROM f),
         ks(k) AS (VALUES (1), (2), (5), (10), (20))
         SELECT k,
           CAST(sum(CASE WHEN rank <= k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_types,
           round(sum(CASE WHEN rank <= k THEN f ELSE 0 END) /
             CAST((SELECT tot FROM tot) AS DOUBLE), 6) AS coverage
         FROM r CROSS JOIN ks GROUP BY k"""),

    // Beyond-reference: per-source distribution drift — KL divergence of
    // each source's token distribution from the corpus distribution
    // (add-one smoothing over the shared vocabulary; summed over the
    // source's OBSERVED types — absent-type mass is 1/(st+V) per type,
    // negligible and omitted identically by the oracle), the
    // domain-shift / contamination screen run before mixing a new source
    // in. Two vocabulary-scale aggs + one bucket equi-join.
    QuerySpec("q174_source_kl", Plain, (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"),
          explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(col("tok") =!= "")
      val vocabN = toks.select(countDistinct(col("tok")).as("__v"))
      val corpus = toks.groupBy(col("tok")).agg(count(lit(1)).as("cf"))
      val corpusTot = corpus.agg(sum(col("cf")).as("__ct"))
      val bySrc = toks.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("sf"))
      val srcTot = bySrc.groupBy(col("source")).agg(sum(col("sf")).as("st"))
      bySrc.join(srcTot, "source")
        .join(corpus, "tok")
        .crossJoin(broadcast(vocabN))
        .crossJoin(broadcast(corpusTot))
        .withColumn("__ps", (col("sf") + 1).cast("double") /
          (col("st") + col("__v")))
        .withColumn("__pc", (col("cf") + 1).cast("double") /
          (col("__ct") + col("__v")))
        .groupBy(col("source"))
        .agg(sum(col("sf")).as("n_tokens"),
          round(sum(col("__ps") * log(col("__ps") / col("__pc"))), 6)
            .as("kl_nats"))
    },
      // same smoothing and observed-type truncation as the Spark side
      """WITH tw AS (SELECT source, tok FROM (
             SELECT source,
               unnest(string_split_regex(lower(text), '\s+')) AS tok
             FROM documents) WHERE tok <> ''),
         v AS (SELECT count(DISTINCT tok) AS v FROM tw),
         c AS (SELECT tok, CAST(count(*) AS BIGINT) AS cf FROM tw GROUP BY tok),
         ct AS (SELECT CAST(sum(cf) AS BIGINT) AS ct FROM c),
         sx AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS sf
                FROM tw GROUP BY 1, 2),
         stt AS (SELECT source, CAST(sum(sf) AS BIGINT) AS st
                 FROM sx GROUP BY 1),
         j AS (SELECT sx.source, sx.sf,
                 (sx.sf + 1) / CAST(stt.st + (SELECT v FROM v) AS DOUBLE)
                   AS ps,
                 (c.cf + 1) / CAST((SELECT ct FROM ct) + (SELECT v FROM v)
                   AS DOUBLE) AS pc
               FROM sx JOIN stt USING (source) JOIN c USING (tok))
         SELECT source, CAST(sum(sf) AS BIGINT) AS n_tokens,
           round(sum(ps * ln(ps / pc)), 6) AS kl_nats
         FROM j GROUP BY source"""),

    // Beyond-reference: UNIGRAM-LM TOKENIZER INDUCTION (Kudo 2018,
    // hard-EM) — the OTHER tokenizer family production LLMs ship next to
    // BPE (q123): seed vocabulary from freq-weighted substring counts,
    // then two Viterbi-E / count-M rounds with quantized integer
    // log-probs, each round ONE codegen segmentation scan over the
    // distinct-word table. The oracle replays both rounds as per-word
    // integer DP list-folds in SQL.
    QuerySpec("q190_unigram_fit", Plain, (s, dir) => {
      graft.ops.TextOps.unigramFit(t(s, dir, "documents"), "text",
        seedExtra = 40, maxPieceLen = 3, emRounds = 2, maxWordLen = 30)
    },
      // seed substring counts -> two hard-EM rounds (integer Viterbi DP
      // per distinct word as list folds, freq-weighted recount) -> final
      // (piece, cnt, quantized logp); every comparison is integer so the
      // replay is bit-exact
      (s"""WITH wf AS (
   SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
     SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
     FROM documents) WHERE w <> '' GROUP BY w),
 words AS (SELECT w, freq, len(w) AS n FROM wf WHERE len(w) <= 30),
 rawsub AS (
   SELECT substr(w, CAST(j AS INT), CAST(k AS INT)) AS pc, CAST(sum(freq) AS BIGINT) AS c
   FROM words, LATERAL unnest(range(1, n+1)) t(j), LATERAL unnest(range(1, 4)) u(k)
   WHERE j + k - 1 <= n GROUP BY 1),
 grams AS (SELECT pc, c FROM rawsub WHERE len(pc) > 1 ORDER BY c DESC, pc LIMIT 40),
 vocab AS MATERIALIZED (SELECT pc, c FROM rawsub WHERE len(pc) = 1 UNION ALL SELECT pc, c FROM grams),
 k0 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS V FROM vocab),
 probs0 AS MATERIALIZED (
   SELECT pc AS piece, CAST(floor(ln((c + 1)::DOUBLE / (tot + V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab, k0),""" +
      unigramDpSql("probs0", "cnt1") + """,
 cnt1m AS MATERIALIZED (SELECT * FROM cnt1),
 k1 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt1m),
 probs1 AS MATERIALIZED (
   SELECT v.pc AS piece,
     CAST(floor(ln((coalesce(c1.c, 0) + 1)::DOUBLE / (k1.tot + k1.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab v LEFT JOIN cnt1m c1 ON c1.pc = v.pc, k1),""" +
      unigramDpSql("probs1", "cnt2") + """,
 cnt2m AS MATERIALIZED (SELECT * FROM cnt2),
 k2 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt2m)
 SELECT v.pc AS piece, CAST(coalesce(c2.c, 0) AS BIGINT) AS cnt,
   CAST(floor(ln((coalesce(c2.c, 0) + 1)::DOUBLE / (k2.tot + k2.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS logp_q
 FROM vocab v LEFT JOIN cnt2m c2 ON c2.pc = v.pc, k2""")),

    // Beyond-reference: interpolated KNESER–NEY trigram LM quality
    // report — the LM family CCNet/KenLM filters actually use (q121's
    // add-k bigram is the strawman baseline, reported alongside as the
    // uplift): absolute discount 0.75, continuation counts for the
    // lower orders, exactly normalized. Corpus-side work is one trigram
    // explode + vocabulary-scale count tables joined back by token key.
    QuerySpec("q191_kn_trigram", Plain, (s, dir) => {
      graft.ops.TextOps.knTrigramReport(t(s, dir, "documents"), "source", "text")
    },
      // same padded trigram stream, same count tables (c3/c2/continuation
      // mid/midv/uni), identical arithmetic shape so the doubles agree
      """WITH tk AS (SELECT source AS src,
             string_split_regex(lower(text), '\s+') AS t0
           FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT src, list_filter(t0, x -> x <> '') AS t FROM tk),
         tok2 AS (SELECT src, t, ['<s>', '<s>'] || t AS us, len(t) AS n
                  FROM tok WHERE len(t) > 0),
         ev AS (SELECT src, us[CAST(i AS INT)] AS u, us[CAST(i+1 AS INT)] AS v,
                  t[CAST(i AS INT)] AS w
                FROM tok2, LATERAL unnest(range(1, n+1)) r(i)),
         evc AS (SELECT src, u, v, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM ev GROUP BY 1, 2, 3, 4),
         c3 AS (SELECT u, v, w, CAST(sum(cnt) AS BIGINT) AS c3
                FROM evc GROUP BY 1, 2, 3),
         c2 AS (SELECT u, v, CAST(sum(c3) AS BIGINT) AS c2,
                  CAST(count(*) AS BIGINT) AS n1p
                FROM c3 GROUP BY 1, 2),
         mid AS (SELECT v, w, CAST(count(*) AS BIGINT) AS mid
                 FROM c3 GROUP BY 1, 2),
         midv AS (SELECT v, CAST(sum(mid) AS BIGINT) AS midctx,
                    CAST(count(*) AS BIGINT) AS midn1
                  FROM mid GROUP BY 1),
         uniw AS (SELECT w, CAST(count(*) AS BIGINT) AS uni FROM mid GROUP BY 1),
         scal AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM mid) AS unitot,
                    (SELECT CAST(count(DISTINCT w) AS BIGINT) FROM c3) AS vsz),
         sc AS (SELECT e.src, e.cnt,
             ln(greatest(c3.c3 - 0.75, 0.0) / c2.c2 + (0.75 * c2.n1p / c2.c2) *
                (greatest(mid.mid - 0.75, 0.0) / midv.midctx +
                 (0.75 * midv.midn1 / midv.midctx) *
                 (uniw.uni::DOUBLE / scal.unitot::DOUBLE))) AS kn_lp,
             ln((c3.c3 + 1)::DOUBLE / (c2.c2 + scal.vsz)::DOUBLE) AS add1_lp
           FROM evc e JOIN c3 USING (u, v, w) JOIN c2 USING (u, v)
                JOIN mid USING (v, w) JOIN midv USING (v) JOIN uniw USING (w),
                scal)
         SELECT src AS source, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
           round(sum(cnt * kn_lp) / sum(cnt), 4) AS kn_ll,
           round(sum(cnt * add1_lp) / sum(cnt), 4) AS add1_ll,
           round(round(sum(cnt * kn_lp) / sum(cnt), 4) -
                 round(sum(cnt * add1_lp) / sum(cnt), 4), 4) AS kn_uplift
         FROM sc GROUP BY src"""),

    // Beyond-reference: WINNOWING-OVERLAP pair detection (the MOSS
    // matching rule, Schleimer et al. SIGMOD'03): documents sharing ≥
    // half the smaller side's distinct winnowing fingerprints, with a
    // df-cap boilerplate cut before matching. Unlike whole-document
    // Jaccard, winnowing guarantees any shared run of ≥ k+w−1 chars
    // leaves a shared fingerprint — LOCALIZED overlap, the
    // plagiarism/citation-contamination screen.
    QuerySpec("q195_winnowing_overlap", Plain, (s, dir) => {
      graft.ops.TextOps.winnowingOverlap(
        t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minOverlap = 0.5, dfCap = 64L)
    },
      // q125's winnowing selection machinery → per-doc DISTINCT
      // fingerprint values → df-capped inverted-index self-join →
      // min-side containment ratio
      """WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
         h AS (SELECT doc_id,
                 list_transform(range(1, greatest(length(text) - 4, 1) + 1),
                   i -> CAST(concat('0x',
                     substr(md5(substr(text, CAST(i AS INT), 5)), 1, 12)) AS BIGINT)) AS hs
               FROM d),
         s1 AS (SELECT doc_id, hs, len(hs) AS nh FROM h),
         fpsel AS (SELECT doc_id, hs,
                     list_sort(list_distinct(list_transform(
                       range(1, greatest(nh - 3, 1) + 1),
                       s -> list_reduce(
                              list_prepend({'fp': 9223372036854775807, 'pos': -1},
                                list_transform(range(0, least(4, nh)),
                                  off -> {'fp': hs[CAST(s + off AS INT)],
                                          'pos': CAST(s + off AS INT)})),
                              (acc, x) -> CASE WHEN x.fp <= acc.fp
                                               THEN x ELSE acc END).pos))) AS sel
                   FROM s1),
         fps AS (SELECT DISTINCT doc_id, CAST(fpv AS BIGINT) AS fp FROM (
                   SELECT doc_id,
                     unnest(list_transform(sel, p -> hs[CAST(p AS INT)])) AS fpv
                   FROM fpsel)),
         kept AS (SELECT f.doc_id, f.fp FROM fps f
                  JOIN (SELECT fp FROM fps GROUP BY fp
                        HAVING count(*) <= 64) g USING (fp)),
         sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
                   FROM kept GROUP BY 1),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS n_shared
                   FROM kept a JOIN kept b
                     ON a.fp = b.fp AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT p.id_a, p.id_b, p.n_shared,
           round(p.n_shared::DOUBLE / least(sa.nfp, sb.nfp)::DOUBLE, 4)
             AS overlap
         FROM pairs p JOIN sizes sa ON sa.doc_id = p.id_a
                      JOIN sizes sb ON sb.doc_id = p.id_b
         WHERE p.n_shared::DOUBLE / least(sa.nfp, sb.nfp)::DOUBLE >= 0.5"""),

    // Beyond-reference: per-document KN PERPLEXITY BUCKETS — the CCNet
    // head/middle/tail split applied with q191's interpolated
    // Kneser–Ney model keyed per document: per-doc mean KN log-prob,
    // then exact corpus terciles by (kn_ll desc, doc_id) ntile — head =
    // most language-model-typical third. The corpus-wide ntile window
    // is the corpus-statistic CCNet's split inherently is; at 100 TB
    // the boundaries would come from the distributed-quantile op and
    // the bucket from two broadcast comparisons.
    QuerySpec("q196_kn_ppl_buckets", Plain, (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perDoc = graft.ops.TextOps.knTrigramScores(
        t(s, dir, "documents"), "doc_id", "text")
        .groupBy(col("src").cast("long").as("doc_id"))
        .agg(sum(col("cnt")).as("n_trigrams"),
          round(sum(col("cnt") * col("kn_lp")) / sum(col("cnt")), 4).as("kn_ll"))
      perDoc.withColumn("bucket",
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          ntile(3).over(Window.orderBy(col("kn_ll").desc, col("doc_id")))))
    },
      // q191's KN machinery keyed per doc, then ntile(3) over
      // (kn_ll desc, doc_id) — identical rounding before ordering
      """WITH tk AS (SELECT doc_id AS src,
             string_split_regex(lower(text), '\s+') AS t0
           FROM documents WHERE text IS NOT NULL),
         tok AS (SELECT src, list_filter(t0, x -> x <> '') AS t FROM tk),
         tok2 AS (SELECT src, t, ['<s>', '<s>'] || t AS us, len(t) AS n
                  FROM tok WHERE len(t) > 0),
         ev AS (SELECT src, us[CAST(i AS INT)] AS u, us[CAST(i+1 AS INT)] AS v,
                  t[CAST(i AS INT)] AS w
                FROM tok2, LATERAL unnest(range(1, n+1)) r(i)),
         evc AS (SELECT src, u, v, w, CAST(count(*) AS BIGINT) AS cnt
                 FROM ev GROUP BY 1, 2, 3, 4),
         c3 AS (SELECT u, v, w, CAST(sum(cnt) AS BIGINT) AS c3
                FROM evc GROUP BY 1, 2, 3),
         c2 AS (SELECT u, v, CAST(sum(c3) AS BIGINT) AS c2,
                  CAST(count(*) AS BIGINT) AS n1p
                FROM c3 GROUP BY 1, 2),
         mid AS (SELECT v, w, CAST(count(*) AS BIGINT) AS mid
                 FROM c3 GROUP BY 1, 2),
         midv AS (SELECT v, CAST(sum(mid) AS BIGINT) AS midctx,
                    CAST(count(*) AS BIGINT) AS midn1
                  FROM mid GROUP BY 1),
         uniw AS (SELECT w, CAST(count(*) AS BIGINT) AS uni FROM mid GROUP BY 1),
         scal AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM mid) AS unitot),
         sc AS (SELECT e.src, e.cnt,
             ln(greatest(c3.c3 - 0.75, 0.0) / c2.c2 + (0.75 * c2.n1p / c2.c2) *
                (greatest(mid.mid - 0.75, 0.0) / midv.midctx +
                 (0.75 * midv.midn1 / midv.midctx) *
                 (uniw.uni::DOUBLE / scal.unitot::DOUBLE))) AS kn_lp
           FROM evc e JOIN c3 USING (u, v, w) JOIN c2 USING (u, v)
                JOIN mid USING (v, w) JOIN midv USING (v) JOIN uniw USING (w),
                scal),
         perdoc AS (SELECT src AS doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
             round(sum(cnt * kn_lp) / sum(cnt), 4) AS kn_ll
           FROM sc GROUP BY src)
         SELECT doc_id, n_trigrams, kn_ll,
           (['head', 'middle', 'tail'])[
             ntile(3) OVER (ORDER BY kn_ll DESC, doc_id)] AS bucket
         FROM perdoc"""),

    // Beyond-reference: TOKENIZER BAKE-OFF — the fit→apply composition
    // that closes the tokenizer story: q190's induced unigram vocabulary
    // (its shipped quantized log-probs ARE the encode model) against the
    // fixed BPE demo table, per-language fertility (subword tokens per
    // word) over the SAME capped word stream. The number a vocabulary
    // budget decision is made on. Encode = one codegen Viterbi scan /
    // one sentinel replace-chain over the distinct (lang, word) table.
    QuerySpec("q197_tokenizer_bakeoff", Plain, (s, dir) => {
      val T = graft.ops.TextOps
      val docs = t(s, dir, "documents")
      val model = T.unigramFit(docs, "text").collect()
        .map(r => (r.getString(0), r.getLong(2))).toSeq.sortBy(_._1)
      val wl = docs
        .select(col("lang"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w") =!= "" && length(col("w")) <= 30)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
      val uniSeg = org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.UnigramSegment(
          org.apache.spark.sql.GraftSqlBridge.expression(col("w")),
          model, maxPieceLen = 3))
      wl
        .withColumn("uni", size(uniSeg).cast("long"))
        .withColumn("bpe",
          size(T.bpeEncodeTokens(col("w"), T.DemoMerges)).cast("long"))
        .groupBy(col("lang"))
        .agg(sum(col("freq")).as("n_words"),
          sum(col("freq") * col("bpe")).as("bpe_tokens"),
          sum(col("freq") * col("uni")).as("uni_tokens"))
        .withColumn("bpe_fertility",
          round(col("bpe_tokens").cast("double") / col("n_words"), 6))
        .withColumn("uni_fertility",
          round(col("uni_tokens").cast("double") / col("n_words"), 6))
    },
      // the full q190 fit replay (seed + two hard-EM rounds) extended one
      // more DP block: probs2 = the shipped log-probs, cnt3's backward
      // walk yields per-word piece counts; BPE side is the q129 sentinel
      // chain per distinct word; both weighted through the (lang, word)
      // frequency table
      (s"""WITH wf AS (
   SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
     SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
     FROM documents) WHERE w <> '' GROUP BY w),
 words AS (SELECT w, freq, len(w) AS n FROM wf WHERE len(w) <= 30),
 rawsub AS (
   SELECT substr(w, CAST(j AS INT), CAST(k AS INT)) AS pc, CAST(sum(freq) AS BIGINT) AS c
   FROM words, LATERAL unnest(range(1, n+1)) t(j), LATERAL unnest(range(1, 4)) u(k)
   WHERE j + k - 1 <= n GROUP BY 1),
 grams AS (SELECT pc, c FROM rawsub WHERE len(pc) > 1 ORDER BY c DESC, pc LIMIT 40),
 vocab AS MATERIALIZED (SELECT pc, c FROM rawsub WHERE len(pc) = 1 UNION ALL SELECT pc, c FROM grams),
 k0 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS V FROM vocab),
 probs0 AS MATERIALIZED (
   SELECT pc AS piece, CAST(floor(ln((c + 1)::DOUBLE / (tot + V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab, k0),""" +
      unigramDpSql("probs0", "cnt1") + """,
 cnt1m AS MATERIALIZED (SELECT * FROM cnt1),
 k1 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt1m),
 probs1 AS MATERIALIZED (
   SELECT v.pc AS piece,
     CAST(floor(ln((coalesce(c1.c, 0) + 1)::DOUBLE / (k1.tot + k1.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab v LEFT JOIN cnt1m c1 ON c1.pc = v.pc, k1),""" +
      unigramDpSql("probs1", "cnt2") + """,
 cnt2m AS MATERIALIZED (SELECT * FROM cnt2),
 k2 AS (SELECT CAST(sum(c) AS BIGINT) AS tot, (SELECT V FROM k0) AS V FROM cnt2m),
 probs2 AS MATERIALIZED (
   SELECT v.pc AS piece,
     CAST(floor(ln((coalesce(c2.c, 0) + 1)::DOUBLE / (k2.tot + k2.V)::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS lp
   FROM vocab v LEFT JOIN cnt2m c2 ON c2.pc = v.pc, k2),""" +
      unigramDpSql("probs2", "cnt3") + s""",
 upw AS (SELECT w, CAST(count(*) AS BIGINT) AS uni FROM bk_cnt3 GROUP BY w),
 wl AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS freq FROM (
          SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents)
        WHERE w <> '' AND len(w) <= 30 GROUP BY 1, 2),
 bp AS (SELECT w,
          CAST(len(string_split(trim(${bpeDemoChainSql(
        "(chr(1) || array_to_string(string_split(w, ''), chr(2)||chr(1)) || chr(2))")},
            chr(1) || chr(2)), chr(2)||chr(1))) AS BIGINT) AS bpe
        FROM (SELECT DISTINCT w FROM wl))
 SELECT wl.lang, CAST(sum(wl.freq) AS BIGINT) AS n_words,
   CAST(sum(wl.freq * bp.bpe) AS BIGINT) AS bpe_tokens,
   CAST(sum(wl.freq * upw.uni) AS BIGINT) AS uni_tokens,
   round(sum(wl.freq * bp.bpe)::DOUBLE / sum(wl.freq), 6) AS bpe_fertility,
   round(sum(wl.freq * upw.uni)::DOUBLE / sum(wl.freq), 6) AS uni_fertility
 FROM wl JOIN upw USING (w) JOIN bp USING (w)
 GROUP BY wl.lang""")),

    // Beyond-reference: in-document LINE dedup (the RefinedWeb line-wise
    // correction stage) — crawled pages repeat nav/cookie/footer lines
    // INSIDE one document; keeping only each line's first occurrence is
    // row-local (no shuffle at any scale). Deterministic line fixture:
    // each doc's words chunk into 6-word lines, and docs with >= 2 lines
    // append a repeat of line 0 (the planted duplicate; natural
    // intra-doc chunk collisions dedup too). Per-language report of
    // lines in/kept and characters removed; the oracle replays the
    // chunking formula and the keep-first rule.
    QuerySpec("q211_line_dedup", Plain, (s, dir) => {
      val T = graft.ops.TextOps
      val docs = t(s, dir, "documents")
      val toks = filter(split(col("text"), "\\s+"), w => w =!= "")
      // Zero-token docs are FILTERED: the oracle's
      // per-line unnest drops them entirely, so they must contribute no
      // rows here either (wordChunkLines' own empty-array guard alone
      // would still leave a 1-line "" page behind).
      val lined = docs.select(col("doc_id"), col("lang"), toks.as("__ts"))
        .filter(size(col("__ts")) > 0)
        .withColumn("__chunks", T.wordChunkLines(col("__ts"), 6))
        .withColumn("__lines", when(size(col("__chunks")) >= 2,
          concat(col("__chunks"), array(element_at(col("__chunks"), 1))))
          .otherwise(col("__chunks")))
        .withColumn("page", array_join(col("__lines"), "\n"))
      lined
        .withColumn("deduped", T.dedupLines(col("page")))
        .select(col("lang"),
          size(split(col("page"), "\n")).cast("long").as("n_in"),
          size(split(col("deduped"), "\n")).cast("long").as("n_kept"),
          (length(col("page")) - length(col("deduped"))).cast("long")
            .as("chars_removed"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_in")).as("lines_in"),
          sum(col("n_kept")).as("lines_kept"),
          sum(col("chars_removed")).as("chars_removed"))
        .orderBy(col("lang"))
    },
      // the 6-word chunking + planted line-0 repeat replayed, dedup as
      // keep-first-occurrence; char accounting includes the newline joints
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         chunks AS (SELECT doc_id, lang,
             list_transform(range(0, CAST(ceil(len(ws) / 6.0) AS BIGINT)),
               j -> array_to_string(list_slice(ws, CAST(j * 6 + 1 AS INT),
                 CAST(least(j * 6 + 6, len(ws)) AS INT)), ' ')) AS cs
           FROM t),
         lined AS (SELECT doc_id, lang,
             CASE WHEN len(cs) >= 2 THEN list_append(cs, cs[1]) ELSE cs END AS ls
           FROM chunks),
         lv AS (SELECT doc_id, lang, len(ls) AS n, i, ls[CAST(i AS INT)] AS l
                FROM (SELECT doc_id, lang, ls,
                        unnest(range(1, len(ls) + 1)) AS i
                      FROM lined)),
         firsts AS (SELECT doc_id, l, min(i) AS fi FROM lv GROUP BY 1, 2),
         flags AS (SELECT v.doc_id, v.lang, v.n, v.l,
                     CASE WHEN f.fi = v.i THEN 1 ELSE 0 END AS keep
                   FROM lv v JOIN firsts f
                     ON f.doc_id = v.doc_id AND f.l = v.l),
         perdoc AS (SELECT doc_id, lang, max(n) AS n_in, sum(keep) AS n_kept,
                      sum(length(l)) - sum(keep * length(l))
                        + max(n) - sum(keep) AS chars_removed
                    FROM flags GROUP BY 1, 2)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_in) AS BIGINT) AS lines_in,
                CAST(sum(n_kept) AS BIGINT) AS lines_kept,
                CAST(sum(chars_removed) AS BIGINT) AS chars_removed
         FROM perdoc GROUP BY lang ORDER BY lang""")
  )
}
