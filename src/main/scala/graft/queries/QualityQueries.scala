package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Quality filtering: heuristic filters (Gopher, C4), repetition
  * signals, PII redaction, text repair, language id and the learned
  * quality and domain classifiers.
  */
object QualityQueries {
  val specs: Seq[QuerySpec] = Seq(
    // Beyond-reference: Gopher-style repetition quality signals — unique-
    // token ratio, top-token fraction (longest equal run over the sorted
    // token array: a codegen fold, no explode/shuffle), duplicate-bigram
    // fraction. All pure column arithmetic, replicated exactly in SQL.
    QuerySpec("q44_repetition_signals", Plain, (s, dir) => {
      val T = graft.ops.TextOps
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          T.tokenCount(col("text")).cast("long").as("n_tokens"),
          round(T.uniqueTokenRatio(col("text")), 4).as("uniq_ratio"),
          round(T.topTokenFraction(col("text")), 4).as("top_token_frac"),
          round(T.dupBigramFraction(col("text")), 4).as("dup_bigram_frac"))
    },
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks
           FROM documents WHERE doc_id < 200),
         base AS (
           SELECT doc_id, len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_uniq,
             CASE WHEN len(toks) >= 2 THEN
               1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                       i -> toks[i] || ' ' || toks[i + 1])))::DOUBLE
                     / (len(toks) - 1)::DOUBLE
             ELSE 0.0 END AS dup_bg
           FROM d),
         tokc AS (
           SELECT doc_id, tok, count(*) AS c
           FROM (SELECT doc_id, unnest(toks) AS tok FROM d) GROUP BY doc_id, tok),
         top AS (SELECT doc_id, max(c) AS topc FROM tokc GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           round(b.n_uniq::DOUBLE / b.n_tokens::DOUBLE, 4) AS uniq_ratio,
           round(t.topc::DOUBLE / b.n_tokens::DOUBLE, 4) AS top_token_frac,
           round(b.dup_bg, 4) AS dup_bigram_frac
         FROM base b JOIN top t USING (doc_id)"""),

    // Beyond-reference: the CURATION PIPELINE composed end-to-end —
    // quality score + language ID + unique-token repetition signal +
    // exact-dedup representative (min doc_id per content fingerprint),
    // folded into per-language keep/drop counts. One scan, one window
    // shuffle on the fingerprint, map-side-combinable final aggregate.
    QuerySpec("q51_curation_pipeline", Plain, (s, dir) => {
      val T = graft.ops.TextOps
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
      val profiled = t(s, dir, "documents")
        .withColumn("quality", T.qualityScore(col("text")))
        .withColumn("pred_lang", T.langId(col("text")))
        .withColumn("uniq_ratio", T.uniqueTokenRatio(col("text")))
        .withColumn("fp", T.fingerprint(col("text")))
        .withColumn("rep", col("doc_id") === min(col("doc_id")).over(w))
      val kept = col("quality") >= 0.5 && col("uniq_ratio") >= 0.4 &&
        col("pred_lang") =!= "und" && col("rep")
      profiled.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
    },
      """WITH scored AS (
           SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
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
           SELECT doc_id, text, n_tokens, n_uniq,
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
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM scored)),
         rep AS (
           SELECT *, doc_id = min(doc_id) OVER (PARTITION BY
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                     ' +', ' ', 'g')))) AS is_rep
           FROM labeled)
         SELECT pred_lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN quality >= 0.5
                          AND n_uniq::DOUBLE / n_tokens::DOUBLE >= 0.4
                          AND pred_lang <> 'und' AND is_rep
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM rep GROUP BY pred_lang"""),

    // Beyond-reference: PII redaction — per-doc match counts + redacted-
    // text fingerprint, patterns restricted to the Java∩RE2 dialect so
    // the oracle replays them exactly. The corpus has no organic PII, so
    // the query plants a deterministic email/IP/phone per doc first —
    // the redaction chain is pure codegen regexp_replace at scan speed.
    QuerySpec("q53_pii_redaction", Plain, (s, dir) => {
      val aug = t(s, dir, "documents").withColumn("text2",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".7 call 555-01"),
          lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")))
      graft.ops.TextOps.piiProfile(aug, "doc_id", "text2")
    },
      """WITH aug AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com from 10.0.'
                || (doc_id % 256) || '.7 call 555-01'
                || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS t2
         FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t2,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t2,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
           CAST(len(regexp_extract_all(t2, '\b555-\d{4}\b')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(regexp_replace(t2,
             '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b555-\d{4}\b', '<PHONE>', 'g')) AS redacted_fp
         FROM aug"""),

    // Beyond-reference: quality-threshold calibration — per-language
    // EXACT percentiles of the quality score (the cut points a curation
    // pipeline derives before filtering), plus how many docs survive the
    // p25 cut. Percentile tables are group-count-sized → broadcast back.
    QuerySpec("q55_quality_calibration", Plain, (s, dir) => {
      val T = graft.ops.TextOps
      val prof = t(s, dir, "documents")
        .withColumn("pred_lang", T.langId(col("text")))
        .withColumn("quality", T.qualityScore(col("text")))
      val pct = prof.groupBy(col("pred_lang"))
        .agg(count(lit(1)).as("__n"),
          percentile(col("quality"), lit(0.25)).as("__p25"),
          percentile(col("quality"), lit(0.5)).as("__p50"),
          percentile(col("quality"), lit(0.9)).as("__p90"))
      prof.join(broadcast(pct), "pred_lang")
        .groupBy(col("pred_lang"))
        .agg(first(col("__n")).as("n_docs"),
          round(first(col("__p25")), 6).as("p25"),
          round(first(col("__p50")), 6).as("p50"),
          round(first(col("__p90")), 6).as("p90"),
          sum(when(col("quality") >= col("__p25"), 1L).otherwise(0L)).as("n_keep"))
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
           SELECT
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
           FROM (SELECT *, greatest(s_en, s_de, s_fr, s_es, s_zh) AS gm FROM scored)),
         pct AS (
           SELECT pred_lang, count(*) AS n_docs,
             quantile_cont(quality, 0.25) AS p25,
             quantile_cont(quality, 0.5) AS p50,
             quantile_cont(quality, 0.9) AS p90
           FROM labeled GROUP BY pred_lang)
         SELECT p.pred_lang, p.n_docs,
           round(p.p25, 6) AS p25, round(p.p50, 6) AS p50, round(p.p90, 6) AS p90,
           CAST(sum(CASE WHEN l.quality >= p.p25 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep
         FROM labeled l JOIN pct p USING (pred_lang)
         GROUP BY p.pred_lang, p.n_docs, p.p25, p.p50, p.p90"""),

    // Beyond-reference: C4-style rule filter with per-rule ATTRIBUTION —
    // the number every curation run reports: how many docs each rule
    // kills, plus the surviving count. Pure codegen flags, one aggregate.
    QuerySpec("q107_c4_filter", Plain, (s, dir) => {
      val flagged = graft.ops.TextOps.c4Filter(
        t(s, dir, "documents"), "doc_id", "text")
      val ruleNames = graft.ops.TextOps.c4Rules(col("text")).map(_._1)
      val aggs = Seq(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept")) ++
        ruleNames.map(r =>
          sum(when(!col(s"pass_$r"), 1L).otherwise(0L)).as(s"fail_$r"))
      flagged.agg(aggs.head, aggs.tail: _*)
    },
      // per-rule replay: same token split, regex, and mean-word-length math
      """WITH f AS (
           SELECT doc_id,
             len(string_split(text, ' ')) AS nw,
             length(text) AS nc,
             regexp_matches(text, '[.!?"'']$') AS tp,
             NOT contains(text, '{') AS ncb,
             NOT contains(lower(text), 'lorem ipsum') AS nli
           FROM documents),
         r AS (
           SELECT doc_id,
             nw >= 5 AS p_min, nw <= 100000 AS p_max, tp AS p_tp,
             ncb AS p_ncb, nli AS p_nli,
             ((nc - (nw - 1))::DOUBLE / nw) >= 2.0 AND
               ((nc - (nw - 1))::DOUBLE / nw) <= 12.0 AS p_mwl
           FROM f)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p_min AND p_max AND p_tp AND p_ncb AND p_nli
                         AND p_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN NOT p_min THEN 1 ELSE 0 END) AS BIGINT) AS fail_min_words,
           CAST(sum(CASE WHEN NOT p_max THEN 1 ELSE 0 END) AS BIGINT) AS fail_max_words,
           CAST(sum(CASE WHEN NOT p_tp THEN 1 ELSE 0 END) AS BIGINT) AS fail_terminal_punct,
           CAST(sum(CASE WHEN NOT p_ncb THEN 1 ELSE 0 END) AS BIGINT) AS fail_no_curly_brace,
           CAST(sum(CASE WHEN NOT p_nli THEN 1 ELSE 0 END) AS BIGINT) AS fail_no_lorem_ipsum,
           CAST(sum(CASE WHEN NOT p_mwl THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_word_len
         FROM r"""),

    // Beyond-reference: character-entropy quality signal (bits/char,
    // the compressibility proxy of the Gopher family) — a row-local
    // sorted-run fold inside codegen (no explode/shuffle; the oracle
    // replays via the equivalent per-char groupBy).
    QuerySpec("q132_char_entropy", Plain, (s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          round(graft.ops.TextOps.charEntropy(col("text")), 4).as("entropy"))
    },
      // H = log2(n) - sum(c*log2(c))/n over per-char counts; the engine's
      // sorted-run fold visits exactly these run lengths
      """WITH chars AS (SELECT doc_id, unnest(string_split(text, '')) AS c
                        FROM documents),
         runs AS (SELECT doc_id, c, CAST(count(*) AS DOUBLE) AS cnt
                  FROM chars GROUP BY doc_id, c),
         tot AS (SELECT doc_id, sum(cnt) AS n FROM runs GROUP BY doc_id)
         SELECT r.doc_id,
           round(log2(t.n) - sum(r.cnt * log2(r.cnt)) / t.n, 4) AS entropy
         FROM runs r JOIN tot t USING (doc_id)
         GROUP BY r.doc_id, t.n"""),

    // Beyond-reference: TF-IDF nearest-centroid domain classification
    // (the fastText-classifier slot with a deterministic replayable
    // model): top-50 df vocabulary, smoothed idf, L2-normalized seed
    // centroids (first 10 docs per source), sparse cosine scoring via
    // a broadcast token join, per-doc argmax with ties to the smaller
    // label. Reports per-source assignment/accuracy counts.
    QuerySpec("q133_domain_classify", Plain, (s, dir) => {
      graft.ops.Classify.tfidfNearestCentroid(
        t(s, dir, "documents"), "doc_id", "text", "source",
        vocabSize = 50, seedPerClass = 10)
    },
      // vocab/idf/weights/norms/centroids/cosine replayed with the same
      // rounding grid (w->6, norms->8, centroid->6, score->6)
      """WITH base AS (SELECT doc_id AS id, source AS cls, text FROM documents),
         toks AS (SELECT id, unnest(string_split_regex(lower(text), '\s+')) AS tok
                  FROM base),
         tk AS (SELECT id, tok FROM toks WHERE tok <> ''),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM base),
         dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
                 FROM (SELECT DISTINCT id, tok FROM tk) GROUP BY tok),
         vocab AS (SELECT tok, round(ln((n_total + 1) / (df + 1)) + 1.0, 6) AS idf
                   FROM (SELECT tok, df FROM dft ORDER BY df DESC, tok LIMIT 50), n),
         w AS (SELECT id, tk.tok, round(count(*) * idf, 6) AS w
               FROM tk JOIN vocab ON tk.tok = vocab.tok
               GROUP BY id, tk.tok, idf),
         dnorm AS (SELECT id, round(sqrt(sum(w*w)), 8) AS dn FROM w GROUP BY id),
         seeds AS (SELECT id, cls FROM (
                     SELECT id, cls,
                       row_number() OVER (PARTITION BY cls ORDER BY id) AS rn
                     FROM base) WHERE rn <= 10),
         sc AS (SELECT cls, CAST(count(*) AS BIGINT) AS n_seed
                FROM seeds GROUP BY cls),
         cent AS (SELECT s.cls, w.tok,
                    round(sum(w.w / d.dn) / sc.n_seed, 6) AS cw
                  FROM w JOIN seeds s USING (id) JOIN dnorm d USING (id)
                    JOIN sc ON s.cls = sc.cls
                  GROUP BY s.cls, w.tok, sc.n_seed),
         cnorm AS (SELECT cls, round(sqrt(sum(cw*cw)), 8) AS cn
                   FROM cent GROUP BY cls),
         dots AS (SELECT w.id, c.cls, sum(w.w * c.cw) AS dot
                  FROM w JOIN cent c ON w.tok = c.tok GROUP BY w.id, c.cls),
         scored AS (SELECT dots.id, dots.cls,
                      round(dot / (dn * cn), 6) AS score
                    FROM dots JOIN dnorm USING (id)
                      JOIN cnorm ON dots.cls = cnorm.cls),
         pred AS (SELECT id, cls AS pred FROM (
                    SELECT id, cls,
                      row_number() OVER (PARTITION BY id
                        ORDER BY score DESC, cls) AS rn
                    FROM scored) WHERE rn = 1)
         SELECT b.cls AS source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_scored,
           CAST(sum(CASE WHEN p.pred = b.cls THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
         FROM base b LEFT JOIN pred p USING (id)
         GROUP BY b.cls"""),

    // Beyond-reference: the Gopher quality-rule pack (Rae et al. 2021
    // §A1.1) — word-count/mean-length windows, symbol ratios,
    // bullet/ellipsis line fractions, alphabetic-word fraction,
    // stop-word presence; one codegen scan with per-rule attribution,
    // aggregated to per-rule pass counts.
    QuerySpec("q138_gopher_filter", Plain, (s, dir) => {
      val f = graft.ops.TextOps.gopherFilter(t(s, dir, "documents"), "doc_id", "text")
      f.agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass_word_count"), 1L).otherwise(0L)).as("n_word_count"),
        sum(when(col("pass_mean_word_len"), 1L).otherwise(0L)).as("n_mean_word_len"),
        sum(when(col("pass_hash_ratio"), 1L).otherwise(0L)).as("n_hash_ratio"),
        sum(when(col("pass_ellipsis_ratio"), 1L).otherwise(0L)).as("n_ellipsis_ratio"),
        sum(when(col("pass_bullet_lines"), 1L).otherwise(0L)).as("n_bullet_lines"),
        sum(when(col("pass_ellipsis_lines"), 1L).otherwise(0L)).as("n_ellipsis_lines"),
        sum(when(col("pass_alpha_words"), 1L).otherwise(0L)).as("n_alpha_words"),
        sum(when(col("pass_stop_words"), 1L).otherwise(0L)).as("n_stop_words"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
    },
      // each rule replayed as list predicates over the same token/line
      // splits; the 0.1/0.9-style thresholds are the identical IEEE
      // doubles on both sides
      """WITH d AS (SELECT doc_id, text,
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
           FROM d)
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n_word_count,
           CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_word_len,
           CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hash_ratio,
           CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis_ratio,
           CAST(sum(CASE WHEN p5 THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet_lines,
           CAST(sum(CASE WHEN p6 THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis_lines,
           CAST(sum(CASE WHEN p7 THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha_words,
           CAST(sum(CASE WHEN p8 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_words,
           CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5 AND p6
             AND p7 AND p8 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         FROM r"""),

    QuerySpec("q164_mojibake_repair", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val isCorrupt = pmod(col("doc_id"), lit(5)) === 0
      val corrupted = when(isCorrupt,
        expr("replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©')"))
        .otherwise(col("text"))
      val target = when(isCorrupt,
        expr("replace(replace(text, 'a', 'á'), 'e', 'é')"))
        .otherwise(col("text"))
      docs.select(col("source"), corrupted.as("c"),
          graft.ops.TextOps.fixMojibake(corrupted).as("f"), target.as("t"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("f") =!= col("c"), 1)).as("n_repaired"),
          count(when(col("f") === col("t"), 1)).as("n_exact"))
    },
      """WITH d AS (
           SELECT source,
             CASE WHEN doc_id % 5 = 0
               THEN replace(replace(text, 'a', 'Ã¡'), 'e', 'Ã©')
               ELSE text END AS c,
             CASE WHEN doc_id % 5 = 0
               THEN replace(replace(text, 'a', 'á'), 'e', 'é')
               ELSE text END AS t
           FROM documents),
         r AS (SELECT source, c, t,
                 replace(replace(c, 'Ã¡', 'á'), 'Ã©', 'é') AS f
               FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE f <> c) AS BIGINT) AS n_repaired,
           CAST(count(*) FILTER (WHERE f = t) AS BIGINT) AS n_exact
         FROM r GROUP BY source"""),

    // Beyond-reference: char-n-gram naive-Bayes LANGUAGE ID (the
    // fastText/langid.py recipe with a deterministic replayable model):
    // fit on the first 20 docs per language, integer-quantized add-one
    // log-likelihoods over a top-200 trigram vocabulary, classify the
    // rest, per-language test/pred/correct counts. NOTE: the fixture's
    // lang labels are synthetic and uncorrelated with its (uniformly
    // English-ish) text, so near-chance accuracy here is a property of
    // the data, not the classifier — OpsSpec pins real separability on
    // a corpus whose classes actually differ.
    QuerySpec("q166_langid", Plain, (s, dir) => {
      graft.ops.Classify.charNgramLangId(
        t(s, dir, "documents"), "doc_id", "text", "lang",
        n = 3, vocabSize = 200, trainPerClass = 20)
    },
      // the same plant + the repair digraphs that fire on this corpus
      // (the op's remaining table entries are no-ops here and are pinned
      // by the unit test instead)
      // replays the NB fit exactly: same train split, same top-200 trigram
      // vocabulary tie-break, same integer-quantized log-likelihoods, so
      // every score comparison is exact integer arithmetic in both engines
      """WITH base AS (SELECT doc_id AS id, lang, lower(text) AS text FROM documents),
         ranked AS (SELECT id, lang, text,
             row_number() OVER (PARTITION BY lang ORDER BY id) AS rn FROM base),
         train AS (SELECT id, lang, text FROM ranked WHERE rn <= 20),
         test AS (SELECT id, lang, text FROM ranked WHERE rn > 20),
         tg AS (SELECT lang, unnest(list_transform(
             range(1, greatest(len(text) - 2, 1) + 1),
             i -> substr(text, CAST(i AS INT), 3))) AS g FROM train),
         counts AS (SELECT g, lang, CAST(count(*) AS BIGINT) AS c
                    FROM tg GROUP BY g, lang),
         vocab AS (SELECT g FROM (SELECT g, sum(c) AS tc FROM counts
                   WHERE len(g) = 3
                   GROUP BY g ORDER BY tc DESC, g LIMIT 200)),
         vn AS (SELECT CAST(count(*) AS BIGINT) AS V FROM vocab),
         langs AS (SELECT DISTINCT lang FROM train),
         tot AS (SELECT lang, sum(c) AS tot FROM counts JOIN vocab USING (g)
                 GROUP BY lang),
         logp AS (SELECT v.g, l.lang,
             CAST(round(ln((coalesce(c.c, 0) + 1)::DOUBLE /
                           (tot.tot + vn.V)::DOUBLE) * 1e6) AS BIGINT) AS logp
           FROM vocab v CROSS JOIN langs l
           LEFT JOIN counts c ON c.g = v.g AND c.lang = l.lang
           JOIN tot ON tot.lang = l.lang, vn),
         prior AS (SELECT lang,
             CAST(round(ln(ntr::DOUBLE / ntot::DOUBLE) * 1e6) AS BIGINT) AS prior
           FROM (SELECT lang, count(*) AS ntr FROM train GROUP BY lang),
                (SELECT count(*) AS ntot FROM train)),
         teg AS (SELECT id, g, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT id, unnest(list_transform(
               range(1, greatest(len(text) - 2, 1) + 1),
               i -> substr(text, CAST(i AS INT), 3))) AS g FROM test)
           GROUP BY id, g),
         gs AS (SELECT id, lang, sum(cnt * logp) AS gs
                FROM teg JOIN logp USING (g) GROUP BY id, lang),
         allsc AS (SELECT t.id, p.lang, p.prior + coalesce(gs.gs, 0) AS score
           FROM (SELECT id FROM test) t CROSS JOIN prior p
           LEFT JOIN gs ON gs.id = t.id AND gs.lang = p.lang),
         pred AS (SELECT id, lang AS pred FROM (SELECT id, lang,
             row_number() OVER (PARTITION BY id ORDER BY score DESC, lang) AS rn
           FROM allsc) WHERE rn = 1),
         j AS (SELECT t.id, t.lang, pred.pred FROM test t JOIN pred USING (id)),
         pt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
             CAST(sum(CASE WHEN pred = lang THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct FROM j GROUP BY lang),
         pp AS (SELECT pred AS lang, CAST(count(*) AS BIGINT) AS n_pred
                FROM j GROUP BY pred)
         SELECT coalesce(pt.lang, pp.lang) AS lang,
           coalesce(n_test, 0) AS n_test, coalesce(n_pred, 0) AS n_pred,
           coalesce(n_correct, 0) AS n_correct
         FROM pt FULL JOIN pp ON pt.lang = pp.lang"""),

    // Beyond-reference: Unicode NFC sanitation audit — canonical
    // composition (UAX #15) as a native codegen expression with an
    // allocation-free already-normalized fast path. The fixture is pure
    // ASCII, so (q164-style) deterministic decomposed suffixes are
    // appended in-query: combining acute, combining ring, and the OHM
    // SIGN singleton; the oracle replays through DuckDB's own
    // nfc_normalize. Per-source changed-doc counts and code-point delta.
    QuerySpec("q169_nfc_audit", Plain, (s, dir) => {
      val m = pmod(col("doc_id"), lit(4))
      val suffix = when(m === 0, lit("e\u0301"))   // e + COMBINING ACUTE
        .when(m === 1, lit("A\u030A"))   // A + COMBINING RING
        .when(m === 2, lit("\u2126"))     // OHM SIGN (NFC singleton)
        .otherwise(lit(""))
      val raw = concat(col("text"), suffix)
      t(s, dir, "documents")
        .select(col("source"), raw.as("r"),
          graft.ops.TextOps.nfcNormalize(raw).as("n"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n") =!= col("r"), 1)).as("n_changed"),
          sum((length(col("r")) - length(col("n"))).cast("long")).as("cp_delta"))
    },
      // DuckDB's own nfc_normalize replays the JDK Normalizer exactly
      // (both implement UAX #15); chr() spells the decomposed suffixes
      """WITH d AS (
           SELECT source,
             text || CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'e' || chr(769)
               WHEN 1 THEN 'A' || chr(778)
               WHEN 2 THEN chr(8486)
               ELSE '' END AS r
           FROM documents),
         n AS (SELECT source, r, nfc_normalize(r) AS n FROM d)
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n <> r) AS BIGINT) AS n_changed,
           CAST(sum(len(r) - len(n)) AS BIGINT) AS cp_delta
         FROM n GROUP BY source"""),

    // Beyond-reference: blocklist/canary screen via native Aho–Corasick —
    // all terms counted in ONE text pass per doc (a 10^5-term blocklist
    // at 100 TB cannot afford per-term scans or a regex alternation).
    // Per-term hit totals and affected-doc counts; terms chosen with no
    // self-border, so the oracle's non-overlapping replace-count equals
    // the automaton's all-occurrence count.
    QuerySpec("q172_blocklist_screen", Plain, (s, dir) => {
      val terms = Seq("slow", "big data", "error", "merge", "stream agg")
      t(s, dir, "documents")
        .select(posexplode(
          graft.ops.TextOps.ahoCounts(col("text"), terms)).as(Seq("i", "c")))
        .select(element_at(
          array(terms.map(lit): _*), col("i") + 1).as("term"), col("c"))
        .groupBy(col("term"))
        .agg(count(when(col("c") > 0, 1)).as("n_docs"),
          sum(col("c")).as("n_hits"))
    },
      // per-term non-overlapping replace-count — equal to the automaton's
      // all-occurrence count because no term has a proper border
      """WITH terms(term) AS (VALUES ('slow'), ('big data'), ('error'),
             ('merge'), ('stream agg')),
         x AS (SELECT term,
                 (len(text) - len(replace(text, term, ''))) // len(term) AS c
               FROM documents CROSS JOIN terms)
         SELECT term,
           CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS n_docs,
           CAST(sum(c) AS BIGINT) AS n_hits
         FROM x GROUP BY term"""),

    // Beyond-reference: MODEL-BASED quality scoring (the FineWeb-Edu /
    // DCLM slot) — hashed-token multinomial Naive Bayes distilled from
    // the Gopher rule pack: rules label the id%5==0 train split, the
    // classifier fits distributively (O(dim) count tables, integer-
    // micronat likelihoods), and held-out docs score in one broadcast-
    // join pass. Report = held-out confusion matrix with exact integer
    // margin sums; every float rounds identically on both engines
    // (floor(x*1e6+0.5)), so scores are order-free integer sums.
    QuerySpec("q200_nb_quality_classifier", Plain, (s, dir) =>
      graft.ops.Classify.nbQualityHashed(
        t(s, dir, "documents"), "doc_id", "text"),
      // gopher labels (q138's rule replay) + positional-codepoint hashed
      // features mod 1024 + NB fit on the id%5 train split, integer
      // micronats floor(ln(.)*1e6+0.5), unseen buckets at the smoothed
      // zero-count likelihood, tie predicts fail
      (s"""WITH $gopherFeatsSql,
         tr AS (SELECT f.b, f.cnt, l.label
                FROM feats f JOIN lab l USING (doc_id) WHERE l.is_train),
         tot AS (SELECT
             CAST(sum(CASE WHEN label THEN cnt ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN NOT label THEN cnt ELSE 0 END) AS BIGINT) AS tf
           FROM tr),
         dcnt AS (SELECT
             CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS dp,
             CAST(sum(CASE WHEN NOT label THEN 1 ELSE 0 END) AS BIGINT) AS df
           FROM lab WHERE is_train),
         model AS (SELECT b,
             CAST(floor(ln(CAST(sum(CASE WHEN label THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.tp + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l_pass,
             CAST(floor(ln(CAST(sum(CASE WHEN NOT label THEN cnt ELSE 0 END) + 1
               AS DOUBLE) / (tot.tf + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l_fail
           FROM tr, tot GROUP BY b, tot.tp, tot.tf),
         consts AS (SELECT
             CAST(floor(ln(1.0 / (tot.tp + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l0p,
             CAST(floor(ln(1.0 / (tot.tf + 1024)) * 1000000 + 0.5) AS BIGINT)
               AS l0f,
             CAST(floor(ln(CAST(dcnt.dp AS DOUBLE) / (dcnt.dp + dcnt.df))
               * 1000000 + 0.5) AS BIGINT) AS prp,
             CAST(floor(ln(CAST(dcnt.df AS DOUBLE) / (dcnt.dp + dcnt.df))
               * 1000000 + 0.5) AS BIGINT) AS prf
           FROM tot, dcnt),
         scored AS (SELECT f.doc_id, l.label, l.is_train,
                      sum(f.cnt * COALESCE(m.l_pass, c.l0p)) + c.prp AS sp,
                      sum(f.cnt * COALESCE(m.l_fail, c.l0f)) + c.prf AS sf
                    FROM feats f JOIN lab l USING (doc_id)
                    LEFT JOIN model m USING (b), consts c
                    GROUP BY f.doc_id, l.label, l.is_train, c.prp, c.prf)
         SELECT label, sp > sf AS pred, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(sp - sf) AS BIGINT) AS margin_sum
         FROM scored WHERE NOT is_train GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Beyond-reference: BATCH PERCEPTRON quality classifier — the
    // quantized linear-model slot next to q200's NB, exactly replayable
    // because every quantity is an integer sum (no learning-rate float,
    // no transcendental): three batch rounds, each one map-side-
    // combinable aggregate over the train split, weights broadcast back.
    // Integer margins make results independent of partitioning and
    // addition order; the oracle unrolls the three rounds in SQL.
    QuerySpec("q202_perceptron_quality", Plain, (s, dir) =>
      graft.ops.Classify.perceptronQualityHashed(
        t(s, dir, "documents"), "doc_id", "text"),
      // three unrolled batch-perceptron rounds over the shared feature
      // CTEs: round 1 starts from w=0 (every train doc misclassified by
      // y*0<=0), each round adds sum(y*cnt) over misclassified docs; all
      // integer arithmetic, so the replay is exact
      (s"""WITH $gopherFeatsSql,
         tr AS (SELECT f.doc_id, f.b, f.cnt,
                  CASE WHEN l.label THEN 1 ELSE -1 END AS y
                FROM feats f JOIN lab l USING (doc_id) WHERE l.is_train),
         w1 AS (SELECT b, CAST(sum(y * cnt) AS BIGINT) AS w
                FROM tr GROUP BY b),
         m2 AS (SELECT t.doc_id, any_value(t.y) AS y,
                  CAST(sum(t.cnt * COALESCE(w1.w, 0)) AS BIGINT) AS margin
                FROM tr t LEFT JOIN w1 USING (b) GROUP BY t.doc_id),
         u2 AS (SELECT t.b, CAST(sum(t.y * t.cnt) AS BIGINT) AS delta
                FROM tr t JOIN m2 ON m2.doc_id = t.doc_id
                WHERE m2.y * m2.margin <= 0 GROUP BY t.b),
         w2 AS (SELECT COALESCE(w1.b, u2.b) AS b,
                  COALESCE(w1.w, 0) + COALESCE(u2.delta, 0) AS w
                FROM w1 FULL JOIN u2 ON w1.b = u2.b),
         m3 AS (SELECT t.doc_id, any_value(t.y) AS y,
                  CAST(sum(t.cnt * COALESCE(w2.w, 0)) AS BIGINT) AS margin
                FROM tr t LEFT JOIN w2 USING (b) GROUP BY t.doc_id),
         u3 AS (SELECT t.b, CAST(sum(t.y * t.cnt) AS BIGINT) AS delta
                FROM tr t JOIN m3 ON m3.doc_id = t.doc_id
                WHERE m3.y * m3.margin <= 0 GROUP BY t.b),
         w3 AS (SELECT COALESCE(w2.b, u3.b) AS b,
                  COALESCE(w2.w, 0) + COALESCE(u3.delta, 0) AS w
                FROM w2 FULL JOIN u3 ON w2.b = u3.b),
         scored AS (SELECT f.doc_id, l.label,
                      CAST(sum(f.cnt * COALESCE(w3.w, 0)) AS BIGINT) AS margin
                    FROM feats f JOIN lab l USING (doc_id)
                    LEFT JOIN w3 USING (b)
                    WHERE NOT l.is_train GROUP BY f.doc_id, l.label)
         SELECT label, margin > 0 AS pred, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(margin) AS BIGINT) AS margin_sum
         FROM scored GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Beyond-reference: Gopher REPETITION rule family (Rae et al. 2021,
    // Table A1 — the rules the q138 pack omits): per-doc fraction of
    // characters inside the most frequent {2,3,4}-gram and inside all
    // duplicated {5..10}-grams, quantized to integer microunits so both
    // engines agree bit-for-bit, rolled up per language with the
    // paper-threshold kept verdict. One exploded (doc, n, gram) scan
    // for all nine n values, map-side-combinable counts, no joins.
    QuerySpec("q210_gopher_repetition", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.TextOps.gopherRepetitionReport(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("top2_micro")).as("top2_sum"),
          sum(col("top3_micro")).as("top3_sum"),
          sum(col("top4_micro")).as("top4_sum"),
          sum(col("dup5_micro")).as("dup5_sum"),
          sum(col("dup6_micro")).as("dup6_sum"),
          sum(col("dup7_micro")).as("dup7_sum"),
          sum(col("dup8_micro")).as("dup8_sum"),
          sum(col("dup9_micro")).as("dup9_sum"),
          sum(col("dup10_micro")).as("dup10_sum"))
        .orderBy(col("lang"))
    },
      // per-doc n-gram occurrence masses replayed with the same microunit
      // quantization (floor(x·1e6 + 0.5) over integer char masses), kept =
      // all nine paper thresholds
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         base AS (SELECT doc_id, lang, ws,
                    length(array_to_string(ws, ' ')) AS chars
                  FROM t),
         pos AS (SELECT doc_id, n, ws,
                   unnest(range(1, len(ws) - n + 2)) AS i
                 FROM base CROSS JOIN (SELECT unnest(range(2, 11)) AS n) ns
                 WHERE len(ws) >= n),
         grams AS (SELECT doc_id, n,
                     array_to_string(list_slice(ws, CAST(i AS INT),
                       CAST(i + n - 1 AS INT)), ' ') AS g
                   FROM pos),
         counts AS (SELECT doc_id, n, g, count(*) AS cnt
                    FROM grams GROUP BY 1, 2, 3),
         -- most-frequent gram, ties to the longest ((cnt, len) struct max
         -- — the same rule the Spark side applies), NOT max(cnt*len)
         pern AS (SELECT doc_id, n,
                    max(struct_pack(cnt := cnt, len := length(g))) AS tg,
                    sum(CASE WHEN cnt >= 2 THEN cnt * length(g) ELSE 0 END) AS dc
                  FROM counts GROUP BY 1, 2),
         pern2 AS (SELECT doc_id, n, tg.cnt * tg.len AS tc, dc FROM pern),
         perdoc AS (SELECT b.doc_id, b.lang,
             COALESCE(max(CASE WHEN p.n = 2 THEN CAST(floor(p.tc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS top2,
             COALESCE(max(CASE WHEN p.n = 3 THEN CAST(floor(p.tc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS top3,
             COALESCE(max(CASE WHEN p.n = 4 THEN CAST(floor(p.tc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS top4,
             COALESCE(max(CASE WHEN p.n = 5 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup5,
             COALESCE(max(CASE WHEN p.n = 6 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup6,
             COALESCE(max(CASE WHEN p.n = 7 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup7,
             COALESCE(max(CASE WHEN p.n = 8 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup8,
             COALESCE(max(CASE WHEN p.n = 9 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup9,
             COALESCE(max(CASE WHEN p.n = 10 THEN CAST(floor(p.dc / b.chars * 1000000 + 0.5) AS BIGINT) END), 0) AS dup10
           FROM base b LEFT JOIN pern2 p USING (doc_id)
           GROUP BY b.doc_id, b.lang, b.chars)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN top2 <= 200000 AND top3 <= 180000
                          AND top4 <= 160000 AND dup5 <= 150000
                          AND dup6 <= 140000 AND dup7 <= 130000
                          AND dup8 <= 120000 AND dup9 <= 110000
                          AND dup10 <= 100000 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
                CAST(sum(top2) AS BIGINT) AS top2_sum,
                CAST(sum(top3) AS BIGINT) AS top3_sum,
                CAST(sum(top4) AS BIGINT) AS top4_sum,
                CAST(sum(dup5) AS BIGINT) AS dup5_sum,
                CAST(sum(dup6) AS BIGINT) AS dup6_sum,
                CAST(sum(dup7) AS BIGINT) AS dup7_sum,
                CAST(sum(dup8) AS BIGINT) AS dup8_sum,
                CAST(sum(dup9) AS BIGINT) AS dup9_sum,
                CAST(sum(dup10) AS BIGINT) AS dup10_sum
         FROM perdoc GROUP BY lang ORDER BY lang"""),

    // Beyond-reference: χ² FEATURE SELECTION — the tokens most
    // associated with the language label (the vocabulary-selection step
    // before training a text classifier). One tokenize-explode into a
    // vocabulary-scale pivoted aggregate + ONE broadcast class-total
    // row; the χ² terms are summed in one pinned order (per-class
    // columns, not a GROUP BY over classes) so the double math is
    // bit-replayable; ranking key is floor(1e6·χ²) with token
    // tiebreak.
    QuerySpec("q241_chi2_feature_select", Plain, (s, dir) =>
      graft.ops.Classify.chiSquareTokens(t(s, dir, "documents"),
        "text", "lang", Seq("de", "en", "es", "fr", "zh"), topK = 20),
      // χ² replayed with the same pivoted per-class columns and the same
      // pinned term order (de, en, es, fr, zh)
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token, lang
                      FROM documents),
         g AS (SELECT token,
                 CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS o_de,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS o_en,
                 CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS o_es,
                 CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS o_fr,
                 CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS o_zh
               FROM tok GROUP BY token),
         ct AS (SELECT CAST(sum(o_de) AS BIGINT) AS c_de,
                  CAST(sum(o_en) AS BIGINT) AS c_en,
                  CAST(sum(o_es) AS BIGINT) AS c_es,
                  CAST(sum(o_fr) AS BIGINT) AS c_fr,
                  CAST(sum(o_zh) AS BIGINT) AS c_zh
                FROM g),
         x AS (SELECT token, o_de, o_en, o_es, o_fr, o_zh,
                 o_de + o_en + o_es + o_fr + o_zh AS r,
                 c_de, c_en, c_es, c_fr, c_zh,
                 c_de + c_en + c_es + c_fr + c_zh AS n
               FROM g CROSS JOIN ct),
         e AS (SELECT token, r,
                 CAST(r AS DOUBLE) * CAST(c_de AS DOUBLE) / CAST(n AS DOUBLE) AS e_de,
                 CAST(r AS DOUBLE) * CAST(c_en AS DOUBLE) / CAST(n AS DOUBLE) AS e_en,
                 CAST(r AS DOUBLE) * CAST(c_es AS DOUBLE) / CAST(n AS DOUBLE) AS e_es,
                 CAST(r AS DOUBLE) * CAST(c_fr AS DOUBLE) / CAST(n AS DOUBLE) AS e_fr,
                 CAST(r AS DOUBLE) * CAST(c_zh AS DOUBLE) / CAST(n AS DOUBLE) AS e_zh,
                 CAST(o_de AS DOUBLE) AS f_de, CAST(o_en AS DOUBLE) AS f_en,
                 CAST(o_es AS DOUBLE) AS f_es, CAST(o_fr AS DOUBLE) AS f_fr,
                 CAST(o_zh AS DOUBLE) AS f_zh
               FROM x),
         c AS (SELECT token, r,
                 (f_de - e_de) * (f_de - e_de) / e_de
                 + (f_en - e_en) * (f_en - e_en) / e_en
                 + (f_es - e_es) * (f_es - e_es) / e_es
                 + (f_fr - e_fr) * (f_fr - e_fr) / e_fr
                 + (f_zh - e_zh) * (f_zh - e_zh) / e_zh AS chi2
               FROM e)
         SELECT token, CAST(r AS BIGINT) AS n_tok,
                CAST(floor(chi2 * 1e6) AS BIGINT) AS chi2_micro,
                round(chi2, 4) AS chi2
         FROM c ORDER BY chi2_micro DESC, token LIMIT 20""")
  )
}
