package graft
package queries

import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Deduplication: exact and fingerprint dedup, MinHash/LSH, SimHash and
  * n-gram Jaccard near-duplicates, duplicate clusters, contamination and
  * leakage screens, and their streaming forms.
  */
object DedupQueries {
  val specs: Seq[QuerySpec] = Seq(
    // Beyond-reference: content-addressed exact dedup via normalized-text
    // md5 fingerprint (TextOps.fingerprint ∘ Dedup.exactDedup).
    QuerySpec("q25_dedup_fingerprint", Plain, (s, dir) => {
      graft.ops.Dedup.exactDedup(
        t(s, dir, "documents"), "doc_id", graft.ops.TextOps.fingerprint(col("text")))
    },
      """SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                        ' +', ' ', 'g'))) AS dedup_key,
         CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS group_size
         FROM documents GROUP BY 1"""),

    // Beyond-reference: near-dup pairs, exact output — candidates from
    // the prefix filter ALONE (provably complete at the threshold),
    // verified with exact shingle Jaccard, so the emitted rows are
    // EXACTLY all pairs ≥ 0.7 and the DuckDB all-pairs oracle
    // hash-matches. The probabilistic MinHash generator is benched
    // separately as q93 so each generator's cost is attributed honestly.
    QuerySpec("q27_minhash_near_dup", Plain, (s, dir) => {
      graft.ops.Dedup.nearDuplicatesExact(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    },
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
         FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7"""),

    // Beyond-reference: SimHash near-dup pairs. Portable 32-bit SimHash
    // (md5-nibble top bits — recomputable in any engine) + pigeonhole
    // chunk candidates complete for Hamming ≤ 3 ⇒ output is exactly every
    // pair within the radius; DuckDB recomputes the signatures.
    QuerySpec("q28_simhash_near_dup", Plain, (s, dir) => {
      graft.ops.Dedup.simHashPortableDuplicates(
        t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    },
      """WITH tok AS (
           SELECT doc_id, md5(t) AS h FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)),
         contrib AS (
           SELECT doc_id, j,
             CASE WHEN strpos('89abcdef', substr(h, CAST(j + 1 AS INT), 1)) > 0
                  THEN 1 ELSE -1 END AS c
           FROM tok CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js),
         sums AS (SELECT doc_id, j, sum(c) AS s FROM contrib GROUP BY doc_id, j),
         sig AS (SELECT doc_id,
                   CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << CAST(j AS INT) ELSE 0 END)
                     AS BIGINT) AS sh
                 FROM sums GROUP BY doc_id)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sh, b.sh)) <= 3"""),

    // Beyond-reference: char-5-gram Jaccard near-dups; prefix-filter
    // candidates over the same ngram space make the output exactly every
    // pair ≥ 0.6 (DuckDB all-pairs oracle).
    QuerySpec("q35_ngram_jaccard_dedup", Plain, (s, dir) => {
      graft.ops.Dedup.ngramJaccardDuplicates(
        t(s, dir, "documents"), "doc_id", "text", n = 5, threshold = 0.6)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    },
      """WITH sets AS (
           SELECT doc_id, list_distinct(list_transform(
             range(0, greatest(length(text) - 5, 0) + 1),
             i -> substr(text, CAST(1 + i AS INT), 5))) AS fset
           FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
         FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.6"""),

    // Beyond-reference: near-dup PAIRS → dedup CLUSTERS. The q27 edge set
    // is closed into connected components with alternating large-star /
    // small-star (O(log^2 n) shuffle rounds, diameter-independent); every
    // doc gets the min reachable doc_id as its cluster label. DuckDB
    // verifies via a recursive-CTE transitive closure.
    QuerySpec("q43_dedup_clusters", Plain, (s, dir) => {
      // prefix-only candidates: provably complete, so the MinHash union
      // leg (exercised by q27) would be pure redundant work here
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      graft.ops.Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("node").cast("long").as("doc_id"),
          col("component").cast("long").as("component"))
    },
      """WITH RECURSIVE sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         edges AS (
           SELECT u, v FROM pairs
           UNION SELECT v AS u, u AS v FROM pairs
           UNION SELECT u, u AS v FROM pairs
           UNION SELECT v AS u, v FROM pairs),
         reach AS (
           SELECT u AS n, v AS m FROM edges
           UNION
           SELECT r.n, e.v AS m FROM reach r JOIN edges e ON r.m = e.u)
         SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n"""),

    // Beyond-reference: benchmark decontamination — corpus docs sharing
    // ≥5 distinct 3-gram shingles with the "benchmark" pool (doc_id<20).
    // Broadcast pool + one corpus explode + map-side-combinable count:
    // the corpus is scanned once, its rows never shuffled.
    QuerySpec("q50_contamination_screen", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.contaminationScreen(
        docs.filter(col("doc_id") >= 20),
        docs.filter(col("doc_id") < 20),
        "doc_id", "text", n = 3, minOverlap = 5L)
        .select(col("id").as("doc_id"), col("n_shared"))
    },
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (SELECT doc_id, unnest(fset) AS sh FROM sets),
         bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
         hits AS (
           SELECT s.doc_id, count(*) AS n_shared
           FROM sh s JOIN bench b USING (sh)
           WHERE s.doc_id >= 20
           GROUP BY s.doc_id)
         SELECT doc_id, n_shared FROM hits WHERE n_shared >= 5"""),

    // Beyond-reference: block-level boilerplate removal (the CCNet line-
    // dedup family on fixed 10-token blocks): blocks appearing in ≥2
    // distinct docs are boilerplate; every doc is rewritten without them.
    // Document frequency shuffles 16-byte md5 hashes (never block text)
    // and reassembly is a per-doc sort_array — no corpus-wide window.
    QuerySpec("q52_block_dedup", Plain, (s, dir) => {
      graft.ops.Dedup.blockBoilerplate(
        t(s, dir, "documents"), "doc_id", "text", blockTokens = 10, minDf = 2L)
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         blocks AS (
           SELECT doc_id, i AS pos,
             array_to_string(list_slice(t, (i-1)*10+1, i*10), ' ') AS block
           FROM toks, LATERAL (SELECT unnest(range(1,
             CAST(ceil(len(t)/10.0) AS BIGINT)+1)) AS i) u),
         df AS (SELECT block, count(DISTINCT doc_id) AS df FROM blocks GROUP BY 1),
         j AS (SELECT b.doc_id, b.pos, b.block, d.df >= 2 AS boiler
               FROM blocks b JOIN df d USING (block))
         SELECT doc_id, count(*) AS n_blocks,
           CAST(sum(CASE WHEN boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           md5(string_agg(block, ' ' ORDER BY pos) FILTER (WHERE NOT boiler))
             AS clean_fp
         FROM j GROUP BY doc_id"""),

    // Beyond-reference: the PROBABILISTIC generator on its own —
    // MinHash-LSH band candidates verified with exact Jaccard. Output is
    // a subset of q27 with band-curve recall. The PORTABLE md5 hash
    // family makes the banding engine-independent, so the DuckDB oracle
    // replays candidate generation bit-for-bit and the full hash check
    // applies (the xxhash64 family stays spec-tested in OpsSpec).
    QuerySpec("q93_minhash_lsh_near_dup", Plain, (s, dir) => {
      graft.ops.Dedup.nearDuplicatesLshPortable(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
    },
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
         SELECT c.id_a, c.id_b,
           round(len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE, 4) AS jaccard
         FROM cand c
         JOIN sets a ON a.doc_id = c.id_a
         JOIN sets b ON b.doc_id = c.id_b
         WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7"""),

    // Beyond-reference: INCREMENTAL dedup admission — an incoming batch
    // (doc_id % 10 ∈ {8,9}) admitted against the standing corpus without
    // ever self-joining the corpus. Complete candidates + exact verify ⇒
    // deterministic admitted set; DuckDB replays it with all-pairs
    // Jaccard and the same keep-min-id drop rule.
    QuerySpec("q94_incremental_dedup", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      graft.ops.Dedup.incrementalDedup(
        docs.filter(col("doc_id") % 10 < 8),
        docs.filter(col("doc_id") % 10 >= 8),
        "doc_id", "text", threshold = 0.7)
        .select(col("doc_id"))
    },
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         corpus AS (SELECT * FROM sets WHERE doc_id % 10 < 8),
         batch AS (SELECT * FROM sets WHERE doc_id % 10 >= 8),
         dup AS (
           SELECT b.doc_id FROM batch b JOIN corpus c ON
             len(list_intersect(b.fset, c.fset))::DOUBLE /
               len(list_distinct(b.fset || c.fset))::DOUBLE >= 0.7
           UNION
           SELECT b.doc_id FROM batch b JOIN batch b2 ON b2.doc_id < b.doc_id AND
             len(list_intersect(b.fset, b2.fset))::DOUBLE /
               len(list_distinct(b2.fset || b.fset))::DOUBLE >= 0.7)
         SELECT doc_id FROM batch
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)"""),

    // Beyond-reference: EXACT substring dedup (Lee et al. ACL'22
    // ExactSubstr, relational form) — every char inside a ≥50-char
    // substring occurring more than once in the corpus is removed except
    // the globally first occurrence. Fixed-width md5 L-gram occurrences
    // + one per-doc interval-merge fold; the DuckDB oracle recomputes
    // the exact same removal set per character.
    QuerySpec("q104_exact_substring_dedup", Plain, (s, dir) => {
      graft.ops.Dedup.exactSubstringDedup(
        t(s, dir, "documents"), "doc_id", "text", minLen = 50)
    },
      // per-character replay of the removal set: a char survives iff no
      // covering 50-gram occurrence is a duplicated non-first occurrence
      """WITH base AS (SELECT doc_id, text, length(text) AS n FROM documents),
         grams AS (
           SELECT doc_id, i AS pos, md5(substr(text, CAST(i + 1 AS INT), 50)) AS g
           FROM base, UNNEST(generate_series(0, n - 50)) AS u(i)
           WHERE n >= 50),
         marked AS (
           SELECT doc_id, pos,
             count(*) OVER (PARTITION BY g) AS c,
             row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rk
           FROM grams),
         removals AS (SELECT doc_id, pos FROM marked WHERE c > 1 AND rk > 1),
         chars AS (
           SELECT b.doc_id, i AS p, substr(b.text, CAST(i + 1 AS INT), 1) AS ch
           FROM base b, UNNEST(generate_series(0, b.n - 1)) AS u(i)
           WHERE b.n > 0),
         kept AS (
           SELECT c.doc_id, c.p, c.ch
           FROM chars c LEFT JOIN removals r
             ON r.doc_id = c.doc_id AND r.pos BETWEEN c.p - 49 AND c.p
           GROUP BY c.doc_id, c.p, c.ch
           HAVING count(r.pos) = 0),
         agg AS (
           SELECT doc_id, string_agg(ch, '' ORDER BY p) AS cleaned
           FROM kept GROUP BY doc_id)
         SELECT b.doc_id, coalesce(a.cleaned, '') AS cleaned,
           CAST(b.n - length(coalesce(a.cleaned, '')) AS BIGINT) AS removed_chars
         FROM base b LEFT JOIN agg a USING (doc_id)"""),

    // Beyond-reference: cluster-representative dedup — near-dup clusters
    // keep their LONGEST member (argmax bytes, ties to the smaller id),
    // the keep-best rule production pipelines apply instead of keep-min-
    // id. Exact cascade + components + one struct-max per component.
    QuerySpec("q124_dedup_keep_best", Plain, (s, dir) => {
      graft.ops.Dedup.dedupKeepBest(
        t(s, dir, "documents"), "doc_id", "text",
        quality = octet_length(col("text")).cast("long"),
        threshold = 0.7)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("n_bytes"))
    },
      """WITH RECURSIVE sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         edges AS (
           SELECT u, v FROM pairs
           UNION SELECT v AS u, u AS v FROM pairs
           UNION SELECT u, u AS v FROM pairs
           UNION SELECT v AS u, v FROM pairs),
         reach AS (
           SELECT u AS n, v AS m FROM edges
           UNION
           SELECT r.n, e.v AS m FROM reach r JOIN edges e ON r.m = e.u),
         comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
         best AS (SELECT doc_id FROM (
           SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.component
               ORDER BY octet_length(encode(d.text)) DESC, c.doc_id) AS rn
           FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1)
         SELECT d.doc_id, CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes
         FROM documents d
         WHERE d.doc_id NOT IN (
           SELECT c.doc_id FROM comp c
           WHERE c.doc_id NOT IN (SELECT doc_id FROM best))"""),

    // Beyond-reference: the dedup AUDIT REPORT every curation run ships —
    // per-source document counts, how many were dropped as non-best
    // near-dup cluster members, and the duplicate rate. Composition of
    // the keep-best cascade with one broadcast-back join + groupBy.
    QuerySpec("q126_dedup_report", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = graft.ops.Dedup.dedupKeepBest(docs, "doc_id", "text",
        quality = octet_length(col("text")).cast("long"), threshold = 0.7)
        .select(col("doc_id").as("__kept_id"))
      docs.join(kept, docs("doc_id") === col("__kept_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__kept_id").isNull, 1L).otherwise(0L)).as("n_dropped"),
          round(sum(when(col("__kept_id").isNull, 1.0).otherwise(0.0)) /
            count(lit(1)), 4).as("dup_rate"))
    },
      """WITH RECURSIVE sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         edges AS (
           SELECT u, v FROM pairs
           UNION SELECT v AS u, u AS v FROM pairs
           UNION SELECT u, u AS v FROM pairs
           UNION SELECT v AS u, v FROM pairs),
         reach AS (
           SELECT u AS n, v AS m FROM edges
           UNION
           SELECT r.n, e.v AS m FROM reach r JOIN edges e ON r.m = e.u),
         comp AS (SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n),
         best AS (SELECT doc_id FROM (
           SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.component
               ORDER BY octet_length(encode(d.text)) DESC, c.doc_id) AS rn
           FROM comp c JOIN documents d USING (doc_id)) WHERE rn = 1),
         dropped AS (SELECT c.doc_id FROM comp c
                     WHERE c.doc_id NOT IN (SELECT doc_id FROM best))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           round(sum(CASE WHEN dr.doc_id IS NOT NULL
                          THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) /
                 count(*), 4) AS dup_rate
         FROM documents d LEFT JOIN dropped dr USING (doc_id)
         GROUP BY source"""),

    // Beyond-reference: edit-distance near-dup pairs under
    // (length-band, first-token) blocking — prefix-80 Levenshtein ≤ 20
    // on pairs within 40 chars of each other's length sharing their
    // first token; banded-DP codegen verify on deduped candidates.
    QuerySpec("q148_editdist_near_dup", Plain, (s, dir) => {
      graft.ops.Dedup.editDistanceNearDup(
        t(s, dir, "documents"), "doc_id", "text",
        prefixLen = 80, maxDist = 20, bandWidth = 40)
    },
      // each doc enters its length bucket and the next, keyed also by its
      // first token; dedup pairs, then one levenshtein per pair on the
      // 80-char prefixes
      """WITH b AS (SELECT doc_id, substr(text, 1, 80) AS p,
                      string_split(text, ' ')[1] AS w1,
                      CAST(length(text) AS BIGINT) AS len
                    FROM documents),
         bk AS (SELECT doc_id, p, w1, len, len // 40 AS bkt FROM b
                UNION ALL
                SELECT doc_id, p, w1, len, len // 40 + 1 AS bkt FROM b),
         cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                    l.p AS pa, r.p AS pb
                  FROM bk l JOIN bk r ON l.bkt = r.bkt AND l.w1 = r.w1
                  WHERE l.doc_id < r.doc_id AND abs(l.len - r.len) <= 40)
         SELECT id_a, id_b, CAST(levenshtein(pa, pb) AS BIGINT) AS dist
         FROM cand WHERE levenshtein(pa, pb) <= 20"""),

    // Beyond-reference: STREAMING LSH near-dup admission — row-local
    // md5-family MinHash band buckets (no groupBy, legal on an
    // unbounded stream), then flatMapGroupsWithState keyed by bucket
    // tracking the min doc_id seen; a doc is admitted iff it is the
    // first arrival in EVERY one of its bands. Version order = doc_id
    // order in the fixture, so the stream's "first seen" equals the
    // batch min(doc_id) the oracle replays.
    QuerySpec("q152_stream_lsh_dedup", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q152_sink"
      s.catalog.dropTempView(sink)
      // startingVersion=0: replay version-by-version (commit order =
      // doc_id order in this fixture) — the no-option snapshot path
      // would order the initial batch's files by PATH, which is not
      // doc_id order, and admission is order-dependent by definition
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Dedup.streamBandBuckets(src, "doc_id", "text")
        .select(col("doc_id").cast("long"), col("band").cast("int"), col("bh"))
        .as[(Long, Int, String)]
      val verdicts = buckets
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, rows, state) =>
            graft.ops.Incremental.admitFirstArrival(rows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "first_in_bucket")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("doc_id"))
        .agg(min(col("first_in_bucket")).as("admitted"),
          count(when(col("first_in_bucket"), 1)).as("n_first"))
    },
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         firsts AS (
           SELECT band, bh, min(doc_id) AS first_id
           FROM bands GROUP BY band, bh)
         SELECT b.doc_id,
           bool_and(b.doc_id = f.first_id) AS admitted,
           CAST(count(*) FILTER (WHERE b.doc_id = f.first_id) AS BIGINT)
             AS n_first
         FROM bands b JOIN firsts f ON b.band = f.band AND b.bh = f.bh
         GROUP BY b.doc_id"""),

    // Beyond-reference: SPLIT-LEAKAGE audit — near-dup pairs that cross
    // a deterministic train/val split (the eval-contamination failure
    // mode dedup-within-split misses); one summary row with the leaked
    // val-doc rate. Pairs come from the provably-complete exact
    // cascade; the split rule is replayed by the oracle.
    QuerySpec("q157_split_leakage", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val isVal = (c: org.apache.spark.sql.Column) => pmod(c, lit(10)) >= 8
      val cross = pairs.filter(isVal(col("id_a")) =!= isVal(col("id_b")))
      val leakedVal = cross.select(
        when(isVal(col("id_a")), col("id_a")).otherwise(col("id_b")).as("v"))
        .distinct()
      val counts = docs.agg(
        count(when(!isVal(col("doc_id")), 1)).as("n_train"),
        count(when(isVal(col("doc_id")), 1)).as("n_val"))
      counts.crossJoin(broadcast(cross.agg(count(lit(1)).as("n_cross_pairs"))))
        .crossJoin(broadcast(leakedVal.agg(count(lit(1)).as("n_val_leaked"))))
        .withColumn("leak_rate",
          round(col("n_val_leaked").cast("double") / col("n_val"), 6))
    },
      // exact-jaccard pairs (q27's spelling) restricted to split-crossing,
      // folded into the one audit row
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         cross_pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7
             AND ((a.doc_id % 10 >= 8) <> (b.doc_id % 10 >= 8))),
         leaked AS (
           SELECT DISTINCT CASE WHEN id_a % 10 >= 8 THEN id_a ELSE id_b END AS v
           FROM cross_pairs)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 < 8)
             AS n_train,
           (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 10 >= 8)
             AS n_val,
           (SELECT CAST(count(*) AS BIGINT) FROM cross_pairs) AS n_cross_pairs,
           (SELECT CAST(count(*) AS BIGINT) FROM leaked) AS n_val_leaked,
           round((SELECT count(*) FROM leaked)::DOUBLE /
             (SELECT count(*) FROM documents WHERE doc_id % 10 >= 8), 6)
             AS leak_rate"""),

    // Beyond-reference: VERSION-GATED dedup admission — the batch is a
    // later version range of the MANAGED table itself: time travel
    // reads the standing corpus (v0), the appended versions dedup
    // against it bipartitely (never corpus×corpus), the shape of a
    // continuously-ingesting pipeline gating its own appends.
    QuerySpec("q160_version_dedup_gate", Fixture, (s, dir) => {
      graft.log.SharedFixtures.ensure(s, dir)
      val share = graft.log.SharedFixtures.SHARE
      val corpus = s.read.format("graft")
        .option("table", s"$share.documents_versioned")
        .option("versionAsOf", "0").load()
        .select(col("doc_id"), col("text"))
      val latest = s.read.format("graft")
        .option("table", s"$share.documents_versioned").load()
        .select(col("doc_id"), col("text"))
      val batch = latest.join(corpus.select(col("doc_id")), Seq("doc_id"),
        "left_anti")
      graft.ops.Dedup.incrementalDedup(corpus, batch, "doc_id", "text",
        threshold = 0.7).select(col("doc_id"))
    },
      // v0 of documents_versioned is the first doc_id quartile by
      // construction — the oracle re-derives the boundary from the data
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         q1 AS (SELECT (max(doc_id) + 1) // 4 AS cut FROM documents),
         corpus AS (SELECT s.* FROM sets s, q1 WHERE s.doc_id < q1.cut),
         batch AS (SELECT s.* FROM sets s, q1 WHERE s.doc_id >= q1.cut),
         dup AS (
           SELECT b.doc_id FROM batch b JOIN corpus c ON
             len(list_intersect(b.fset, c.fset))::DOUBLE /
               len(list_distinct(b.fset || c.fset))::DOUBLE >= 0.7
           UNION
           SELECT b.doc_id FROM batch b JOIN batch b2 ON b2.doc_id < b.doc_id AND
             len(list_intersect(b.fset, b2.fset))::DOUBLE /
               len(list_distinct(b2.fset || b.fset))::DOUBLE >= 0.7)
         SELECT doc_id FROM batch
         WHERE doc_id NOT IN (SELECT doc_id FROM dup)"""),

    // Beyond-reference: PARAGRAPH-level near-dup with document
    // reassembly (RefinedWeb/CCNet sub-document dedup) — 20-token
    // windows as paragraph units (the fixture is single-line), the
    // exact coded-sets cascade at paragraph granularity, first-arrival
    // keep, per-doc kept mask + rebuilt text. DuckDB replays the
    // segmentation and the all-pairs Jaccard drop rule exactly.
    QuerySpec("q165_paragraph_dedup", Plain, (s, dir) => {
      graft.ops.Dedup.paragraphDedup(
        t(s, dir, "documents"), "doc_id", "text", threshold = 0.7,
        paragraphs = graft.ops.Dedup.tokenWindows(20))
    },
      // 20-token windows, all-pairs Jaccard >= 0.7 at paragraph
      // granularity, drop-if-earlier-duplicate, reassemble in pidx order
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
         paras AS (
           SELECT doc_id, CAST(i AS BIGINT) AS pidx,
             array_to_string(list_slice(ts, CAST(i*20+1 AS INT),
                                        CAST(i*20+20 AS INT)), ' ') AS para
           FROM tok, LATERAL unnest(
             range(0, CAST(ceil(len(ts) / 20.0) AS BIGINT))) AS t(i)
           WHERE len(ts) > 0),
         units AS (SELECT doc_id*1024 + pidx AS uid, doc_id, pidx, para FROM paras),
         sets AS (SELECT uid, list_distinct(
             CASE WHEN len(string_split(para, ' ')) < 3 THEN [para]
                  ELSE list_transform(range(1, len(string_split(para, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(para, ' '),
                                CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM units),
         dup AS (SELECT DISTINCT b.uid FROM sets b JOIN sets a
                 ON a.uid < b.uid
                 AND len(list_intersect(a.fset, b.fset))::DOUBLE /
                     len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         kept AS (SELECT u.doc_id, u.pidx, u.para,
                    u.uid NOT IN (SELECT uid FROM dup) AS k
                  FROM units u)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           string_agg(CASE WHEN k THEN '1' ELSE '0' END, '' ORDER BY pidx)
             AS kept_mask,
           coalesce(string_agg(para, ' ' ORDER BY pidx) FILTER (WHERE k), '')
             AS text_kept
         FROM kept GROUP BY doc_id"""),

    // Beyond-reference: MinHash estimator CALIBRATION — signed error of
    // the signature-agreement Jaccard estimate vs the exact coded-set
    // Jaccard over the LSH candidates, 0.1-bucketed; the measurement a
    // (bands, rows) choice rests on. Portable md5 double-hash family so
    // DuckDB replays every coordinate bit-for-bit. The report makes the
    // family's KNOWN defect visible: double-hashed coordinates are
    // correlated (a pair sharing the globally-minimizing shingle agrees
    // on EVERY h1+j·h2), so low-Jaccard candidates show large positive
    // error — they are verified away by the exact pass, at candidate-
    // volume cost; the production seededHash family doesn't correlate.
    QuerySpec("q180_lsh_calibration", Plain, (s, dir) => {
      graft.ops.Dedup.lshCalibration(
        t(s, dir, "documents"), "doc_id", "text")
    },
      // q93's signature replay extended with per-coordinate agreement and
      // the unthresholded exact Jaccard; same 0.1 error buckets
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         est AS (
           SELECT c.id_a, c.id_b,
             sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END) / 32.0 AS est
           FROM cand c
           JOIN hs ha ON ha.doc_id = c.id_a
           JOIN hs hb ON hb.doc_id = c.id_b AND hb.j = ha.j
           GROUP BY c.id_a, c.id_b),
         tj AS (
           SELECT c.id_a, c.id_b,
             len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE AS jac
           FROM cand c
           JOIN sets a ON a.doc_id = c.id_a
           JOIN sets b ON b.doc_id = c.id_b)
         SELECT round(est - jac, 1) AS err_bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(est), 6) AS avg_est,
           round(avg(jac), 6) AS avg_jaccard
         FROM est JOIN tj USING (id_a, id_b)
         GROUP BY 1"""),

    // Beyond-reference: TTL'd STREAMING LSH admission — q152 with the
    // knob production streams cannot run without: BOUNDED state. The
    // admission rule is "admit iff the bucket is unseen OR last seen
    // more than ttl of event time ago"; under that rule, evicting state
    // idle past the TTL is SEMANTICALLY FREE (a post-TTL arrival is
    // admitted whether or not the entry still exists), so the state
    // store is physically bounded to buckets active within one TTL
    // window — done with an event-time watermark + EventTimeTimeout,
    // with decisions exactly replayable as a per-bucket lag window (the
    // oracle). Event time = doc_id seconds; ttl = 100 s.
    QuerySpec("q185_stream_lsh_ttl", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q185_sink"
      s.catalog.dropTempView(sink)
      val ttlMs = 100000L
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Dedup.streamBandBuckets(src, "doc_id", "text")
        .select(col("doc_id").cast("long").as("doc_id"),
          col("band").cast("int").as("band"), col("bh"),
          // +1 day base: epoch-0 event time would be dropped as late
          // against the INITIAL watermark (0); gaps are unaffected
          timestamp_millis(col("doc_id").cast("long") * 1000L + 86400000L)
            .as("ts"))
        // delay = one TTL (derived from ttlMs so the two can't drift):
        // admission decisions compare event-time gaps in ttlAdmit itself
        // (state absence ⇒ admit, same verdict a post-TTL arrival gets;
        // state is monotone so a late arrival can't regress it), so
        // delaying eviction by a TTL never changes a verdict — but it
        // makes the pipeline robust to ingestion order deviating from
        // doc_id order by up to one TTL across micro-batches, where a
        // 0-second watermark would silently drop below-watermark rows.
        // State bound becomes two TTL windows.
        .withWatermark("ts", s"${ttlMs / 1000} seconds")
        .as[(Long, Int, String, java.sql.Timestamp)]
      val verdicts = buckets
        .groupByKey(r => (r._2, r._3))
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
          graft.ops.Dedup.ttlAdmit(ttlMs))
        .toDF("doc_id", "fresh_in_bucket")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("doc_id"))
        .agg(min(col("fresh_in_bucket")).as("admitted"),
          count(when(col("fresh_in_bucket"), 1)).as("n_fresh"))
    },
      // the same md5-family banding as q93's oracle; a doc is admitted
      // iff it is min(doc_id) in every one of its 8 band buckets — the
      // batch replay of the stream's first-arrival state
      // q152's bucket replay; "fresh" = first in bucket OR previous
      // arrival more than ttl (100 s of doc_id-seconds) before — the lag
      // window is exactly the stream's last-seen state rule
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         lagged AS (
           SELECT doc_id, band, bh,
             lag(doc_id) OVER (PARTITION BY band, bh
               ORDER BY doc_id) AS prev_id
           FROM bands),
         verdicts AS (
           SELECT doc_id,
             (prev_id IS NULL OR (doc_id - prev_id) * 1000 > 100000)
               AS fresh
           FROM lagged)
         SELECT doc_id, bool_and(fresh) AS admitted,
           CAST(count(*) FILTER (WHERE fresh) AS BIGINT) AS n_fresh
         FROM verdicts GROUP BY doc_id"""),

    // Beyond-reference: DEDUP RECALL report — the headline number of a
    // probabilistic dedup system: the q93 MinHash-LSH cascade's pair
    // recall against the EXACT ground truth (the complete PPJoin
    // cascade, q27) on the same feature space and threshold. Precision
    // is 1 by construction (LSH candidates are exact-verified), so the
    // missing mass is candidate-generation misses — the 1-(1-J^r)^b
    // curve, measured. One row.
    QuerySpec("q186_lsh_recall", Plain, (s, dir) => {
      // Both cascades run over the SAME shingle space, so the feature
      // dictionary / coded arrays / verifier are built ONCE and shared
      // (the separate nearDuplicatesExact + nearDuplicatesLshPortable
      // calls each built their own — double dictionary aggregation,
      // double per-doc collect+sort: work computed only to be thrown
      // away). Same candidate sets, same exact verification,
      // bit-identical report.
      val docs = t(s, dir, "documents")
      val De = graft.ops.Dedup
      val threshold = 0.7
      val sets = graft.ops.Materialize.pin(
        graft.ops.Par.widen(docs).select(col("doc_id").as("id"),
          array_distinct(De.shingles(col("text"), 3)).as("fset")))
      val (exploded, dict) = De.featureTables(sets)
      val codes = De.codedSetsFromFeatures(exploded, dict)
      val (index, probe) = De.prefixTables(codes, threshold)
      val exact = De.codedVerifyFromCodes(
        De.prefixJoin(index, probe, threshold), codes, threshold)
        .select(col("id_a"), col("id_b"))
      val lshCands = De.portableBandCandidates(
        De.portableSignatures(sets, 32), 32, 8)
      val lsh = De.codedVerifyFromCodes(lshCands, codes, threshold)
        .select(col("id_a"), col("id_b"), lit(1L).as("__hit"))
      exact.join(lsh, Seq("id_a", "id_b"), "left")
        .agg(count(lit(1)).as("n_true_pairs"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_lsh_pairs"),
          (count(lit(1)) - coalesce(sum(col("__hit")), lit(0L))).as("n_missed"),
          round(coalesce(sum(col("__hit")), lit(0L)).cast("double") /
            count(lit(1)), 6).as("recall"))
    },
      // ground truth = q27's all-pairs Jaccard; found = q93's banded
      // signature replay (verified >= t); one-row recall join
      """WITH sets AS (
           SELECT doc_id, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         truth AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         sh AS (
           SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
             ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
           FROM (SELECT doc_id, unnest(fset) AS sh FROM sets)),
         hs AS (
           SELECT doc_id, j, min(h1 + j * h2) AS h
           FROM sh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
           GROUP BY doc_id, j),
         bands AS (
           SELECT doc_id, CAST(j // 4 AS INT) AS band,
             string_agg(CAST(h AS VARCHAR), ',' ORDER BY j) AS bh
           FROM hs GROUP BY doc_id, CAST(j // 4 AS INT)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
         found AS (
           SELECT c.id_a, c.id_b FROM cand c
           JOIN sets a ON a.doc_id = c.id_a
           JOIN sets b ON b.doc_id = c.id_b
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7),
         j AS (SELECT t.id_a, t.id_b,
                 CASE WHEN f.id_a IS NULL THEN 0 ELSE 1 END AS hit
               FROM truth t LEFT JOIN found f
                 ON t.id_a = f.id_a AND t.id_b = f.id_b)
         SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(sum(hit) AS BIGINT) AS n_lsh_pairs,
           CAST(count(*) - sum(hit) AS BIGINT) AS n_missed,
           round(sum(hit) / CAST(count(*) AS DOUBLE), 6) AS recall
         FROM j"""),

    // Beyond-reference: cross-source DUPLICATION MATRIX — near-dup pairs
    // attributed to their (source, source) cell: which sources copy from
    // which (mirror detection, licensing-leak attribution, the
    // provenance table a crawl-dedup postmortem starts from). The exact
    // cascade runs once; attribution is two broadcast-sized id→source
    // joins.
    QuerySpec("q187_source_copy_matrix", Plain, (s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.ops.Dedup.nearDuplicatesExact(
        docs, "doc_id", "text", threshold = 0.7,
        includeMinHashCandidates = false)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")),
          "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")),
          "id_b")
        .groupBy(least(col("src_a"), col("src_b")).as("source_x"),
          greatest(col("src_a"), col("src_b")).as("source_y"))
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 6).as("avg_jaccard"))
    },
      // q27's all-pairs truth attributed through the id->source map,
      // canonical (least, greatest) source cell
      """WITH sets AS (
           SELECT doc_id, source, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         pairs AS (
           SELECT a.source AS src_a, b.source AS src_b,
             len(list_intersect(a.fset, b.fset))::DOUBLE /
               len(list_distinct(a.fset || b.fset))::DOUBLE AS jaccard
           FROM sets a JOIN sets b ON a.doc_id < b.doc_id
           WHERE len(list_intersect(a.fset, b.fset))::DOUBLE /
                 len(list_distinct(a.fset || b.fset))::DOUBLE >= 0.7)
         SELECT least(src_a, src_b) AS source_x,
           greatest(src_a, src_b) AS source_y,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard
         FROM pairs GROUP BY 1, 2"""),

    // Beyond-reference: INVERSE CLOZE TASK pair construction (Lee et al.
    // ACL 2019, the standard self-supervised retrieval-pretraining data
    // generator): per doc, one content-addressed 20-token window becomes
    // the query and the remaining windows the context — deterministic
    // (md5 window pick), pure row-local array ops, output IS the
    // training-pair stream. Docs with fewer than 2 windows are skipped.
    QuerySpec("q188_ict_pairs", Plain, (s, dir) => {
      val ws = graft.ops.Dedup.tokenWindows(20)(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), ws.as("ws"))
        .filter(size(col("ws")) >= 2)
        .withColumn("qidx", pmod(
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"),
          size(col("ws")).cast("long")))
        .select(col("doc_id"), col("qidx"),
          element_at(col("ws"), (col("qidx") + 1).cast("int")).as("q"),
          graft.ops.TextOps.tokenCount(array_join(
            filter(col("ws"), (_, i) => i =!= col("qidx").cast("int")), " "))
            .cast("long").as("ctx_tokens"))
    },
      // q165's window segmentation + the md5 window pick; context tokens
      // = sum of the non-query windows' token counts
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
                      FROM documents),
         d2 AS (SELECT doc_id, ts,
                  CAST(ceil(len(ts) / 20.0) AS BIGINT) AS n,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT
                    % CAST(ceil(len(ts) / 20.0) AS BIGINT) AS qidx
                FROM tok
                WHERE len(ts) > 0 AND CAST(ceil(len(ts) / 20.0) AS BIGINT) >= 2),
         paras AS (SELECT doc_id, i,
                     array_to_string(list_slice(ts, CAST(i*20+1 AS INT),
                       CAST(i*20+20 AS INT)), ' ') AS para
                   FROM d2, LATERAL unnest(range(0, n)) AS t(i)),
         q AS (SELECT p.doc_id, d2.qidx, p.para AS q
               FROM paras p JOIN d2 USING (doc_id) WHERE p.i = d2.qidx),
         ctx AS (SELECT p.doc_id,
                   CAST(sum(len(string_split(para, ' '))) AS BIGINT)
                     AS ctx_tokens
                 FROM paras p JOIN d2 USING (doc_id)
                 WHERE p.i <> d2.qidx GROUP BY p.doc_id)
         SELECT q.doc_id, CAST(q.qidx AS BIGINT) AS qidx, q.q, ctx.ctx_tokens
         FROM q JOIN ctx USING (doc_id)"""),

    // Beyond-reference: SOURCE-OVERLAP MATRIX — "which dumps/crawl
    // snapshots overlap, and by how much" answered with ONE corpus scan:
    // per-source MinHash signatures (min distributes over union, so the
    // per-source min IS the union set's signature) self-joined at
    // #sources rows for the Broder estimate, next to the exact Jaccard
    // from per-shingle source sets (pair expansion bounded by sources²
    // per shingle — never corpus-quadratic). The estimator's error is
    // visible in the report; the oracle replays both halves through the
    // portable md5 double-hash family.
    QuerySpec("q206_source_overlap", Plain, (s, dir) =>
      graft.ops.Dedup.sourceOverlap(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source_a"), col("source_b")),
      // both halves replayed: md5 double-hash minhash per SOURCE (min over
      // the union of member docs' shingles) for the estimate, per-shingle
      // source sets for the exact Jaccard
      """WITH sets AS (
           SELECT source, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         d AS (SELECT DISTINCT source, unnest(fset) AS sh FROM sets),
         hh AS (SELECT source,
                  ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
                  ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
                FROM d),
         hs AS (SELECT source, j, min(h1 + j * h2) AS h
                FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
                GROUP BY source, j),
         agree AS (SELECT a.source AS sa, b.source AS sb,
                     CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_agree
                   FROM hs a JOIN hs b ON a.j = b.j AND a.source < b.source
                   GROUP BY 1, 2),
         sz AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
         inter AS (SELECT a.source AS sa, b.source AS sb,
                     CAST(count(*) AS BIGINT) AS ns
                   FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
                   GROUP BY 1, 2)
         SELECT ag.sa AS source_a, ag.sb AS source_b, ag.n_agree,
                round(ag.n_agree / 32.0, 6) AS est_jaccard,
                CAST(COALESCE(i.ns, 0) AS BIGINT) AS n_shared,
                round(COALESCE(i.ns, 0)::DOUBLE /
                      (za.n + zb.n - COALESCE(i.ns, 0)), 6) AS jaccard
         FROM agree ag
         LEFT JOIN inter i ON i.sa = ag.sa AND i.sb = ag.sb
         JOIN sz za ON za.source = ag.sa
         JOIN sz zb ON zb.source = ag.sb
         ORDER BY 1, 2"""),

    // Beyond-reference: INCREMENTALLY MAINTAINED source-overlap sketch —
    // q206's per-source MinHash signatures kept up to date over the
    // change STREAM instead of rescanned per append: minima are monotone
    // under union, so per-source state is exactly 32 longs, each
    // micro-batch folds its shingle hashes in with elementwise min, and
    // a running snapshot is emitted per trigger (append-mode legal —
    // the final signature is the elementwise min over all snapshots, so
    // late assembly needs no "last row wins"). The final pairwise matrix
    // must HASH-MATCH the batch q206 estimate — the oracle itself proves
    // incremental == from-scratch, the q201 pattern. At 100 TB: O(delta)
    // shingle work per append, #sources × 32 longs of state, vs a full
    // corpus rescan per refresh.
    QuerySpec("q209_stream_source_sketch", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q209_sink"
      s.catalog.dropTempView(sink)
      val K = 32
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val hashes = src.select(col("source"),
        explode(graft.ops.Dedup.shingles(col("text"), 3)).as("__sh"))
        .select(col("source"),
          graft.ops.Dedup.portableH(col("__sh"), 1).as("h1"),
          graft.ops.Dedup.portableH(col("__sh"), 13).as("h2"))
        .as[(String, Long, Long)]
      val snapshots = hashes
        .groupByKey(_._1)
        .flatMapGroupsWithState[Array[Long], (String, Seq[Long])](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (source, rows, state) =>
            val mins = state.getOption.getOrElse(Array.fill(K)(Long.MaxValue))
            rows.foreach { case (_, h1, h2) =>
              var j = 0
              while (j < K) {
                val h = h1 + j.toLong * h2
                if (h < mins(j)) mins(j) = h
                j += 1
              }
            }
            state.update(mins)
            Iterator.single((source, mins.toSeq))
        }
        .toDF("source", "mins")
      val q = snapshots.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      val sigs = s.table(sink).groupBy(col("source"))
        .agg(min(col("mins")(0)).as("h0"),
          (1 until K).map(j => min(col("mins")(j)).as(s"h$j")): _*)
      val a = sigs.select(col("source").as("source_a") +:
        (0 until K).map(j => col(s"h$j").as(s"__a$j")): _*)
      val b = sigs.select(col("source").as("source_b") +:
        (0 until K).map(j => col(s"h$j").as(s"__b$j")): _*)
      a.join(broadcast(b), col("source_a") < col("source_b"))
        .withColumn("n_agree", (0 until K)
          .map(j => when(col(s"__a$j") === col(s"__b$j"), 1L).otherwise(0L))
          .reduce(_ + _))
        .select(col("source_a"), col("source_b"), col("n_agree"),
          round(col("n_agree").cast("double") / K, 6).as("est_jaccard"))
        .orderBy(col("source_a"), col("source_b"))
    },
      // the BATCH q206 estimate replayed verbatim (md5 double-hash minhash
      // per source over the full corpus) — a hash match IS the
      // incremental-equals-from-scratch proof for the streamed sketch
      """WITH sets AS (
           SELECT source, list_distinct(
             CASE WHEN len(string_split(text, ' ')) < 3 THEN [text]
                  ELSE list_transform(range(1, len(string_split(text, ' ')) - 1),
                         i -> array_to_string(list_slice(string_split(text, ' '),
                                                         CAST(i AS INT), CAST(i + 2 AS INT)), ' '))
             END) AS fset
           FROM documents),
         d AS (SELECT DISTINCT source, unnest(fset) AS sh FROM sets),
         hh AS (SELECT source,
                  ('0x' || substr(md5(sh), 1, 12))::BIGINT AS h1,
                  ('0x' || substr(md5(sh), 13, 12))::BIGINT AS h2
                FROM d),
         hs AS (SELECT source, j, min(h1 + j * h2) AS h
                FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS j) js
                GROUP BY source, j)
         SELECT a.source AS source_a, b.source AS source_b,
                CAST(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_agree,
                round(sum(CASE WHEN a.h = b.h THEN 1 ELSE 0 END) / 32.0, 6)
                  AS est_jaccard
         FROM hs a JOIN hs b ON a.j = b.j AND a.source < b.source
         GROUP BY 1, 2 ORDER BY 1, 2""")
  )
}
