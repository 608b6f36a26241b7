package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.queries.Layer._
import graft.queries.QueryHelpers._

/** Web-crawl operators: URL canonicalization and domains, HTML
  * extraction and link graphs, robots.txt and sitemaps, fetch
  * scheduling, WARC census and streaming crawl admission.
  */
object CrawlQueries {
  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q205_html_boilerplate", Plain, (s, dir) => {
      val extracted = graft.ops.Html.extractPages(
        graft.ops.Html.pages(t(s, dir, "documents")))
      extracted.groupBy(col("lang")).agg(
        count(lit(1)).as("n_pages"),
        sum(col("content_words")).as("content_words"),
        sum(col("total_words")).as("total_words"),
        sum(col("n_content_blocks").cast("long")).as("content_blocks"),
        sum(col("n_blocks").cast("long")).as("blocks"),
        sum(when(col("content_words") >= 40, 1L).otherwise(0L))
          .as("n_quality_pass"))
        .orderBy(col("lang"))
    },
      // generator-formula replay of the HTML fixture: paragraphs are
      // 8-word chunks, kept iff >= 5 words and not link-wrapped (p%5==4);
      // chrome contributes 13 fixed words + 3 fixed blocks per page, ads
      // (doc_id%3==0) 4 words + 1 block — word-exact, so any parser drift
      // (leaked chrome, miscounted linked words) breaks the hash
      """WITH toks AS (SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\s+'), w -> w <> '')) AS n
           FROM documents),
         pars AS (SELECT doc_id, n,
                    unnest(range(CAST(ceil(n / 8.0) AS BIGINT))) AS p
                  FROM toks),
         sized AS (SELECT doc_id, p, least(8, n - 8 * p) AS sz FROM pars),
         kept AS (SELECT doc_id,
                    CAST(sum(CASE WHEN sz >= 5 AND p % 5 <> 4
                             THEN sz ELSE 0 END) AS BIGINT) AS cw,
                    CAST(sum(CASE WHEN sz >= 5 AND p % 5 <> 4
                             THEN 1 ELSE 0 END) AS BIGINT) AS cb,
                    CAST(count(*) AS BIGINT) AS np
                  FROM sized GROUP BY doc_id),
         perdoc AS (SELECT t.doc_id, t.lang,
                      COALESCE(k.cw, 0) AS content_words,
                      t.n + 13 + CASE WHEN t.doc_id % 3 = 0
                                 THEN 4 ELSE 0 END AS total_words,
                      COALESCE(k.cb, 0) AS content_blocks,
                      COALESCE(k.np, 0) + 3 + CASE WHEN t.doc_id % 3 = 0
                                              THEN 1 ELSE 0 END AS blocks
                    FROM toks t LEFT JOIN kept k USING (doc_id))
         SELECT lang, CAST(count(*) AS BIGINT) AS n_pages,
                CAST(sum(content_words) AS BIGINT) AS content_words,
                CAST(sum(total_words) AS BIGINT) AS total_words,
                CAST(sum(content_blocks) AS BIGINT) AS content_blocks,
                CAST(sum(blocks) AS BIGINT) AS blocks,
                CAST(sum(CASE WHEN content_words >= 40 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_quality_pass
         FROM perdoc GROUP BY lang ORDER BY lang"""),

    // Beyond-reference: HTML boilerplate extraction (trafilatura-style
    // deterministic tag walk) — a crawl corpus starts from HTML, and the
    // quality pack wants the article text, not the chrome. Every doc
    // becomes a synthetic page (link-dense nav/footer/ads chrome around
    // 8-word content paragraphs, every 5th paragraph link-wrapped — the
    // q199 generator pattern), the extractor keeps blocks with >= 5
    // words and link density <= 1/3, and the per-language report rolls
    // up extraction-rate metrics plus a content-length quality gate
    // (>= 40 extracted words) over the extracted text. The oracle
    // recomputes expected extraction from the generator formula alone —
    // if the parser miscounted a block, misattributed a linked word, or
    // leaked chrome into content, the word sums would not match. Plan:
    // one stateless parse pass per page (O(bytes), no shuffle until the
    // 5-group rollup).
    // Beyond-reference: BOILERPLATE-INVARIANT CRAWL DEDUP — the reason
    // extraction runs BEFORE dedup: the same article re-hosted under
    // different site chrome (every 7th doc gets a mirror page with
    // different nav/footer/ads and sloppier whitespace) is invisible to
    // page-level dedup but collapses at the extracted-content level.
    // Extraction → group by content → per-language dedup report. The
    // oracle reconstructs each doc's kept-word content from the
    // generator formula and groups the same way — a single leaked
    // chrome word or whitespace-normalization drift splits a mirror
    // from its original and breaks the counts; rep_sum pins that the
    // representative is always the ORIGINAL (asset ids are parity-coded
    // 2·doc_id / 2·doc_id+1 — injective at any corpus scale, original =
    // group min by parity). The fixture
    // also contains NATURAL collisions (distinct texts whose kept
    // subsets coincide — 16 at sf0.01), so the grouping is exercised
    // beyond the planted mirrors. Plan: one parse pass, one
    // content-hash groupBy, one 5-group rollup.
    QuerySpec("q207_crawl_mirror_dedup", Plain, (s, dir) => {
      val ex = graft.ops.Html.extractPages(
        graft.ops.Html.pagesWithMirrors(t(s, dir, "documents")))
      ex.groupBy(col("lang"), sha2(col("content"), 256).as("ck"))
        .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_copies"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_distinct"),
          sum(col("n_copies")).as("n_pages"),
          sum(col("n_copies") - 1).as("n_dups"),
          sum(col("rep_id")).as("rep_sum"))
        .orderBy(col("lang"))
    },
      // the kept-word content is reconstructed from the generator formula
      // (8-word chunks, keep iff >= 5 words and not the link-wrapped
      // p%5==4), originals and mirrors group by that content, and the
      // report counts groups per language with the original's id as rep
      """WITH w AS (SELECT doc_id, lang,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         pars AS (SELECT doc_id, ws,
                    unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS p
                  FROM w),
         par AS (SELECT doc_id, p,
                   array_to_string(list_slice(ws, CAST(8 * p + 1 AS INT),
                     CAST(least(8 * p + 8, len(ws)) AS INT)), ' ') AS txt,
                   least(8, len(ws) - 8 * p) AS sz
                 FROM pars),
         content AS (SELECT w.doc_id, w.lang, COALESCE(c.c, '') AS c
                     FROM w LEFT JOIN (
                       SELECT doc_id, string_agg(txt, chr(10) ORDER BY p) AS c
                       FROM par WHERE sz >= 5 AND p % 5 <> 4
                       GROUP BY doc_id) c USING (doc_id)),
         assets AS (SELECT 2 * doc_id AS asset_id, lang, c FROM content
                    UNION ALL
                    SELECT 2 * doc_id + 1, lang, c FROM content
                    WHERE doc_id % 7 = 0),
         grp AS (SELECT lang, c, min(asset_id) AS rep_id,
                   CAST(count(*) AS BIGINT) AS n_copies
                 FROM assets GROUP BY lang, c)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct,
                CAST(sum(n_copies) AS BIGINT) AS n_pages,
                CAST(sum(n_copies - 1) AS BIGINT) AS n_dups,
                CAST(sum(rep_id) AS BIGINT) AS rep_sum
         FROM grp GROUP BY lang ORDER BY lang"""),

    // Beyond-reference: STREAMING CRAWL-FRONTIER content dedup — pages
    // arrive as a versioned stream, each is EXTRACTED in-flight
    // (stateless mapPartitions, the q205 tag walk), and a page is
    // admitted iff its extracted-content hash is the bucket's first
    // arrival (the q198/q203 first-arrival state machine; 64-char
    // constant-width state key). This is the screen that drops a
    // re-crawled article before it is ever stored — boilerplate-
    // invariant, so a re-host with different chrome still dedups, which
    // URL- or page-hash-level admission cannot do. Version order =
    // doc_id order in the fixture, so the oracle replays admission as
    // min-doc_id per reconstructed-content group (including the
    // fixture's natural content collisions).
    QuerySpec("q208_stream_content_dedup", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q208_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val buckets = graft.ops.Html.extractPages(
        graft.ops.Html.pages(src.select(col("doc_id"), col("lang"), col("text"))))
        .select(col("doc_id"), sha2(col("content"), 256).as("bucket"))
        .as[(Long, String)]
      val verdicts = buckets
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, groupRows, state) =>
            graft.ops.Incremental.admitFirstArrival(groupRows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "admitted")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("admitted"))
        .agg(count(lit(1)).as("n_pages"), min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("id_sum"))
    },
      // first-arrival admission replayed as min-doc_id per reconstructed-
      // content group (version order = doc_id order in the fixture); the
      // content CTE is the q207 generator-formula reconstruction
      """WITH w AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS ws
           FROM documents),
         pars AS (SELECT doc_id, ws,
                    unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS p
                  FROM w),
         par AS (SELECT doc_id, p,
                   array_to_string(list_slice(ws, CAST(8 * p + 1 AS INT),
                     CAST(least(8 * p + 8, len(ws)) AS INT)), ' ') AS txt,
                   least(8, len(ws) - 8 * p) AS sz
                 FROM pars),
         content AS (SELECT w.doc_id, COALESCE(c.c, '') AS c
                     FROM w LEFT JOIN (
                       SELECT doc_id, string_agg(txt, chr(10) ORDER BY p) AS c
                       FROM par WHERE sz >= 5 AND p % 5 <> 4
                       GROUP BY doc_id) c USING (doc_id)),
         firsts AS (SELECT c, min(doc_id) AS first_id FROM content GROUP BY c)
         SELECT (t.doc_id = f.first_id) AS admitted,
                CAST(count(*) AS BIGINT) AS n_pages,
                CAST(min(t.doc_id) AS BIGINT) AS min_id,
                CAST(sum(t.doc_id) AS BIGINT) AS id_sum
         FROM content t JOIN firsts f USING (c) GROUP BY 1"""),

    // Beyond-reference: URL CANONICALIZATION report (the crawl stage
    // BEFORE q205-q208's fetched HTML). The generator-
    // formula fixture synthesizes a messy URL per doc (mixed-case
    // scheme/host, www. label, default ports, dot segments, duplicate
    // slashes, %7E escapes, unsorted+tracking query params, fragments;
    // every 10th already canonical, pinning idempotence); the engine
    // RUNS the RFC 3986 §6 canonicalizer kernel on it, while the oracle
    // replays the expected canonical string from the formula — a hash
    // match proves the parser lands exactly on the spec'd form. Plan:
    // one row-local codegen pass + one per-host rollup.
    QuerySpec("q212_url_canonicalize", Plain, (s, dir) => {
      val U = graft.ops.Urls
      val raw = U.noisyUrl(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"),
          U.canonicalizeUrl(raw).as("canon"))
        .groupBy(U.canonicalHost(col("canon")).as("host"))
        .agg(count(lit(1)).as("n_urls"),
          sum(when(col("raw") =!= col("canon"), 1L).otherwise(0L))
            .as("n_changed"),
          sum(length(col("raw")) - length(col("canon"))).cast("long")
            .as("chars_removed"),
          count_distinct(col("canon")).as("n_distinct"))
        .orderBy(col("host"))
    },
      // generator-formula oracle (the q199/q205 pattern): BOTH the messy
      // raw string and its expected canonical form are replayed from the
      // id formula — the engine must land on the same canonical string by
      // actually running its RFC 3986 canonicalizer on the raw input
      """WITH u AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         cf AS (SELECT doc_id, m,
             'http' || CASE WHEN m % 2 = 1 THEN 's' ELSE '' END ||
             '://host' || (m % 7) || '.example.com' ||
             CASE WHEN m % 11 = 0 THEN ':8080' ELSE '' END ||
             '/a/p~q' || (m % 5) || '/Item' || (m % 23) ||
             CASE WHEN m % 4 = 0 THEN '/x' ELSE '' END ||
             '?a=' || (m % 13) || '&b=2' AS canon
           FROM u),
         c AS (SELECT doc_id, m, canon,
             CASE WHEN doc_id % 10 = 9 THEN canon ELSE
               CASE WHEN m % 2 = 0
                    THEN CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END
                    ELSE CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'hTtps' END
               END ||
               '://' || CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
               'Host' || (m % 7) || '.Example.COM' ||
               CASE WHEN m % 11 = 0 THEN ':8080'
                    WHEN doc_id % 5 = 0 AND m % 2 = 0 THEN ':80'
                    WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END ||
               '/a/./p%7Eq' || (m % 5) || '/b/../Item' || (m % 23) ||
               CASE WHEN m % 4 = 0 THEN '//x' ELSE '' END ||
               '?b=2&utm_source=feed&a=' || (m % 13) ||
               CASE WHEN doc_id % 6 = 0 THEN '&fbclid=XYZ' ELSE '' END ||
               '#frag' || (doc_id % 3)
             END AS raw
           FROM cf)
         SELECT 'host' || (m % 7) || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(CASE WHEN raw <> canon THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_changed,
                CAST(sum(length(raw) - length(canon)) AS BIGINT)
                  AS chars_removed,
                CAST(count(DISTINCT canon) AS BIGINT) AS n_distinct
         FROM c GROUP BY 1 ORDER BY host"""),

    // Beyond-reference: canonical-URL FRONTIER dedup + per-host crawl
    // budget — ids congruent mod 250 are re-fetches of one logical URL
    // under different noise, so the frontier must collapse them; the
    // per-host rollup is what a polite fetcher schedules from. Shuffle
    // carries one canonical string + a long per row; two map-side-
    // combinable aggregations, no joins.
    QuerySpec("q213_url_frontier_budget", Plain, (s, dir) => {
      val U = graft.ops.Urls
      U.frontierBudget(
        t(s, dir, "documents").select(col("doc_id"),
          U.noisyUrl(col("doc_id")).as("url")),
        "doc_id", "url")
        .orderBy(col("host"))
    },
      """WITH u AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         c AS (SELECT doc_id,
             'host' || (m % 7) || '.example.com' AS host,
             'http' || CASE WHEN m % 2 = 1 THEN 's' ELSE '' END ||
             '://host' || (m % 7) || '.example.com' ||
             CASE WHEN m % 11 = 0 THEN ':8080' ELSE '' END ||
             '/a/p~q' || (m % 5) || '/Item' || (m % 23) ||
             CASE WHEN m % 4 = 0 THEN '/x' ELSE '' END ||
             '?a=' || (m % 13) || '&b=2' AS canon
           FROM u),
         g AS (SELECT host, canon, min(doc_id) AS rep, count(*) AS n
               FROM c GROUP BY 1, 2)
         SELECT host, CAST(sum(n) AS BIGINT) AS n_fetch_requests,
                CAST(count(*) AS BIGINT) AS n_frontier_urls,
                CAST(sum(n - 1) AS BIGINT) AS n_dups_avoided,
                CAST(sum(rep) AS BIGINT) AS rep_sum
         FROM g GROUP BY host ORDER BY host"""),

    // Beyond-reference: STREAMING URL-frontier admission — the q208
    // first-arrival state machine keyed by CANONICAL URL: requests
    // canonicalize in-stream and a fetch is admitted iff its canonical
    // URL's bucket state was empty (late re-fetches are duplicates).
    // Version order = doc_id order in the fixture, so the oracle
    // replays admission as min-id per canonical formula group.
    QuerySpec("q214_stream_url_frontier", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q214_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "2").load()
      val U = graft.ops.Urls
      val buckets = src
        .select(col("doc_id").cast("long"),
          U.canonicalizeUrl(U.noisyUrl(col("doc_id"))).as("bucket"))
        .as[(Long, String)]
      val verdicts = buckets
        .groupByKey(_._2)
        .flatMapGroupsWithState[Long, (Long, Boolean)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (_, groupRows, state) =>
            graft.ops.Incremental.admitFirstArrival(groupRows.map(_._1).toArray, state)
        }
        .toDF("doc_id", "admitted")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("admitted"))
        .agg(count(lit(1)).as("n_requests"), min(col("doc_id")).as("min_id"),
          sum(col("doc_id")).as("id_sum"))
    },
      // version order = doc_id order in the fixture, so first-arrival
      // admission per canonical-URL bucket replays as min-id per group
      """WITH u AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         c AS (SELECT doc_id,
             'http' || CASE WHEN m % 2 = 1 THEN 's' ELSE '' END ||
             '://host' || (m % 7) || '.example.com' ||
             CASE WHEN m % 11 = 0 THEN ':8080' ELSE '' END ||
             '/a/p~q' || (m % 5) || '/Item' || (m % 23) ||
             CASE WHEN m % 4 = 0 THEN '/x' ELSE '' END ||
             '?a=' || (m % 13) || '&b=2' AS canon
           FROM u),
         firsts AS (SELECT canon, min(doc_id) AS first_id FROM c GROUP BY canon)
         SELECT (t.doc_id = f.first_id) AS admitted,
                CAST(count(*) AS BIGINT) AS n_requests,
                CAST(min(t.doc_id) AS BIGINT) AS min_id,
                CAST(sum(t.doc_id) AS BIGINT) AS id_sum
         FROM c t JOIN firsts f USING (canon) GROUP BY 1"""),

    // Beyond-reference: HTML LINK EXTRACTION → RFC 3986 resolution →
    // canonicalization → HOST LINK GRAPH — the crawl-discovery stage
    // (q212-q214 dedup the frontier; this builds it). One stateless
    // parse per page (the same tolerant tokenizer as q205 — script-
    // string traps never leak), then resolution+canonicalization as ONE
    // codegen stage, then a (src_host, dst_host) rollup shuffling two
    // short host strings per link. The fixture plants the whole
    // reference-resolution grid (root/absolute/protocol-relative/
    // dot-segment/entity-encoded); the oracle replays every resolved
    // canonical target from the id formula.
    QuerySpec("q215_link_graph", Plain, (s, dir) => {
      val U = graft.ops.Urls
      val links = graft.ops.Html.extractLinks(
        graft.ops.Html.linkPages(t(s, dir, "documents")))
      links.select(col("doc_id"),
          U.canonicalHost(col("base_url")).as("src_host"),
          U.canonicalizeUrl(U.resolveUrl(col("base_url"), col("href")))
            .as("target"))
        .groupBy(col("src_host"),
          U.canonicalHost(col("target")).as("dst_host"))
        .agg(count(lit(1)).as("n_links"),
          count_distinct(col("target")).as("n_targets"),
          min(col("doc_id")).as("min_doc"))
        .orderBy(col("src_host"), col("dst_host"))
    },
      // every planted anchor's RESOLVED canonical target replayed from the
      // id formula — the engine must land on the same strings by actually
      // extracting hrefs and running resolution + canonicalization
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         links AS (
           SELECT doc_id, 'host' || h || '.example.com' AS src,
                  'host' || h || '.example.com' AS dsth,
                  'https://host' || h || '.example.com/' AS canon FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || h || '.example.com',
                  'https://host' || h || '.example.com/about' FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || ((doc_id + 1) % 7) || '.example.com',
                  'https://host' || ((doc_id + 1) % 7) || '.example.com/ref/'
                    || (doc_id % 23) || '?x=1' FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || ((doc_id + 2) % 7) || '.example.com',
                  'https://host' || ((doc_id + 2) % 7) || '.example.com/pp'
           FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || h || '.example.com',
                  'https://host' || h || '.example.com/d/sibling'
                    || (doc_id % 5) FROM d
           UNION ALL
           SELECT doc_id, 'host' || h || '.example.com',
                  'host' || h || '.example.com',
                  'https://host' || h || '.example.com/q?a=1&b=2' FROM d)
         SELECT src AS src_host, dsth AS dst_host,
                CAST(count(*) AS BIGINT) AS n_links,
                CAST(count(DISTINCT canon) AS BIGINT) AS n_targets,
                CAST(min(doc_id) AS BIGINT) AS min_doc
         FROM links GROUP BY 1, 2 ORDER BY src_host, dst_host"""),

    // Beyond-reference: HOST-LEVEL PAGERANK over the extracted link
    // graph — q215's edges weighted by link count, 3 damped iterations
    // (the q76 machinery over the crawl graph: which hosts does the
    // corpus point at). Host-count-sized state; the oracle unrolls the
    // same three iterations over the formula-derived edge counts.
    QuerySpec("q216_host_rank", Plain, (s, dir) => {
      val U = graft.ops.Urls
      val links = graft.ops.Html.extractLinks(
        graft.ops.Html.linkPages(t(s, dir, "documents")))
      val pairs = links.select(
          U.canonicalHost(col("base_url")).as("src"),
          U.canonicalHost(U.canonicalizeUrl(
            U.resolveUrl(col("base_url"), col("href")))).as("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      val edges = pairs.withColumn("p",
        col("n").cast("double") / sum(col("n")).over(w))
        .select(col("src"), col("dst"), col("p"))
      graft.ops.Analytics.pageRank(edges, damping = 0.85, iterations = 3)
        .select(col("node").as("host"), round(col("rank"), 6).as("rank"))
        .orderBy(col("host"))
    },
      // q215's edge counts fed through the q76 pagerank unroll (3 damped
      // iterations over link-count-weighted host transitions)
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         links AS (
           SELECT 'host' || h || '.example.com' AS src,
                  'host' || h || '.example.com' AS dsth FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || h || '.example.com' FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || ((doc_id + 1) % 7) || '.example.com' FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || ((doc_id + 2) % 7) || '.example.com'
           FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || h || '.example.com' FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com',
                  'host' || h || '.example.com' FROM d),
         ec AS (SELECT src, dsth AS dst, count(*)::DOUBLE AS cnt
                FROM links GROUP BY 1, 2),
         e AS (SELECT src, dst,
                 cnt / sum(cnt) OVER (PARTITION BY src) AS p FROM ec),
         nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
         nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
         r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes, nn),
         r1 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r2 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node)),
         r3 AS (SELECT nd.node, (0.15 / nn.n) + 0.85 * coalesce(c.i, 0.0) AS rank
                FROM nodes nd CROSS JOIN nn LEFT JOIN
                  (SELECT e.dst AS node, sum(r.rank * e.p) AS i
                   FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst) c
                  USING (node))
         SELECT node AS host, round(rank, 6) AS rank FROM r3 ORDER BY host"""),

    // Beyond-reference: ROBOTS.TXT POLICY EVALUATION (RFC 9309) — the
    // politeness gate between link discovery (q215) and fetching.
    // robots.txt is per-HOST state: policies parse ONCE on a host-count
    // dim table (group selection by longest UA prefix past a block-all
    // decoy group, longest-match precedence, * wildcards, $ anchors,
    // crawl-delay) and BROADCAST onto the URL stream; the per-URL work
    // is one codegen match call — no corpus-sized shuffle beyond the
    // per-host rollup it feeds anyway. The oracle replays every verdict
    // from the (host, doc_id) formula.
    QuerySpec("q217_robots_policy", Plain, (s, dir) =>
      graft.ops.Robots.fixturePolicyVerdicts(t(s, dir, "documents"))
        .groupBy(col("host"))
        .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("allowed"), 0L).otherwise(1L)).as("n_blocked"),
          max(col("crawl_delay")).cast("long").as("delay_s"))
        .withColumn("backlog_s", col("n_allowed") * col("delay_s"))
        .orderBy(col("host")),
      // every verdict replayed from the (host, doc_id) formula: the engine
      // must parse the decoy+real robots groups, select by UA prefix, and
      // apply longest-match (incl. the Allow-beats-/q case and the host-1
      // wildcard) to land on the same counts
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT doc_id, h AS hh, 1 AS al FROM d
           UNION ALL SELECT doc_id, h, 1 FROM d
           UNION ALL SELECT doc_id, (doc_id + 1) % 7,
             CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, (doc_id + 2) % 7, 1 FROM d
             WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 3 = 0 THEN 0
                  WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d)
         SELECT 'host' || hh || '.example.com' AS host,
                CAST(sum(al) AS BIGINT) AS n_allowed,
                CAST(sum(1 - al) AS BIGINT) AS n_blocked,
                CAST(max(1 + hh % 3) AS BIGINT) AS delay_s,
                CAST(sum(al) * max(1 + hh % 3) AS BIGINT) AS backlog_s
         FROM t GROUP BY hh ORDER BY host"""),

    // Beyond-reference: POLITENESS FETCH SCHEDULING — the stage after
    // the robots gate: per-host fetch spans ((n-1)·crawl_delay, fetches
    // serialized per host) packed onto K workers by sorted round-robin
    // (the distributed LPT approximation: global load rank via the
    // range-partitioned withGroupRank — no single-partition window at
    // any host count — then worker = (rank-1) % K). Per-worker backlog
    // report; the oracle replays the rank and assignment exactly.
    QuerySpec("q218_fetch_schedule", Plain, (s, dir) => {
      val perHost = graft.ops.Robots
        .fixturePolicyVerdicts(t(s, dir, "documents"))
        .filter(col("allowed"))
        .groupBy(col("host"), col("crawl_delay"))
        .agg(count(lit(1)).as("n_fetches"))
        .withColumn("span_s", (col("n_fetches") - 1) * col("crawl_delay"))
      graft.ops.Packing.assignWorkers(perHost, "span_s", "host", k = 4)
        .groupBy(col("worker"))
        .agg(count(lit(1)).as("n_hosts"),
          sum(col("n_fetches")).as("n_fetches"),
          sum(col("span_s")).cast("long").as("backlog_s"),
          max(col("span_s")).cast("long").as("max_span_s"))
        .orderBy(col("worker"))
    },
      // the per-host allowed counts replay q217's verdict formulas; the
      // sorted-round-robin assignment replays the exact (span DESC, host)
      // rank — a hash match proves the distributed rank ordered the same
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT doc_id, h AS hh, 1 AS al FROM d
           UNION ALL SELECT doc_id, h, 1 FROM d
           UNION ALL SELECT doc_id, (doc_id + 1) % 7,
             CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, (doc_id + 2) % 7, 1 FROM d
             WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 3 = 0 THEN 0
                  WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d),
         ph AS (SELECT hh, CAST(sum(al) AS BIGINT) AS nf, 1 + hh % 3 AS delay
                FROM t GROUP BY hh),
         sp AS (SELECT hh, nf, delay, (nf - 1) * delay AS span FROM ph),
         rk AS (SELECT *, row_number() OVER (
                  ORDER BY span DESC, 'host' || hh || '.example.com') AS r
                FROM sp)
         SELECT CAST((r - 1) % 4 AS BIGINT) AS worker,
                CAST(count(*) AS BIGINT) AS n_hosts,
                CAST(sum(nf) AS BIGINT) AS n_fetches,
                CAST(sum(span) AS BIGINT) AS backlog_s,
                CAST(max(span) AS BIGINT) AS max_span_s
         FROM rk GROUP BY 1 ORDER BY worker"""),

    // Beyond-reference: SITEMAP INGESTION (sitemaps.org protocol) — the
    // discovery channel robots.txt advertises: tolerant XML parse of
    // per-doc urlset/sitemapindex fixtures (one stateless parse per
    // file), loc canonicalization through the shared kernel, and the
    // DISCOVERY DELTA — one shuffled left-anti join of canonical sitemap
    // URLs against the q215 link frontier (both sides corpus-scale at
    // 100 TB, so no broadcast assumption) — rolled up per host with
    // lastmod/changefreq/priority mass. The oracle replays every entry
    // from the doc-id formula and recomputes the anti-join in SQL.
    QuerySpec("q219_sitemap_discovery", Plain, (s, dir) =>
      graft.ops.Sitemaps.fixtureDiscoveryReport(t(s, dir, "documents")),
      // every sitemap entry replayed from the doc-id formula; the
      // discovery delta recomputed with a SQL anti-join against the q215
      // frontier canonicals — the engine must parse the XML (incl. the
      // image:loc trap and the missing-priority default), canonicalize,
      // and land on the same per-host census
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         fr AS (SELECT DISTINCT canon FROM (
           SELECT 'https://host' || h || '.example.com/' AS canon FROM d
           UNION ALL
           SELECT 'https://host' || h || '.example.com/about' FROM d
           UNION ALL
           SELECT 'https://host' || ((doc_id + 1) % 7) || '.example.com/ref/'
             || (doc_id % 23) || '?x=1' FROM d
           UNION ALL
           SELECT 'https://host' || ((doc_id + 2) % 7) || '.example.com/pp'
           FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'https://host' || h || '.example.com/d/sibling'
             || (doc_id % 5) FROM d
           UNION ALL
           SELECT 'https://host' || h || '.example.com/q?a=1&b=2' FROM d)),
         ue AS (
           SELECT doc_id, h,
             'https://host' || h || '.example.com/ref/' || (doc_id % 23)
               || '?x=1' AS canon,
             DATE '2024-01-01' + CAST(doc_id % 365 AS INT) AS lastmod,
             CASE doc_id % 3 WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
               ELSE 'monthly' END AS cf,
             CAST(1 + doc_id % 9 AS BIGINT) AS prio
           FROM d WHERE doc_id % 5 <> 0
           UNION ALL
           SELECT doc_id, h,
             'https://host' || h || '.example.com/s/' || (doc_id % 13),
             DATE '2024-01-01' + CAST(doc_id % 30 AS INT), NULL, 5
           FROM d WHERE doc_id % 5 <> 0
           UNION ALL
           SELECT doc_id, h,
             'https://host' || h || '.example.com/about', NULL, NULL, 5
           FROM d WHERE doc_id % 5 <> 0),
         ch AS (SELECT h, 2 AS n FROM d WHERE doc_id % 5 = 0),
         newu AS (SELECT h, count(*) AS n_new FROM ue
                  WHERE canon NOT IN (SELECT canon FROM fr) GROUP BY h),
         agg AS (SELECT h, count(*) AS n_entries, max(lastmod) AS latest_lastmod,
                   sum(CASE WHEN cf = 'daily' THEN 1 ELSE 0 END) AS n_daily,
                   sum(prio) AS prio_tenths
                 FROM ue GROUP BY h),
         chn AS (SELECT h, sum(n) AS n_children FROM ch GROUP BY h)
         SELECT 'host' || h || '.example.com' AS host,
                CAST(coalesce(n_entries, 0) AS BIGINT) AS n_entries,
                CAST(coalesce(chn.n_children, 0) AS BIGINT) AS n_children,
                latest_lastmod,
                CAST(coalesce(n_daily, 0) AS BIGINT) AS n_daily,
                CAST(prio_tenths AS BIGINT) AS prio_tenths,
                CAST(coalesce(newu.n_new, 0) AS BIGINT) AS n_new
         FROM agg FULL JOIN chn USING (h) LEFT JOIN newu USING (h)
         ORDER BY host"""),

    // Beyond-reference: RECRAWL SCHEDULING — per-URL change-rate
    // estimation from the fetch history (Cho & Garcia-Molina 2003
    // bias-corrected Poisson estimator, integer-microunit quantized so
    // sums replay bit-for-bit), bucketed into a hot/warm/cold revisit
    // census per host. Two map-side-combinable hash aggregations (the
    // raw per-check log reduces to per-URL pairs, then the host
    // rollup) — no joins at any corpus size.
    QuerySpec("q220_recrawl_schedule", Plain, (s, dir) =>
      graft.ops.Crawl.recrawlReport(
        graft.ops.Crawl.fixtureFetchHistory(t(s, dir, "documents")),
        "host", "doc_id", "n", "x").orderBy(col("host")),
      // the per-URL (n, X) pairs and the bias-corrected Poisson estimate
      // replayed from the check formula — microunit floors are
      // engine-independent across the whole (n, X) input space
      """WITH d AS (SELECT doc_id, 3 + doc_id % 5 AS n FROM documents),
         chk AS (SELECT doc_id, n, unnest(range(1, n + 1)) AS k FROM d),
         hx AS (SELECT doc_id, n,
                  sum(CASE WHEN (doc_id * 31 + k * 17) % 7 < doc_id % 3 + 1
                      THEN 1 ELSE 0 END) AS x
                FROM chk GROUP BY doc_id, n),
         lam AS (SELECT doc_id,
                   'host' || (doc_id % 7) || '.example.com' AS host,
                   CAST(floor(-1e6 * ln((n - x + 0.5) / (n + 0.5)))
                     AS BIGINT) AS lm
                 FROM hx),
         rv AS (SELECT host, lm,
                  CASE WHEN lm <= 0 THEN 30
                       ELSE greatest(1, least(30, 1000000 // lm)) END AS revisit
                FROM lam)
         SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(lm) AS BIGINT) AS lambda_mass,
                CAST(sum(CASE WHEN revisit <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hot,
                CAST(sum(CASE WHEN revisit BETWEEN 3 AND 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_warm,
                CAST(sum(CASE WHEN revisit > 7 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cold,
                CAST(sum(revisit) AS BIGINT) AS revisit_budget
         FROM rv GROUP BY host ORDER BY host"""),

    // Beyond-reference: CRAWL-TRAP DETECTION — per-host URL-space vs
    // content-space explosion: canonicalize fetched URLs (synonyms
    // collapse first), then count distinct canonical URLs against
    // distinct content fingerprints; the fixture plants a calendar
    // trap on host3 (unique URL per fetch, 3 contents) that must flag
    // while every other host stays at ratio 1. Two hash aggregations,
    // shuffle key = one canonical string then one host string.
    QuerySpec("q221_trap_detection", Plain, (s, dir) =>
      graft.ops.Crawl.trapReport(
        graft.ops.Crawl.fixtureFetchLog(t(s, dir, "documents")),
        "url", "content").orderBy(col("host")),
      // distinct canonical URLs and contents replayed via symbolic keys
      // (the canonicalizer's collapse is pinned by q212; the trap's
      // uniqueness rides the doc id in the path) — host3's ratio must
      // explode and flag, every other host must sit at exactly 1e6
      """WITH d AS (SELECT doc_id, doc_id % 250 AS m FROM documents),
         lg AS (
           SELECT 'host' || (m % 7) || '.example.com' AS host,
                  'n' || m AS ckey, 'c' || m AS content FROM d
           UNION ALL
           SELECT 'host3.example.com', 't' || doc_id,
                  'trap' || (doc_id % 3) FROM d WHERE doc_id % 4 = 1)
         SELECT host, CAST(count(*) AS BIGINT) AS n_requests,
                CAST(count(DISTINCT ckey) AS BIGINT) AS n_urls,
                CAST(count(DISTINCT content) AS BIGINT) AS n_contents,
                CAST(floor(1000000.0 * count(DISTINCT ckey)
                  / count(DISTINCT content)) AS BIGINT) AS ratio_micro,
                floor(1000000.0 * count(DISTINCT ckey)
                  / count(DISTINCT content)) >= 2000000 AS trap
         FROM lg GROUP BY host ORDER BY host"""),

    // Beyond-reference: ANCHOR-TEXT AGGREGATION — the classic target-
    // side relevance signal (what the web calls the page it links to):
    // the q215 scanner additionally captures the text between each
    // outermost <a href> and its close tag (same one-pass stateless
    // parse, entity-decoded, whitespace-collapsed), rolled up per
    // canonical destination host — anchor count, distinct surface
    // forms, word mass. Shuffle = one short host string + one anchor
    // text per link; the oracle replays every (target, text) pair from
    // the id formula.
    QuerySpec("q222_anchor_text", Plain, (s, dir) => {
      val U = graft.ops.Urls
      graft.ops.Html.extractAnchors(
          graft.ops.Html.linkPages(t(s, dir, "documents")))
        .select(
          U.canonicalHost(U.canonicalizeUrl(
            U.resolveUrl(col("base_url"), col("href")))).as("dst_host"),
          trim(col("anchor_text")).as("a"))
        .groupBy(col("dst_host"))
        .agg(count(lit(1)).as("n_anchors"),
          count_distinct(col("a")).as("n_texts"),
          sum(when(length(col("a")) === 0, 0L)
            .otherwise(size(split(col("a"), "\\s+")).cast("long")))
            .as("word_mass"))
        .orderBy(col("dst_host"))
    },
      // every (destination, anchor text) pair replayed from the id
      // formula — the engine must capture the text between the real <a>
      // and </a> tags (entity-decoded, collapsed) and resolve the target
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         an AS (
           SELECT 'host' || h || '.example.com' AS dst, 'Home' AS t, 1 AS w
           FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com', 'About', 1 FROM d
           UNION ALL
           SELECT 'host' || ((doc_id + 1) % 7) || '.example.com',
                  'read more ' || (doc_id % 23), 3 FROM d
           UNION ALL
           SELECT 'host' || ((doc_id + 2) % 7) || '.example.com',
                  'partner', 1 FROM d WHERE doc_id % 2 = 0
           UNION ALL
           SELECT 'host' || h || '.example.com', 'prev', 1 FROM d
           UNION ALL
           SELECT 'host' || h || '.example.com', 'search', 1 FROM d)
         SELECT dst AS dst_host, CAST(count(*) AS BIGINT) AS n_anchors,
                CAST(count(DISTINCT t) AS BIGINT) AS n_texts,
                CAST(sum(w) AS BIGINT) AS word_mass
         FROM an GROUP BY dst ORDER BY dst_host"""),

    // Beyond-reference: STREAMING RECRAWL SCHEDULER — q220's change-rate
    // estimator maintained INCREMENTALLY over the fetch stream: each
    // arriving page is one check of its URL (url = doc_id % 50, so every
    // URL's checks span all four stream versions), per-URL state is two
    // longs (checks, changes) folded via flatMapGroupsWithState, and the
    // post-drain schedule is the SAME recrawlReport kernel over the
    // final counters. The oracle replays the batch computation — a hash
    // match IS the incremental == from-scratch proof (the q209 pattern).
    // At 100 TB: O(delta) fold per trigger, 16 bytes of state per URL,
    // vs re-scanning the whole fetch history per schedule refresh.
    QuerySpec("q223_stream_recrawl", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q223_sink"
      s.catalog.dropTempView(sink)
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val checks = src.select(
          pmod(col("doc_id").cast("long"), lit(50L)).as("url"),
          (pmod(col("doc_id").cast("long") * 13, lit(7L)) <
            pmod(pmod(col("doc_id").cast("long"), lit(50L)), lit(3L)) + 1)
            .as("changed"))
        .as[(Long, Boolean)]
      val snapshots = checks.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          case (url, rows, state) =>
            var (n, x) = state.getOption.getOrElse((0L, 0L))
            rows.foreach { case (_, ch) => n += 1; if (ch) x += 1 }
            state.update((n, x))
            Iterator.single((url, n, x))
        }.toDF("url", "n", "x")
      val q = snapshots.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      // counters are monotone: the final per-URL state is the snapshot
      // with the largest n (append-mode legal — no "last row wins")
      val finalState = s.table(sink).groupBy(col("url"))
        .agg(max(struct(col("n"), col("x"))).as("st"))
        .select(col("url"), col("st.n").as("n"), col("st.x").as("x"))
        .withColumn("host",
          concat(lit("host"), pmod(col("url"), lit(7L)), lit(".example.com")))
      graft.ops.Crawl.recrawlReport(finalState, "host", "url", "n", "x")
        .orderBy(col("host"))
    },
      // the BATCH replay of the streamed fold — per-URL (n, X) from the
      // whole corpus at once, then the same estimator and rollup; a hash
      // match proves the incremental state fold == from-scratch
      """WITH d AS (SELECT doc_id, doc_id % 50 AS u FROM documents),
         hx AS (SELECT u, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN (doc_id * 13) % 7 < (u % 3) + 1
                      THEN 1 ELSE 0 END) AS BIGINT) AS x
                FROM d GROUP BY u),
         lam AS (SELECT u, 'host' || (u % 7) || '.example.com' AS host,
                   CAST(floor(-1e6 * ln((n - x + 0.5) / (n + 0.5)))
                     AS BIGINT) AS lm
                 FROM hx),
         rv AS (SELECT host, lm,
                  CASE WHEN lm <= 0 THEN 30
                       ELSE greatest(1, least(30, 1000000 // lm)) END AS revisit
                FROM lam)
         SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
                CAST(sum(lm) AS BIGINT) AS lambda_mass,
                CAST(sum(CASE WHEN revisit <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hot,
                CAST(sum(CASE WHEN revisit BETWEEN 3 AND 7 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_warm,
                CAST(sum(CASE WHEN revisit > 7 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_cold,
                CAST(sum(revisit) AS BIGINT) AS revisit_budget
         FROM rv GROUP BY host ORDER BY host"""),

    // Beyond-reference: REGISTRABLE-DOMAIN EXTRACTION — the
    // publicsuffix.org algorithm (normal/wildcard/exception rules over
    // an embedded list subset) as a codegen kernel: crawl budgets and
    // link rollups want eTLD+1 granularity, where a.blog.co.uk and
    // b.blog.co.uk are ONE site but x.github.io and y.github.io are
    // two. Per-suffix census over a host fixture exercising every rule
    // class; row-local kernel, one short-string rollup shuffle.
    QuerySpec("q224_registrable_domain", Plain, (s, dir) => {
      val U = graft.ops.Urls
      U.fixtureHosts(t(s, dir, "documents"))
        .select(lower(col("host")).as("h"),
          U.publicSuffix(col("host")).as("public_suffix"),
          U.registrableDomain(col("host")).as("reg"))
        .groupBy(col("public_suffix"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("h")).as("n_hosts"),
          count_distinct(col("reg")).as("n_domains"))
        .orderBy(col("public_suffix"))
    },
      // suffix/registrable pairs replayed from the host formula — the
      // engine must run the real PSL matcher (longest rule, wildcard,
      // exception-wins, implicit-* fallback) over the messy-cased hosts
      """WITH d AS (SELECT doc_id FROM documents),
         h AS (SELECT
           CASE doc_id % 6
             WHEN 0 THEN 'co.uk' WHEN 1 THEN 'com' WHEN 2 THEN 'github.io'
             WHEN 3 THEN 'y' || (doc_id % 4) || '.ck' WHEN 4 THEN 'ck'
             ELSE 'lan' END AS suffix,
           CASE doc_id % 6
             WHEN 0 THEN 'a' || (doc_id % 5) || '.blog' || (doc_id % 9)
               || '.co.uk'
             WHEN 1 THEN 'www.site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'cdn.u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'a.x' || (doc_id % 3) || '.y' || (doc_id % 4)
               || '.ck'
             WHEN 4 THEN 'b' || (doc_id % 2) || '.www.ck'
             ELSE 'internal.corp' || (doc_id % 2) || '.lan' END AS host,
           CASE doc_id % 6
             WHEN 0 THEN 'blog' || (doc_id % 9) || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'x' || (doc_id % 3) || '.y' || (doc_id % 4) || '.ck'
             WHEN 4 THEN 'www.ck'
             ELSE 'corp' || (doc_id % 2) || '.lan' END AS reg
           FROM d)
         SELECT suffix AS public_suffix, CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
                CAST(count(DISTINCT reg) AS BIGINT) AS n_domains
         FROM h GROUP BY 1 ORDER BY 1"""),

    // Beyond-reference: WARC RECORD PARSING (ISO 28500) — the container
    // every large crawl ships in: byte-walking record framing
    // (Content-Length counts OCTETS — the fixture plants a two-byte é
    // so a char-counting reader desynchronizes and LOSES the following
    // request record), case-insensitive header fields, HTTP payload
    // status/body split, unframeable records skipped by magic scan.
    // One stateless parse per file (the codec-boundary pattern), then
    // a per-host census. The oracle replays every record from the
    // doc-id formula — responses, requests, 404s, body octets,
    // distinct URIs, latest capture instant.
    QuerySpec("q225_warc_census", Plain, (s, dir) =>
      graft.ops.Warc.fixtureCensus(t(s, dir, "documents")),
      // every WARC record replayed from the doc-id formula: body octets
      // include the planted 2-byte é, request counts vanish if framing
      // counts chars, and the capture instant replays via strftime
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         resp AS (SELECT doc_id, h,
                    CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS status,
                    50 + doc_id % 101
                      + CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 0 END AS body,
                    doc_id % 97 AS u,
                    strftime(TIMESTAMP '2024-01-01 00:00:00'
                      + to_seconds(doc_id % 86400),
                      '%Y-%m-%dT%H:%M:%SZ') AS dt
                  FROM d)
         SELECT 'host' || h || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_responses,
                CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_requests,
                CAST(sum(CASE WHEN status = 404 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_404,
                CAST(sum(body) AS BIGINT) AS body_bytes,
                CAST(count(DISTINCT u) AS BIGINT) AS n_uris,
                max(dt) AS latest_date
         FROM resp GROUP BY h ORDER BY host"""),

    // Beyond-reference: FETCH TRIAGE — content-type + charset sniffing
    // over raw fetched bytes (the WHATWG recipe's stable core): binary
    // magic (gzip/pdf/png) before BOMs before the ASCII-level <meta
    // charset> scan before a strict UTF-8 validity scan with the
    // windows-1252 web fallback; decode with the verdict and classify
    // html vs text. One stateless sniff per doc at the codec boundary;
    // the census shuffles two short verdict strings. The oracle
    // replays every verdict and decoded char count from the variant
    // formula.
    QuerySpec("q226_fetch_triage", Plain, (s, dir) =>
      graft.ops.Sniff.fixtureCensus(t(s, dir, "documents")),
      // verdicts and decoded char counts replayed from the variant
      // formula — the engine must actually sniff magic/BOM/meta/UTF-8
      // validity and decode with the winning charset
      """WITH d AS (SELECT doc_id FROM documents),
         v AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'html' WHEN 1 THEN 'html' WHEN 2 THEN 'html'
             WHEN 3 THEN 'text' WHEN 4 THEN 'gzip' ELSE 'text' END AS kind,
           CASE doc_id % 6
             WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le'
             WHEN 2 THEN 'iso-8859-1' WHEN 3 THEN 'utf-8'
             WHEN 4 THEN '' ELSE 'windows-1252' END AS charset,
           CASE doc_id % 6
             WHEN 0 THEN length('<html><head></head><body>plain é '
               || (doc_id % 13) || '</body></html>')
             WHEN 1 THEN length('<html><body>doc ' || (doc_id % 11)
               || '</body></html>')
             WHEN 2 THEN length('<html><head><meta charset="iso-8859-1">'
               || '</head><body>café ' || (doc_id % 9) || '</body></html>')
             WHEN 3 THEN length('plain text doc ' || (doc_id % 7))
             WHEN 4 THEN 0
             ELSE length('café special ' || (doc_id % 5)) END AS n
           FROM d)
         SELECT kind, charset, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n) AS BIGINT) AS chars
         FROM v GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Beyond-reference: CONTENT-TYPE AUDIT — the q225 WARC walk and the
    // q226 sniffer COMPOSED: response bodies are sliced byte-exact out
    // of the container, sniffed, and the DECLARED Content-Type header
    // is cross-tabbed against the sniffed kind — a server claiming
    // text/html for gzip bytes is the classic pathology this audit
    // catches before the decode stage wastes work on it. One stateless
    // parse+sniff per record; the census shuffles two short verdict
    // strings. The oracle replays the joint (d%4 declared, d%6 body)
    // distribution.
    QuerySpec("q227_content_type_audit", Plain, (s, dir) => {
      import s.implicits._
      val resp = graft.ops.Warc.parseResponseBodies(
        graft.ops.Warc.fixtureTriageWarcs(t(s, dir, "documents")),
        "doc_id", "warc")
      resp.select(col("content_type"), col("body"))
        .as[(String, Array[Byte])]
        .mapPartitions(_.map { case (ct, b) =>
          (ct, graft.ops.Sniff.sniff(b)._1)
        }).toDF("declared", "sniffed")
        .groupBy(col("declared"), col("sniffed"))
        .agg(count(lit(1)).as("n_records"))
        .withColumn("mismatch",
          when(col("declared") === "text/html", col("sniffed") =!= "html")
            .otherwise(col("sniffed") === "html"))
        .orderBy(col("declared"), col("sniffed"))
    },
      // the joint (declared, sniffed) distribution replayed from the two
      // id formulas — the engine must slice real bodies out of the WARC
      // frames, read the real Content-Type header, and sniff the bytes
      """WITH d AS (SELECT doc_id FROM documents),
         v AS (SELECT doc_id,
           CASE WHEN doc_id % 4 = 0 THEN 'application/octet-stream'
                ELSE 'text/html' END AS declared,
           CASE doc_id % 6
             WHEN 0 THEN 'html' WHEN 1 THEN 'html' WHEN 2 THEN 'html'
             WHEN 3 THEN 'text' WHEN 4 THEN 'gzip' ELSE 'text' END AS kind
           FROM d)
         SELECT declared, kind AS sniffed,
                CAST(count(*) AS BIGINT) AS n_records,
                CASE WHEN declared = 'text/html' THEN kind <> 'html'
                     ELSE kind = 'html' END AS mismatch
         FROM v GROUP BY 1, 2 ORDER BY 1, 2"""),

    // Beyond-reference: DOMAIN-GRANULAR CRAWL BUDGET — the q213 budget
    // rollup at eTLD+1 instead of host: fetch requests over the PSL
    // host fixture canonicalize (kernel), group by REGISTRABLE DOMAIN
    // (kernel), and report the request/URL/host census a crawler
    // allocates per-site budgets from — a.blog.co.uk and b.blog.co.uk
    // share one budget while u1.github.io and u2.github.io do not.
    // Row-local kernels + one rollup; the oracle replays every domain
    // from the host formula.
    QuerySpec("q228_domain_budget", Plain, (s, dir) => {
      val U = graft.ops.Urls
      val reqs = U.fixtureHosts(t(s, dir, "documents"))
        .select(U.canonicalizeUrl(concat(lit("https://"), col("host"),
          lit("/p/"), pmod(col("doc_id").cast("long"), lit(31L)))).as("c"))
      reqs.select(U.registrableDomain(U.canonicalHost(col("c"))).as("domain"),
          U.canonicalHost(col("c")).as("h"), col("c"))
        .groupBy(col("domain"))
        .agg(count(lit(1)).as("n_requests"),
          count_distinct(col("c")).as("n_urls"),
          count_distinct(col("h")).as("n_hosts"))
        .orderBy(col("domain"))
    },
      // every registrable domain replayed from the host formula — the
      // engine must canonicalize (www-strip, lowercase) and run the real
      // PSL matcher; symbolic host/url keys replay the distinct counts
      """WITH d AS (SELECT doc_id FROM documents),
         h AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'blog' || (doc_id % 9) || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'x' || (doc_id % 3) || '.y' || (doc_id % 4) || '.ck'
             WHEN 4 THEN 'www.ck'
             ELSE 'corp' || (doc_id % 2) || '.lan' END AS domain,
           CASE doc_id % 6
             WHEN 0 THEN 'a' || (doc_id % 5) || '.blog' || (doc_id % 9)
               || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'cdn.u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'a.x' || (doc_id % 3) || '.y' || (doc_id % 4)
               || '.ck'
             WHEN 4 THEN 'b' || (doc_id % 2) || '.www.ck'
             ELSE 'internal.corp' || (doc_id % 2) || '.lan' END AS hk
           FROM d)
         SELECT domain, CAST(count(*) AS BIGINT) AS n_requests,
                CAST(count(DISTINCT hk || '/' || (doc_id % 31)) AS BIGINT)
                  AS n_urls,
                CAST(count(DISTINCT hk) AS BIGINT) AS n_hosts
         FROM h GROUP BY 1 ORDER BY 1"""),

    // Beyond-reference: BUDGET-CAPPED STREAMING FRONTIER ADMISSION —
    // q214's first-arrival admission with q228's domain granularity and
    // a HARD BUDGET: URLs stream in, canonicalize, and each registrable
    // domain admits at most K=5 distinct canonical URLs (first-arrival
    // order); duplicates of ADMITTED urls report as dups, everything
    // else is over-budget. Per-domain state is BOUNDED BY THE BUDGET
    // (the admitted set alone, <= K strings) — unlike plain
    // first-arrival dedup whose state grows with distinct keys, the cap
    // makes state O(domains x K) at any corpus size. Version order =
    // doc order in the fixture, so the oracle replays admission as a
    // first-occurrence rank within each domain.
    QuerySpec("q229_stream_domain_admission", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q229_sink"
      s.catalog.dropTempView(sink)
      val U = graft.ops.Urls
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val canon = graft.ops.Urls.canonicalizeUrl(concat(lit("https://"),
        U.fixtureHostCol(col("doc_id").cast("long")), lit("/p/"),
        pmod(col("doc_id").cast("long"), lit(31L))))
      val reqs = src.select(
          U.registrableDomain(U.canonicalHost(canon)).as("domain"),
          canon.as("url"), col("doc_id").cast("long").as("doc_id"))
        .as[(String, String, Long)]
      val verdicts = reqs.groupByKey(_._1)
        .flatMapGroupsWithState[Set[String], (String, String)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(
          graft.ops.Incremental.budgetAdmit(budget = 5))
        .toDF("domain", "verdict")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("domain"))
        .agg(count(when(col("verdict") === "admitted", 1)).as("n_admitted"),
          count(when(col("verdict") === "duplicate", 1)).as("n_dup"),
          count(when(col("verdict") === "over_budget", 1)).as("n_rejected"))
        .orderBy(col("domain"))
    },
      """WITH d AS (SELECT doc_id FROM documents),
         h AS (SELECT doc_id,
           CASE doc_id % 6
             WHEN 0 THEN 'blog' || (doc_id % 9) || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'x' || (doc_id % 3) || '.y' || (doc_id % 4) || '.ck'
             WHEN 4 THEN 'www.ck'
             ELSE 'corp' || (doc_id % 2) || '.lan' END AS domain,
           (CASE doc_id % 6
             WHEN 0 THEN 'a' || (doc_id % 5) || '.blog' || (doc_id % 9)
               || '.co.uk'
             WHEN 1 THEN 'site' || (doc_id % 11) || '.com'
             WHEN 2 THEN 'cdn.u' || (doc_id % 7) || '.github.io'
             WHEN 3 THEN 'a.x' || (doc_id % 3) || '.y' || (doc_id % 4)
               || '.ck'
             WHEN 4 THEN 'b' || (doc_id % 2) || '.www.ck'
             ELSE 'internal.corp' || (doc_id % 2) || '.lan' END)
             || '/' || (doc_id % 31) AS uk
           FROM d),
         u AS (SELECT domain, uk, min(doc_id) AS fd, count(*) AS cnt
               FROM h GROUP BY 1, 2),
         r AS (SELECT domain, cnt, row_number() OVER (
                 PARTITION BY domain ORDER BY fd) AS rk FROM u)
         SELECT domain,
                CAST(sum(CASE WHEN rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_admitted,
                CAST(sum(CASE WHEN rk <= 5 THEN cnt - 1 ELSE 0 END)
                  AS BIGINT) AS n_dup,
                CAST(sum(CASE WHEN rk > 5 THEN cnt ELSE 0 END) AS BIGINT)
                  AS n_rejected
         FROM r GROUP BY domain ORDER BY domain"""),

    // Beyond-reference: GZIP-MEMBER WARC FRAMING — the `warc.gz` layout
    // real Common Crawl shards ship in: one gzip member PER RECORD,
    // members concatenated. The engine detects the 1f 8b magic,
    // inflates member-by-member (JDK member walk; truncated/corrupt
    // tails keep the inflated prefix — tolerant-crawler posture), and
    // runs the IDENTICAL q225 census over the inflated bytes — the
    // oracle is q225's verbatim, so the inflation layer is hash-pinned
    // end to end. Still one stateless walk per file at the codec
    // boundary; compression adds zero shuffles.
    QuerySpec("q230_warc_gz_census", Plain, (s, dir) =>
      graft.ops.Warc.fixtureGzCensus(t(s, dir, "documents")),
      // q225's oracle VERBATIM — the gzip twin must land on byte-identical
      // census rows after inflating the per-record members
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         resp AS (SELECT doc_id, h,
                    CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS status,
                    50 + doc_id % 101
                      + CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 0 END AS body,
                    doc_id % 97 AS u,
                    strftime(TIMESTAMP '2024-01-01 00:00:00'
                      + to_seconds(doc_id % 86400),
                      '%Y-%m-%dT%H:%M:%SZ') AS dt
                  FROM d)
         SELECT 'host' || h || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_responses,
                CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_requests,
                CAST(sum(CASE WHEN status = 404 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_404,
                CAST(sum(body) AS BIGINT) AS body_bytes,
                CAST(count(DISTINCT u) AS BIGINT) AS n_uris,
                max(dt) AS latest_date
         FROM resp GROUP BY h ORDER BY host"""),

    // Beyond-reference: TTL'd BUDGET-CAPPED DOMAIN ADMISSION — q229's
    // admission with the knob an ENDLESS crawl needs: per-domain state
    // evicted after `ttl` of event-time idleness (the q185
    // EventTimeTimeout pattern applied to the admission family). The
    // rule is SESSION-scoped — a domain admits at most K=5 distinct
    // urls per session, a session ending when the domain idles past
    // the TTL; an in-band gap check makes eviction semantically free,
    // so state is bounded by domains ACTIVE within one TTL window
    // (× K strings), not lifetime domain cardinality — the posture
    // q229's NoTimeout cannot offer on an unbounded domain stream.
    // After a reset a previously-admitted URL re-admits: per-domain
    // n_admitted exceeding K is the visible proof. The oracle replays
    // every verdict via lag-gap sessionization + first-arrival ranks.
    QuerySpec("q231_stream_admission_ttl", Streaming, (s, dir) => {
      import s.implicits._
      graft.log.SharedFixtures.ensure(s, dir)
      val path = graft.log.GraftCatalog.location(
        s"${graft.log.SharedFixtures.SHARE}.documents_versioned")
      val sink = "graft_q231_sink"
      s.catalog.dropTempView(sink)
      val ttlMs = 100000L
      val src = s.readStream.format("graft").option("path", path)
        .option("startingVersion", "0")
        .option("maxFilesPerTrigger", "1").load()
      val d = col("doc_id").cast("long")
      val reqs = src.select(
          // domain active in 40-doc blocks, idle 160 s between blocks —
          // longer than the 100 s TTL, so every block is a new session
          concat(lit("d"), pmod(floor(d / lit(40.0)).cast("long"), lit(5L)),
            lit(".example.com")).as("domain"),
          concat(lit("/p/"), pmod(d, lit(17L))).as("url"),
          d.as("doc_id"),
          // +1 day base: epoch-0 event time would be dropped as late
          // against the INITIAL watermark (0) — the q185 convention
          timestamp_millis(d * 1000L + 86400000L).as("ts"))
        .withWatermark("ts", s"${ttlMs / 1000} seconds")
        .as[(String, String, Long, java.sql.Timestamp)]
      val verdicts = reqs.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Set[String]), (String, String)](
          org.apache.spark.sql.streaming.OutputMode.Append(),
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout())(
          graft.ops.Incremental.ttlBudgetAdmit(ttlMs, budget = 5))
        .toDF("domain", "verdict")
      val q = verdicts.writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      drain(q)
      s.table(sink).groupBy(col("domain"))
        .agg(count(when(col("verdict") === "admitted", 1)).as("n_admitted"),
          count(when(col("verdict") === "duplicate", 1)).as("n_dup"),
          count(when(col("verdict") === "over_budget", 1)).as("n_rejected"))
        .orderBy(col("domain"))
    },
      // every verdict replayed by SESSIONIZING each domain's arrivals
      // (lag gap > TTL starts a session), then ranking urls by first
      // arrival within the session: rank <= K at first occurrence =
      // admitted, repeats = duplicate, rank > K = over_budget — the
      // hash match proves the streaming session-budget fold equals the
      // from-scratch sessionized replay, re-admissions included
      """WITH d AS (SELECT doc_id FROM documents),
         a AS (SELECT doc_id,
                 'd' || ((doc_id // 40) % 5) || '.example.com' AS domain,
                 '/p/' || (doc_id % 17) AS url
               FROM d),
         lg AS (SELECT *, lag(doc_id) OVER (
                  PARTITION BY domain ORDER BY doc_id) AS pt FROM a),
         ses AS (SELECT *, sum(CASE WHEN pt IS NULL OR doc_id - pt > 100
                    THEN 1 ELSE 0 END)
                  OVER (PARTITION BY domain ORDER BY doc_id) AS sid FROM lg),
         fo AS (SELECT *, row_number() OVER (
                  PARTITION BY domain, sid, url ORDER BY doc_id) AS rn
                FROM ses),
         rk AS (SELECT domain, sid, url, row_number() OVER (
                  PARTITION BY domain, sid ORDER BY min(doc_id)) AS ur
                FROM ses GROUP BY domain, sid, url),
         v AS (SELECT fo.domain,
                 CASE WHEN rk.ur > 5 THEN 'over_budget'
                      WHEN fo.rn = 1 THEN 'admitted'
                      ELSE 'duplicate' END AS verdict
               FROM fo JOIN rk ON fo.domain = rk.domain
                 AND fo.sid = rk.sid AND fo.url = rk.url)
         SELECT domain,
                CAST(sum(CASE WHEN verdict = 'admitted' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_admitted,
                CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dup,
                CAST(sum(CASE WHEN verdict = 'over_budget' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rejected
         FROM v GROUP BY domain ORDER BY domain"""),

    // Beyond-reference: REDIRECT-CHAIN RESOLUTION — the frontier-hygiene
    // stage the canonical-URL dedup can't cover: HTTP 3xx chains folded
    // onto their landing URL by POINTER DOUBLING over the url-space
    // redirect map (the CC machinery's shape: O(log maxHops) self-joins
    // of the map, never of the fetch log, which joins the settled map
    // once). Hop cap 8; cycles and over-cap chains report unresolved —
    // the bounded-follow policy production crawlers apply. The fixture
    // plants chains of length 0-3, a 3-cycle, and a tail INTO the
    // cycle; the oracle replays the walk with a hop-capped recursive
    // CTE and must land on identical per-host resolution censuses.
    QuerySpec("q232_redirect_chains", Plain, (s, dir) =>
      graft.ops.Crawl.fixtureRedirectReport(t(s, dir, "documents")),
      // the redirect walk replayed with a hop-capped RECURSIVE CTE over
      // the formula edges: a url resolves iff its walk reaches a node
      // with no outgoing edge within 8 hops (the 3-cycle and its tail
      // never do); hops and landing urls must match the pointer-doubled
      // resolution exactly
      """WITH RECURSIVE d AS (SELECT doc_id, doc_id % 60 AS u FROM documents),
         urls AS (SELECT DISTINCT u FROM d),
         e AS (SELECT u AS src,
                 CASE WHEN u // 6 = 9 THEN
                        CASE WHEN u IN (54, 55) THEN u + 1
                             WHEN u IN (56, 57) THEN 54 END
                      WHEN u % 6 < (u // 6) % 4 THEN u + 1 END AS dst
               FROM urls),
         edges AS (SELECT src, dst FROM e WHERE dst IS NOT NULL),
         walk(u, cur, hops) AS (
           SELECT u, u, 0 FROM urls
           UNION ALL
           SELECT w.u, x.dst, w.hops + 1
           FROM walk w JOIN edges x ON x.src = w.cur
           WHERE w.hops < 8),
         term AS (SELECT w.u, w.cur AS fin, w.hops FROM walk w
                  WHERE NOT EXISTS (
                    SELECT 1 FROM edges x WHERE x.src = w.cur)),
         res AS (SELECT urls.u, t.fin, t.hops
                 FROM urls LEFT JOIN term t ON urls.u = t.u)
         SELECT 'host' || (d.u % 7) || '.example.com' AS host,
                CAST(count(*) AS BIGINT) AS n_fetches,
                CAST(count(r.fin) AS BIGINT) AS n_resolved,
                CAST(sum(CASE WHEN r.fin IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_unresolved,
                CAST(sum(coalesce(r.hops, 0)) AS BIGINT) AS hop_mass,
                CAST(count(DISTINCT r.fin) AS BIGINT) AS n_final_urls
         FROM d JOIN res r ON d.u = r.u
         GROUP BY d.u % 7 ORDER BY host"""),

    // Beyond-reference: rel=CANONICAL FOLDING — the OTHER half of crawl
    // identity hygiene (q232 folds 3xx chains; this folds the
    // duplicate-content identities pages DECLARE): the one-pass HTML
    // scanner additionally captures <link rel="canonical"> (rel is a
    // WHATWG token list, matched case-insensitively; a stylesheet decoy
    // and script/comment bodies must not leak), the target runs through
    // the canonicalizer kernel (case/port/tracking noise planted), and
    // mirror assets fold onto their original's identity — composed with
    // the q207 mirror corpus: mirrors WITH a canonical link collapse
    // onto the original URL, mirrors without keep their own. One
    // stateless parse per page + one rollup; the oracle replays every
    // identity from the asset-id formula.
    QuerySpec("q233_canonical_fold", Plain, (s, dir) => {
      import s.implicits._
      val pages = graft.ops.Html.pagesWithMirrors(t(s, dir, "documents"))
      val parsed = pages.select(col("doc_id").cast("long").as("asset_id"),
          col("html"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (a, html) =>
          (a, graft.ops.Html.canonicalLinkOf(html).orNull)
        }).toDF("asset_id", "canon_href")
      val id = col("asset_id")
      val docId = floor(id / lit(2.0)).cast("long")
      val ownUrl = when(pmod(id, lit(2L)) === 0,
          concat(lit("https://host"), pmod(docId, lit(7L)),
            lit(".example.com/a/"), docId))
        .otherwise(concat(lit("https://m"), pmod(docId, lit(5L)),
          lit(".mirror.net/x/"), docId))
      val identity = coalesce(
        graft.ops.Urls.canonicalizeUrl(col("canon_href")), ownUrl)
      parsed.select(identity.as("identity"),
          col("canon_href").isNotNull.as("via_canonical"))
        .groupBy(graft.ops.Urls.canonicalHost(col("identity")).as("host"))
        .agg(count(lit(1)).as("n_assets"),
          sum(when(col("via_canonical"), 1L).otherwise(0L))
            .as("n_via_canonical"),
          count_distinct(col("identity")).as("n_identities"))
        .withColumn("n_folded", col("n_assets") - col("n_identities"))
        .orderBy(col("host"))
    },
      // every identity replayed from the asset-id formula: originals keep
      // their own url, even-id mirrors fold onto the original's canonical
      // url (the engine must strip the planted case/port/tracking noise),
      // odd-id mirrors keep their mirror.net identity
      """WITH d AS (SELECT doc_id FROM documents),
         a AS (
           SELECT 'host' || (doc_id % 7) || '.example.com' AS host,
                  'https://host' || (doc_id % 7) || '.example.com/a/'
                    || doc_id AS identity,
                  0 AS vc
           FROM d
           UNION ALL
           SELECT 'host' || (doc_id % 7) || '.example.com',
                  'https://host' || (doc_id % 7) || '.example.com/a/'
                    || doc_id,
                  1
           FROM d WHERE doc_id % 14 = 0
           UNION ALL
           SELECT 'm' || (doc_id % 5) || '.mirror.net',
                  'https://m' || (doc_id % 5) || '.mirror.net/x/' || doc_id,
                  0
           FROM d WHERE doc_id % 14 = 7)
         SELECT host, CAST(count(*) AS BIGINT) AS n_assets,
                CAST(sum(vc) AS BIGINT) AS n_via_canonical,
                CAST(count(DISTINCT identity) AS BIGINT) AS n_identities,
                CAST(count(*) - count(DISTINCT identity) AS BIGINT)
                  AS n_folded
         FROM a GROUP BY host ORDER BY host"""),

    // Beyond-reference: END-TO-END CRAWL PIPELINE (the q51 curation-
    // pipeline pattern applied to the whole crawl pass): discovery
    // (link extraction → resolve → canonicalize) → frontier dedup →
    // robots gate (size-gated policy join) → per-host budget (rank
    // window, partitioned BY HOST — never a global sort) → fetch triage
    // (real sniff over page bytes) → boilerplate extraction → content
    // dedup (hash fold, mirrors collapse). One funnel row per stage
    // pins every cross-operator schema contract; a regression in ANY
    // stage moves a census number. Only per-stage AGGREGATES reach the
    // driver (7 constant-size rows — the stages themselves are
    // distributed); the oracle replays every count from the generator
    // formulas (the q215/q217 verdict grid + the q207 content
    // reconstruction).
    QuerySpec("q234_crawl_pipeline", Plain, (s, dir) => {
      import s.implicits._
      val U = graft.ops.Urls
      val R = graft.ops.Robots
      val docs = t(s, dir, "documents")
      // URL half: discovered anchors → distinct frontier → robots →
      // per-host budget K=4
      val links = graft.ops.Html.extractLinks(graft.ops.Html.linkPages(docs))
        .select(U.canonicalizeUrl(
          U.resolveUrl(col("base_url"), col("href"))).as("url"))
        .withColumn("host", U.canonicalHost(col("url")))
      val r0 = links.agg(count(lit(1)), count_distinct(col("url"))).head()
      val frontier = links.select(col("host"), col("url")).distinct()
      val r1 = frontier.agg(count(lit(1)), count_distinct(col("host"))).head()
      val gated = R.policyVerdicts(
        frontier.withColumn("path", R.canonicalPath(col("url"))),
        R.compilePolicies(R.fixturePolicyDim(s), "host", "txt",
          "graftcrawler/1.0"))
      val allowed = gated.filter(col("allowed")).select(col("host"), col("url"))
      val r2 = allowed.agg(count(lit(1)), count_distinct(col("host"))).head()
      val budgeted = allowed.withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("host"))
            .orderBy(col("url"))))
        .filter(col("rk") <= 4)
      val r3 = budgeted.agg(count(lit(1)), count_distinct(col("host"))).head()
      // content half: fetched pages (docs + mirrors) → sniff → extract →
      // hash dedup
      val sniffed = graft.ops.Html.pagesWithMirrors(docs)
        .select(col("doc_id").cast("long"), col("lang"), col("html"))
        .as[(Long, String, String)]
        .mapPartitions(_.map { case (a, lang, html) =>
          val (kind, charset, _) = graft.ops.Sniff.sniff(
            html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (a, lang, html, kind, charset)
        }).toDF("doc_id", "lang", "html", "kind", "charset")
      val htmlPages = sniffed.filter(col("kind") === "html")
      val r4 = htmlPages.agg(count(lit(1)),
        count_distinct(concat_ws("/", col("kind"), col("charset")))).head()
      val ex = graft.ops.Materialize.pin(graft.ops.Html.extractPages(htmlPages)
        .filter(col("content_words") > 0))
      val r5 = ex.agg(count(lit(1)), sum(col("content_words"))).head()
      val grp = ex.groupBy(sha2(col("content"), 256).as("ck"))
        .agg(count(lit(1)).as("n"))
      val r6 = grp.agg(count(lit(1)), sum(col("n") - 1)).head()
      Seq(
        (0L, "discovered", r0.getLong(0), r0.getLong(1)),
        (1L, "frontier", r1.getLong(0), r1.getLong(1)),
        (2L, "allowed", r2.getLong(0), r2.getLong(1)),
        (3L, "budgeted", r3.getLong(0), r3.getLong(1)),
        (4L, "fetched", r4.getLong(0), r4.getLong(1)),
        (5L, "extracted", r5.getLong(0), r5.getLong(1)),
        (6L, "deduped", r6.getLong(0), r6.getLong(1)))
        .toDF("stage_idx", "stage", "n_items", "n_units")
    },
      // batch replay of the budget-capped admission: first-occurrence
      // rank within each domain (version order = doc order) decides
      // admit/dup/reject — a hash match proves the streamed bounded-state
      // fold made exactly the same decisions
      // the whole funnel replayed stage by stage: the q215 anchor grid +
      // q217 verdict formulas for the URL half, a rank window for the
      // budget, the q207 content reconstruction for the extract/dedup
      // half; 'fetched' counts docs + mirrors with the constant
      // (html, utf-8) sniff verdict the engine must actually land on
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT h AS hh,
                  'https://host' || h || '.example.com/' AS u, 1 AS al FROM d
           UNION ALL SELECT h,
                  'https://host' || h || '.example.com/about', 1 FROM d
           UNION ALL SELECT (doc_id + 1) % 7,
                  'https://host' || ((doc_id + 1) % 7) || '.example.com/ref/'
                    || (doc_id % 23) || '?x=1',
                  CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END
                  FROM d
           UNION ALL SELECT (doc_id + 2) % 7,
                  'https://host' || ((doc_id + 2) % 7) || '.example.com/pp',
                  1 FROM d WHERE doc_id % 2 = 0
           UNION ALL SELECT h,
                  'https://host' || h || '.example.com/d/sibling'
                    || (doc_id % 5),
                  CASE WHEN h % 3 = 0 THEN 0
                       WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT h,
                  'https://host' || h || '.example.com/q?a=1&b=2',
                  CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d),
         fr AS (SELECT hh, u, max(al) AS al FROM t GROUP BY hh, u),
         alw AS (SELECT hh, u FROM fr WHERE al = 1),
         bud AS (SELECT hh, u, row_number() OVER (
                   PARTITION BY hh ORDER BY u) AS rk FROM alw),
         w AS (SELECT doc_id,
                 list_filter(string_split_regex(text, '\s+'), x -> x <> '')
                   AS ws
               FROM documents),
         pars AS (SELECT doc_id, ws,
                    unnest(range(CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS p
                  FROM w),
         par AS (SELECT doc_id, p,
                   array_to_string(list_slice(ws, CAST(8 * p + 1 AS INT),
                     CAST(least(8 * p + 8, len(ws)) AS INT)), ' ') AS txt,
                   least(8, len(ws) - 8 * p) AS sz
                 FROM pars),
         cw AS (SELECT doc_id, string_agg(txt, chr(10) ORDER BY p) AS c,
                  CAST(sum(sz) AS BIGINT) AS words
                FROM par WHERE sz >= 5 AND p % 5 <> 4 GROUP BY doc_id),
         assets AS (SELECT 2 * doc_id AS asset_id, c, words FROM cw
                    UNION ALL
                    SELECT 2 * doc_id + 1, c, words FROM cw
                    WHERE doc_id % 7 = 0),
         grp AS (SELECT c, count(*) AS n FROM assets GROUP BY c)
         SELECT CAST(0 AS BIGINT) AS stage_idx, 'discovered' AS stage,
                CAST((SELECT count(*) FROM t) AS BIGINT) AS n_items,
                CAST((SELECT count(DISTINCT u) FROM t) AS BIGINT) AS n_units
         UNION ALL SELECT 1, 'frontier',
                CAST((SELECT count(*) FROM fr) AS BIGINT),
                CAST((SELECT count(DISTINCT hh) FROM fr) AS BIGINT)
         UNION ALL SELECT 2, 'allowed',
                CAST((SELECT count(*) FROM alw) AS BIGINT),
                CAST((SELECT count(DISTINCT hh) FROM alw) AS BIGINT)
         UNION ALL SELECT 3, 'budgeted',
                CAST((SELECT count(*) FROM bud WHERE rk <= 4) AS BIGINT),
                CAST((SELECT count(DISTINCT hh) FROM bud WHERE rk <= 4)
                  AS BIGINT)
         UNION ALL SELECT 4, 'fetched',
                CAST((SELECT count(*) FROM d)
                  + (SELECT count(*) FROM d WHERE doc_id % 7 = 0) AS BIGINT),
                CAST(1 AS BIGINT)
         UNION ALL SELECT 5, 'extracted',
                CAST((SELECT count(*) FROM assets) AS BIGINT),
                CAST((SELECT sum(words) FROM assets) AS BIGINT)
         UNION ALL SELECT 6, 'deduped',
                CAST((SELECT count(*) FROM grp) AS BIGINT),
                CAST((SELECT sum(n - 1) FROM grp) AS BIGINT)
         ORDER BY stage_idx"""),

    // Beyond-reference: ROBOTS AVAILABILITY SEMANTICS (RFC 9309 §2.3.1)
    // — what governs access when the robots.txt FETCH ITSELF fails, the
    // layer crawlers get wrong most often: 4xx ("unavailable") means
    // MAY access everything (a 404 robots.txt is NOT a disallow), 5xx
    // ("unreachable") means MUST assume complete disallow, and a cache
    // past the 24 h TTL (§2.4) still applies while the refetch is due.
    // The fixture gives host4 a 404, host5 a 503, host6 a 30 h-old
    // cache; effective per-URL verdicts compose the availability class
    // OVER the q217 parsed-policy verdicts. The oracle replays the
    // class from the host formula and overrides the q217 verdict grid
    // accordingly.
    QuerySpec("q235_robots_availability", Plain, (s, dir) => {
      val R = graft.ops.Robots
      val verdicts = R.fixturePolicyVerdicts(t(s, dir, "documents"))
      val h = regexp_extract(col("host"), "^host(\\d+)\\.", 1).cast("long")
      val status = when(h === 4, lit(404)).when(h === 5, lit(503))
        .otherwise(lit(200))
      val age = when(h === 6, lit(30)).otherwise(lit(1))
      val cls = R.accessVerdict(status, age)
      val eff = when(cls === "disallow_all", lit(false))
        .when(cls === "allow_all", lit(true))
        .otherwise(col("allowed"))
      verdicts.withColumn("verdict_class", cls)
        .withColumn("eff", eff)
        .groupBy(col("host"), col("verdict_class"))
        .agg(sum(when(col("eff"), 1L).otherwise(0L)).as("n_allowed"),
          sum(when(col("eff"), 0L).otherwise(1L)).as("n_blocked"))
        .orderBy(col("host"))
    },
      // the q217 verdict grid with per-host availability overrides: the
      // 404 host force-allows, the 503 host force-blocks, the stale-cache
      // host keeps its parsed verdicts under the expired_cached class
      """WITH d AS (SELECT doc_id, doc_id % 7 AS h FROM documents),
         t AS (
           SELECT doc_id, h AS hh, 1 AS al FROM d
           UNION ALL SELECT doc_id, h, 1 FROM d
           UNION ALL SELECT doc_id, (doc_id + 1) % 7,
             CASE WHEN ((doc_id + 1) % 7) % 2 = 0 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, (doc_id + 2) % 7, 1 FROM d
             WHERE doc_id % 2 = 0
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 3 = 0 THEN 0
                  WHEN h = 1 AND doc_id % 5 = 3 THEN 0 ELSE 1 END FROM d
           UNION ALL SELECT doc_id, h,
             CASE WHEN h % 5 = 0 THEN 0 ELSE 1 END FROM d),
         e AS (SELECT hh,
                 CASE WHEN hh = 4 THEN 'allow_all'
                      WHEN hh = 5 THEN 'disallow_all'
                      WHEN hh = 6 THEN 'expired_cached'
                      ELSE 'policy' END AS verdict_class,
                 CASE WHEN hh = 4 THEN 1 WHEN hh = 5 THEN 0 ELSE al END
                   AS eff
               FROM t)
         SELECT 'host' || hh || '.example.com' AS host, verdict_class,
                CAST(sum(eff) AS BIGINT) AS n_allowed,
                CAST(sum(1 - eff) AS BIGINT) AS n_blocked
         FROM e GROUP BY hh, verdict_class ORDER BY host""")
  )
}
