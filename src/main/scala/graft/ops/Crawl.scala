package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl scheduling analytics — the two reports a frontier scheduler
  * maintains once fetching is running:
  *
  *  - **Recrawl scheduling**: per-URL change-rate estimation from the
  *    fetch history via the bias-corrected Poisson estimator of Cho &
  *    Garcia-Molina 2003 ("Estimating Frequency of Change", ACM TOIT
  *    3(3), eq. for r̂ = -ln((n - X + 0.5)/(n + 0.5)) with n checks and
  *    X observed changes), mapped to a clamped revisit interval.
  *  - **Crawl-trap detection**: per-host URL-space vs content-space
  *    explosion — a host whose distinct canonical URLs far outnumber
  *    its distinct content fingerprints is serving the same bytes under
  *    unbounded URL synonyms (calendar pages, session ids), and a
  *    polite crawler caps its budget there.
  *
  * plus **redirect-chain resolution** (HTTP 3xx chains folded onto
  * their landing URL by pointer doubling over the url-space map, hop
  * cap + cycle policy — the frontier-hygiene stage between discovery
  * and fetch).
  *
  * Scale shape: the reports are two-level hash aggregations (URL then
  * host) — map-side combinable, shuffle key = one canonical-URL string
  * then one short host string; chain resolution is O(log maxHops)
  * self-joins of the URL-SPACE-sized map, never of the fetch log. The
  * estimator is computed in integer MICROUNITS (`floor(1e6·λ)`) so
  * every downstream sum replays bit-for-bit on any engine (the q210
  * quantization convention). The reference engine has no crawl
  * surface — beyond-reference, cited against the published estimator.
  */
object Crawl {

  /** `floor(1e6 · -ln((n - x + 0.5)/(n + 0.5)))` as a long — the
    * bias-corrected Poisson change-rate estimate in microunits per
    * check interval. X = 0 yields exactly 0 (ln 1); the distinct
    * (n, x) input space is tiny, and no value in it lands within an
    * ulp of an integer boundary, so the floor replays identically
    * under any IEEE libm (verified for n ≤ 64 in OpsSpec).
    */
  def changeRateMicro(n: Column, x: Column): Column =
    floor(lit(-1e6) * log(
      (n.cast("double") - x.cast("double") + lit(0.5)) /
        (n.cast("double") + lit(0.5)))).cast("long")

  /** Clamped revisit interval in check-units from a microunit rate:
    * never-observed-changing URLs park at the 30-unit cold cap; the
    * rest get `1000000 div λ_micro` clamped to [1, 30] — TRUE integer
    * division (Catalyst `IntegralDivide` on longs; the oracle replays
    * it as DuckDB `//`), engine-independent by construction rather than
    * by both sides pinning the same IEEE double op (r15 advisory: the
    * earlier `floor(1e6.0 / λ)` spelling matched only because the
    * oracle replayed the identical double division).
    */
  def revisitUnits(lambdaMicro: Column): Column = {
    val B = org.apache.spark.sql.GraftSqlBridge
    val intDiv = B.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        B.expression(lit(1000000L)), B.expression(lambdaMicro)))
    when(lambdaMicro <= 0, lit(30L)).otherwise(
      greatest(lit(1L), least(lit(30L), intDiv)))
  }

  /** Per-host recrawl schedule over a per-URL fetch history
    * (hostCol, urlCol, nCol = checks, xCol = observed changes):
    * URL counts, total change-rate mass (microunits), the hot (≤ 2
    * units) / warm (3-7) / cold (> 7) revisit-bucket census, and the
    * total revisit budget. One aggregation — the history is already
    * per-URL; a raw per-fetch log reduces to it with one groupBy
    * upstream.
    */
  def recrawlReport(history: DataFrame, hostCol: String, urlCol: String,
      nCol: String, xCol: String): DataFrame = {
    val lam = changeRateMicro(col(nCol), col(xCol))
    val perUrl = history.select(col(hostCol).as("host"), col(urlCol),
      lam.as("lambda_micro"), revisitUnits(lam).as("revisit"))
    perUrl.groupBy(col("host")).agg(
      count(lit(1)).as("n_urls"),
      sum(col("lambda_micro")).as("lambda_mass"),
      count(when(col("revisit") <= 2, 1)).as("n_hot"),
      count(when(col("revisit") >= 3 && col("revisit") <= 7, 1)).as("n_warm"),
      count(when(col("revisit") > 7, 1)).as("n_cold"),
      sum(col("revisit")).as("revisit_budget"))
  }

  /** Deterministic fetch-history fixture (generator-formula pattern):
    * each document is one URL on host `doc_id % 7`, checked
    * `n = 3 + doc_id % 5` times; check k (1-based) observed a change
    * iff `(doc_id·31 + k·17) mod 7 < doc_id mod 3 + 1`. The fixture
    * materializes the RAW per-check log (explode) so the operator's
    * first aggregation is real work, not a precomputed pair.
    */
  def fixtureFetchHistory(docs: DataFrame): DataFrame = {
    val d = col("doc_id").cast("long")
    val n = lit(3L) + pmod(d, lit(5L))
    docs.select(d.as("doc_id"), n.as("n"),
        explode(sequence(lit(1L), n)).as("k"))
      .withColumn("changed",
        pmod(col("doc_id") * 31 + col("k") * 17, lit(7L)) <
          pmod(col("doc_id"), lit(3L)) + 1)
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(when(col("changed"), 1L).otherwise(0L)).as("x"))
      .withColumn("host",
        concat(lit("host"), pmod(col("doc_id"), lit(7L)), lit(".example.com")))
  }

  /** Per-host crawl-trap report over a fetch log (urlCol = RAW fetched
    * URL, contentCol = content fingerprint): canonicalize (the shared
    * codegen kernel — URL synonyms collapse BEFORE counting), then per
    * host: requests, distinct canonical URLs, distinct contents, the
    * URL-per-content ratio in microunits (exactly-rounded IEEE double
    * division, engine-independent), and the trap verdict at
    * `ratioMicroThreshold` (default 2×: twice as many URLs as
    * contents).
    */
  def trapReport(log: DataFrame, urlCol: String, contentCol: String,
      ratioMicroThreshold: Long = 2000000L): DataFrame = {
    val canon = Urls.canonicalizeUrl(col(urlCol))
    log.select(canon.as("__c"), col(contentCol).cast("string").as("__k"))
      .groupBy(Urls.canonicalHost(col("__c")).as("host"))
      .agg(count(lit(1)).as("n_requests"),
        count_distinct(col("__c")).as("n_urls"),
        count_distinct(col("__k")).as("n_contents"))
      .withColumn("ratio_micro",
        floor((lit(1000000L) * col("n_urls")).cast("double") /
          col("n_contents").cast("double")).cast("long"))
      .withColumn("trap", col("ratio_micro") >= ratioMicroThreshold)
  }

  /** Resolve HTTP 3xx redirect chains over a URL-level redirect map by
    * POINTER DOUBLING (the CC machinery's shape): after k rounds every
    * entry has either reached a terminal URL or jumped exactly 2^k
    * hops, so `ceil(log2 maxHops)` self-joins of the URL-SPACE-sized
    * map settle every chain of length ≤ maxHops — never a join against
    * the (much larger) fetch log, which joins the settled map ONCE
    * downstream. Chains longer than maxHops and cycles (which never
    * reach a terminal) report unresolved — the bounded-follow policy
    * every production crawler applies (a cycle is indistinguishable
    * from an over-long chain without storing paths, and the cap treats
    * both as fetch failures).
    *
    * Input: (srcCol, dstCol) one row per redirecting URL. Output:
    * (url, final_url, hops) for EVERY url appearing as a source —
    * final_url/hops null when unresolved. Terminal urls (never a
    * source) resolve to themselves trivially at the downstream join.
    */
  def resolveRedirects(edges: DataFrame, srcCol: String, dstCol: String,
      maxHops: Int = 8): DataFrame = {
    // the resolver needs a FUNCTIONAL map, but a real fetch log may
    // record the same URL redirecting to DIFFERENT targets over time
    // (r16 review finding: duplicate src rows would multiply through
    // the doubling rounds and then fan out every fetch joined against
    // the settled map) — enforce one deterministic target per source
    // (min dst; a production scheduler would prefer latest-by-fetch-time,
    // which callers can pre-reduce to before calling)
    val e = edges.select(col(srcCol).cast("string").as("u"),
      col(dstCol).cast("string").as("v"))
      .groupBy(col("u")).agg(min(col("v")).as("v"))
    val srcs = e.select(col("u").as("k")).distinct()
    // m(u) = (v, hops, done): u reaches v in `hops` hops; done ⟺ v is
    // terminal (has no outgoing edge)
    var m = e.join(srcs, e("v") === srcs("k"), "left")
      .select(col("u"), col("v"), lit(1L).as("hops"),
        col("k").isNull.as("done"))
    var jump = 1L
    while (jump < maxHops) {
      // not-done entries compose with the map at their landing point;
      // every not-done v IS a source (else done would be true), so the
      // inner join is total over the frontier
      val settled = m.filter(col("done"))
      val hopped = m.filter(!col("done")).as("a")
        .join(m.as("b"), col("a.v") === col("b.u"))
        .select(col("a.u").as("u"), col("b.v").as("v"),
          (col("a.hops") + col("b.hops")).as("hops"), col("b.done").as("done"))
      val prev = m
      m = Materialize.pin(settled.unionByName(hopped))
      m.count()
      Materialize.release(prev)
      jump *= 2
    }
    // the settled map stays in the caller's scope: the caller's action
    // may re-plan the query and read it again
    m.select(col("u").as("url"),
      when(col("done") && col("hops") <= maxHops, col("v")).as("final_url"),
      when(col("done") && col("hops") <= maxHops, col("hops")).as("hops"))
  }

  /** Deterministic redirect-map fixture over logical urls `u = 0..59`
    * (url string `https://host{u%7}.example.com/r/{u}`), exercising
    * every chain shape: groups of 6 (g = u/6, p = u%6) where positions
    * p < g%4 redirect to u+1 — chains of length 0-3 ending at a
    * terminal — and group 9 holds a 3-CYCLE (54→55→56→54) plus a tail
    * into it (57→54); 58/59 stay terminal. The oracle replays the walk
    * with a hop-capped recursive CTE.
    */
  def fixtureRedirectEdges(docs: DataFrame): DataFrame = {
    val u = pmod(col("doc_id").cast("long"), lit(60L))
    val g = floor(u / lit(6.0)).cast("long")
    val p = pmod(u, lit(6L))
    val dst = when(g === 9,
        when(u.isin(54L, 55L), u + 1).when(u.isin(56L, 57L), lit(54L)))
      .otherwise(when(p < pmod(g, lit(4L)), u + 1))
    docs.select(u.as("src_u"), dst.as("dst_u")).filter(col("dst_u").isNotNull)
      .distinct()
      .select(urlFor(col("src_u")).as("src"), urlFor(col("dst_u")).as("dst"))
  }

  private def urlFor(u: Column): Column =
    concat(lit("https://host"), pmod(u, lit(7L)), lit(".example.com/r/"), u)

  /** The q232 report: every fetch (doc d fetches url `d % 60`) resolved
    * through the redirect map — per ORIGINAL host: fetches, resolved /
    * unresolved (cycle or > maxHops) counts, total hops paid, and the
    * distinct landing URLs. The chain resolution runs on the URL space;
    * the corpus-sized fetch log joins the settled map once.
    */
  def fixtureRedirectReport(docs: DataFrame): DataFrame = {
    val resolved = resolveRedirects(fixtureRedirectEdges(docs), "src", "dst")
      .withColumn("in_map", lit(true))
    val fetches = docs.select(
      urlFor(pmod(col("doc_id").cast("long"), lit(60L))).as("url"))
    fetches.join(resolved, Seq("url"), "left")
      .select(col("url"),
        // urls absent from the map are terminal: they resolve to
        // themselves in 0 hops; in-map urls with null final_url are
        // the unresolved (cycle / over-cap) ones
        coalesce(col("final_url"),
          when(col("in_map").isNull, col("url"))).as("fin"),
        coalesce(col("hops"),
          when(col("in_map").isNull, lit(0L))).as("hops"))
      .groupBy(Urls.canonicalHost(col("url")).as("host"))
      .agg(count(lit(1)).as("n_fetches"),
        count(col("fin")).as("n_resolved"),
        count(when(col("fin").isNull, 1)).as("n_unresolved"),
        sum(coalesce(col("hops"), lit(0L))).as("hop_mass"),
        count_distinct(col("fin")).as("n_final_urls"))
      .orderBy(col("host"))
  }

  /** Deterministic fetch-log fixture for [[trapReport]]: every doc
    * fetches its q212 noisy URL (250 logical URLs, content keyed by the
    * logical id `m = doc_id % 250` — URL synonyms collapse onto one
    * content each), and every 4th doc additionally hits a calendar
    * trap on host3 — a messy-cased URL carrying the doc id in the path
    * (unique canonical per fetch) while serving one of only 3 distinct
    * contents. Host3's URL/content ratio explodes; every other host
    * stays at 1.
    */
  def fixtureFetchLog(docs: DataFrame): DataFrame = {
    val d = col("doc_id").cast("long")
    val m = pmod(d, lit(250L))
    val normal = docs.select(
      Urls.noisyUrl(d).as("url"),
      concat(lit("c"), m).as("content"))
    val trap = docs.filter(pmod(d, lit(4L)) === 1).select(
      concat(lit("HTTP://Host3.Example.COM:80/cal/"),
        (lit(1L) + pmod(d, lit(12L))), lit("/./"), d, lit("#top")).as("url"),
      concat(lit("trap"), pmod(d, lit(3L))).as("content"))
    normal.unionByName(trap)
  }
}
