package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt policy evaluation — RFC 9309 (Robots Exclusion Protocol),
  * the crawl-frontier gate between link discovery (q215) and fetching:
  * group selection by most-specific matching `User-agent`, rule
  * precedence by LONGEST matching pattern (octet length; ties resolve
  * to Allow, §2.2.2), `*` wildcards and `$` end anchors, unmatched
  * paths allowed by default. `Crawl-delay` is parsed as the de-facto
  * extension every large crawler honors.
  *
  * Scale shape: robots.txt is per-HOST state — the compiled policy
  * table is host-count-sized (a dim table), parsed ONCE per host and
  * broadcast-joined onto the URL stream; per-URL work is one codegen
  * match call over the compiled rule blob. No corpus-sized shuffle is
  * added to the frontier: the verdict rides the existing per-host
  * rollup. The reference engine has no crawl surface — beyond-reference,
  * cited against the public RFC.
  */
object Robots {

  /** One compiled rule: allow? + pattern ("*" any run, "$" end anchor
    * when final).
    */
  case class Rule(allow: Boolean, pattern: String)

  /** Parse a robots.txt body for `userAgent`: RFC 9309 group selection —
    * collect the rule groups whose `User-agent` line is the LONGEST
    * prefix-match for our agent (case-insensitive product token match;
    * `*` matches any agent but only wins when no specific group does).
    * Returns the selected rules in file order plus the group's
    * crawl-delay (0 when absent).
    */
  def parse(robotsTxt: String, userAgent: String): (Vector[Rule], Int) = {
    val ua = userAgent.toLowerCase(java.util.Locale.ROOT)
    // group = (agent names, rules, delay); a blank UA-line run opens a
    // shared group (RFC: consecutive User-agent lines share one group)
    var groups = Vector.empty[(Vector[String], Vector[Rule], Int)]
    var curAgents = Vector.empty[String]
    var curRules = Vector.empty[Rule]
    var curDelay = 0
    var agentsOpen = true // consecutive UA lines accumulate
    def flush(): Unit = {
      if (curAgents.nonEmpty) groups :+= ((curAgents, curRules, curDelay))
      curAgents = Vector.empty; curRules = Vector.empty; curDelay = 0
    }
    robotsTxt.split("\n", -1).foreach { raw =>
      val line = {
        val c = raw.indexOf('#')
        (if (c >= 0) raw.substring(0, c) else raw).trim
      }
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (!agentsOpen) { flush(); agentsOpen = true }
            curAgents :+= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" =>
            agentsOpen = false
            if (value.nonEmpty) curRules :+= Rule(allow = true, value)
          case "disallow" =>
            agentsOpen = false
            // empty Disallow = allow everything (no rule)
            if (value.nonEmpty) curRules :+= Rule(allow = false, value)
          case "crawl-delay" =>
            agentsOpen = false
            scala.util.Try(value.toDouble).toOption
              .foreach(d => curDelay = math.max(0, math.ceil(d).toInt))
          case _ => agentsOpen = false // sitemap etc: group content
        }
      }
    }
    flush()
    // most specific matching group: longest agent token that is a
    // prefix of our UA; '*' = specificity 0, only when nothing matches
    def specificity(agents: Vector[String]): Int =
      agents.map {
        case "*" => 0
        case a if ua.startsWith(a) => a.length
        case _ => -1
      }.max
    val best = groups.map(g => specificity(g._1)).foldLeft(-1)(math.max)
    if (best < 0) return (Vector.empty, 0)
    val selected = groups.filter(g => specificity(g._1) == best)
    (selected.flatMap(_._2), selected.map(_._3).foldLeft(0)(math.max))
  }

  /** Compile selected rules into the one-string blob the codegen match
    * kernel consumes: `A<pattern>` / `D<pattern>` records joined by
    * `\\u0001` (patterns cannot contain control characters under the
    * RFC's line-based grammar, so the separator is collision-free).
    */
  def compile(rules: Vector[Rule]): String =
    rules.map(r => (if (r.allow) "A" else "D") + r.pattern).mkString("\u0001")

  /** RFC 9309 section 2.2.3 path matching: the pattern must match a
    * PREFIX of the path; `*` matches any run of octets; `$` as the
    * final pattern char anchors the match to the path's end.
    */
  def patternMatches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val p = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    // greedy glob with '*' backtracking; prefix semantics = succeed the
    // moment the (un-anchored) pattern is exhausted
    var i = 0; var j = 0
    var star = -1; var mark = 0
    while (i < path.length) {
      if (!anchored && j == p.length) return true
      if (j < p.length && p.charAt(j) == '*') { star = j; mark = i; j += 1 }
      else if (j < p.length && p.charAt(j) == path.charAt(i)) { i += 1; j += 1 }
      else if (star >= 0) { j = star + 1; mark += 1; i = mark }
      else return false
    }
    while (j < p.length && p.charAt(j) == '*') j += 1
    j == p.length
  }

  /** Verdict for one path against a compiled blob: the LONGEST matching
    * pattern wins; equal lengths resolve to Allow; no match => allowed.
    */
  def allowed(compiled: String, path: String): Boolean = {
    if (compiled.isEmpty) return true
    var bestLen = -1
    var bestAllow = true
    compiled.split("\u0001", -1).foreach { rec =>
      if (rec.nonEmpty) {
        val allow = rec.charAt(0) == 'A'
        val pat = rec.substring(1)
        if (patternMatches(pat, path)) {
          if (pat.length > bestLen || (pat.length == bestLen && allow)) {
            bestLen = pat.length; bestAllow = allow
          }
        }
      }
    }
    if (bestLen < 0) true else bestAllow
  }

  /** Column form of [[allowed]] over (compiledRules, path). */
  def allowedCol(compiled: Column, path: Column): Column =
    org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.RobotsAllowed(
        org.apache.spark.sql.GraftSqlBridge.expression(compiled),
        org.apache.spark.sql.GraftSqlBridge.expression(path)))

  /** Path + query of an already-canonical URL (the match subject —
    * RFC 9309 matches on the path incl. query string).
    */
  def canonicalPath(canonicalUrl: Column): Column = {
    val p = regexp_replace(canonicalUrl, "^[a-z0-9+.-]+://[^/?]*", "")
    when(p === "", "/").otherwise(p)
  }

  /** Deterministic per-host robots.txt fixture (the generator-formula
    * pattern): a decoy `graftbot` group that blocks everything (so a
    * group-selection bug nukes every hash), the real group selected by
    * longest-prefix UA match, host-parameterized Disallow rules, the
    * Allow-beats-shorter-Disallow precedence case, one wildcard+anchor
    * rule, and a crawl-delay. Every verdict for the q215 link targets is
    * a pure (host, doc_id) formula an oracle replays.
    */
  def robotsFixtureFor(h: Long): String = {
    val sb = new StringBuilder
    sb ++= "# synthetic policy for host" + h + "\n"
    sb ++= "User-agent: graftbot\nDisallow: /\n\n"
    sb ++= "User-agent: graftcrawler\nUser-agent: otherbot\n"
    if (h % 2 == 0) sb ++= "Disallow: /ref/\n"
    if (h % 3 == 0) sb ++= "Disallow: /d/\n"
    sb ++= "Disallow: /q\n"
    if (h % 5 != 0) sb ++= "Allow: /q?a=\n"
    if (h == 1) sb ++= "Disallow: /*/sibling3$\n"
    sb ++= s"Crawl-delay: ${1 + h % 3}\n"
    sb ++= "Sitemap: https://example.com/sitemap.xml\n"
    sb.toString
  }

  /** Parse + compile robots bodies for a HOST DIM TABLE (host,
    * robots_txt) — one parse per host, never per URL; the result is the
    * dim side of the frontier join.
    */
  def compilePolicies(robots: DataFrame, hostCol: String, txtCol: String,
      userAgent: String): DataFrame = {
    val spark = robots.sparkSession
    import spark.implicits._
    robots.select(col(hostCol).cast("string"), col(txtCol).cast("string"))
      .as[(String, String)]
      .mapPartitions(_.map { case (host, txt) =>
        val (rules, delay) = parse(txt, userAgent)
        (host, compile(rules), delay)
      }).toDF("host", "rules", "crawl_delay")
  }

  /** Join URL targets (host, path) against compiled per-host policies
    * (host, rules, crawl_delay) and evaluate the codegen verdict. The
    * join strategy is the planner's: the pinned dim is sized from its
    * measured runtime size, so a fixture-sized dim broadcasts and a
    * whole-web one (10⁷–10⁸ hosts × ~KB policies) shuffles instead of
    * being forced onto the driver. A target host ABSENT from the policy
    * dim is DEFAULT-ALLOWED with crawl_delay 0 — RFC 9309 semantics for
    * a host without robots.txt (a left join: an inner join would drop
    * such targets, neither allowed nor blocked).
    */
  def policyVerdicts(targets: DataFrame, policies: DataFrame): DataFrame = {
    // pinned: callers read the verdicts in more than one action (q234's
    // funnel counts), and the robots-parse MapPartitions would otherwise
    // run once per action
    val pol = Materialize.pin(policies)
    // pass the targets' columns through (a composed pipeline carries the
    // url alongside host/path); the compiled rule blob is dropped
    val keep = targets.columns.toSeq.map(col) ++
      Seq(coalesce(col("crawl_delay"), lit(0)).as("crawl_delay"),
        col("allowed"))
    targets.join(pol, Seq("host"), "left")
      .withColumn("allowed",
        allowedCol(coalesce(col("rules"), lit("")), col("path")))
      .select(keep: _*)
  }

  /** RFC 9309 §2.3.1 ACCESS-RESULT semantics for the robots.txt fetch
    * itself — the layer crawlers get wrong most often:
    *
    *  - 2xx ("success"): parse and apply the policy; past the cache TTL
    *    (§2.4: MAY cache up to 24 h) the cached policy still applies
    *    but the fetch is due — reported as its own class so schedulers
    *    can refresh ("expired_cached").
    *  - 3xx: follow the redirect chain (§2.3.1.2 allows at least five
    *    hops — [[Crawl.resolveRedirects]] is the chain machinery).
    *  - 4xx ("unavailable"): the crawler MAY access any resources —
    *    effectively ALLOW ALL (a 404 robots.txt is not a disallow).
    *  - 5xx ("unreachable"): MUST assume COMPLETE DISALLOW.
    */
  def accessVerdict(status: Column, ageHours: Column,
      cacheTtlHours: Int = 24): Column =
    when(status >= 500, lit("disallow_all"))
      .when(status >= 400, lit("allow_all"))
      .when(status >= 300, lit("redirect"))
      .when(ageHours > cacheTtlHours, lit("expired_cached"))
      .otherwise(lit("policy"))

  /** The 7-host fixture policy dim (host, txt) — ONE builder shared by
    * the q217/q218 verdicts, the q234 pipeline, and the specs (r16
    * review finding: three verbatim copies would have to track fixture
    * changes by hand).
    */
  def fixturePolicyDim(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    // fully-qualified inside the lambda: capturing this module val would
    // make the closure non-serializable
    spark.range(7).as[Long]
      .map(h => (s"host$h.example.com", graft.ops.Robots.robotsFixtureFor(h)))
      .toDF("host", "txt")
  }

  /** The q217 pipeline — q215's resolved canonical link targets joined
    * against the 7-host fixture policies — as ONE shared builder
    * returning (host, path, crawl_delay, allowed), so the query and its
    * scale probe always measure the same kernel (the
    * TextOps.wordChunkLines convention).
    */
  def fixturePolicyVerdicts(docs: DataFrame,
      userAgent: String = "graftcrawler/1.0"): DataFrame = {
    val spark = docs.sparkSession
    val links = Html.extractLinks(Html.linkPages(docs))
    val targets = links.select(
        Urls.canonicalizeUrl(Urls.resolveUrl(col("base_url"), col("href")))
          .as("t"))
      .select(Urls.canonicalHost(col("t")).as("host"),
        canonicalPath(col("t")).as("path"))
    policyVerdicts(targets,
      compilePolicies(fixturePolicyDim(spark), "host", "txt", userAgent))
  }
}
