package graft.client

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import scala.jdk.OptionConverters._

import graft.model.JsonUtils
import graft.server.wire

/** HTTP client for the sharing REST protocol (the reference's
  * `DeltaSharingRestClient`, `client/.../DeltaSharingClient.scala:439-831`):
  * listings, version/metadata, snapshot query (with predicate/limit hints
  * and transparent pagination), version-range query, and CDF changes.
  *
  * `baseUrl` is the endpoint root, e.g. `http://127.0.0.1:8080/delta-sharing`.
  */
class GraftRestClient(
    baseUrl: String,
    token: Option[String] = None,
    numRetries: Int = 3,
    /** (client_id, client_secret) for the OAuth client-credentials grant
      * (the reference's `client/.../auth` flow); takes precedence over the
      * static `token` and refreshes itself before expiry.
      */
    oauth: Option[(String, String)] = None,
    /** Token endpoint for the OAuth grant; defaults to the server's own
      * `/oauth/token` (a v2 profile may name a separate authorization
      * server).
      */
    tokenEndpoint: Option[String] = None,
    /** Optional OAuth `scope` (RFC 6749 §4.4.2), sent with the grant when
      * a v2 profile declares one.
      */
    oauthScope: Option[String] = None,
    /** Submit snapshot queries with `asyncquery=true` and resolve the
      * returned queryStatus handle by polling
      * `POST .../queries/{queryId}` (the reference's
      * `getNDJsonWithAsync`, `DeltaSharingClient.scala:1078-1140`; knobs
      * `:213-214`).
      */
    asyncQuery: Boolean = false,
    asyncPollIntervalMs: Long = 10000L,
    asyncMaxDurationMs: Long = 600000L) {

  private val CAPABILITIES = "delta-sharing-capabilities"
  private val END_STREAM = "includeendstreamaction=true"

  private val http = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(30)).build()

  // ----------------------------------------------------------------- auth

  @volatile private var cachedOAuth: Option[(String, Long)] = None // (token, expiryMs)

  private def bearer(): Option[String] = oauth match {
    case None => token
    case Some((id, secret)) =>
      val nowMs = System.currentTimeMillis()
      cachedOAuth match {
        case Some((t, exp)) if exp - nowMs > 60000 => Some(t)
        case _ =>
          val form = s"grant_type=client_credentials&client_id=${enc(id)}" +
            s"&client_secret=${enc(secret)}" +
            oauthScope.map(sc => s"&scope=${enc(sc)}").getOrElse("")
          val req = HttpRequest.newBuilder(
            URI.create(tokenEndpoint.getOrElse(s"$baseUrl/oauth/token")))
            .timeout(Duration.ofSeconds(30))
            .header("Content-Type", "application/x-www-form-urlencoded")
            .POST(HttpRequest.BodyPublishers.ofString(form, UTF_8)).build()
          val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
          if (resp.statusCode() >= 400)
            throw new GraftClientException(resp.statusCode(),
              s"OAuth token request failed (${resp.statusCode()}): ${resp.body()}")
          val r = JsonUtils.fromJson[wire.OAuthTokenResponse](resp.body())
          cachedOAuth = Some((r.access_token, nowMs + r.expires_in * 1000))
          Some(r.access_token)
      }
  }

  // ------------------------------------------------------------ transport

  private def request(method: String, path: String, body: Option[String] = None,
      params: Map[String, String] = Map.empty,
      headers: Map[String, String] = Map.empty): HttpResponse[String] = {
    val qs = if (params.isEmpty) ""
      else "?" + params.map { case (k, v) =>
        s"${enc(k)}=${enc(v)}"
      }.mkString("&")
    val builder = HttpRequest.newBuilder(URI.create(s"$baseUrl$path$qs"))
      .timeout(Duration.ofSeconds(120))
    headers.foreach { case (k, v) => builder.header(k, v) }
    bearer().foreach(t => builder.header("Authorization", s"Bearer $t"))
    val req = (method match {
      case "GET"  => builder.GET()
      case "HEAD" => builder.method("HEAD", HttpRequest.BodyPublishers.noBody())
      case "POST" => builder
        .header("Content-Type", "application/json; charset=utf-8")
        .POST(HttpRequest.BodyPublishers.ofString(body.getOrElse("{}"), UTF_8))
    }).build()

    // Retry with exponential backoff on 5xx, 429 and transport errors
    // (reference `RetryUtils.scala`); other 4xx are surfaced immediately.
    // A `Retry-After` of whole seconds on a retried response replaces the
    // backoff for that wait.
    var attempt = 0
    var delay = 1000L
    while (true) {
      val result: Either[Throwable, HttpResponse[String]] =
        try Right(http.send(req, HttpResponse.BodyHandlers.ofString()))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      result match {
        case Right(resp) if resp.statusCode() < 400 => return resp
        case Right(resp) if resp.statusCode() < 500 && resp.statusCode() != 429 =>
          throw new GraftClientException(resp.statusCode(),
            s"$method $path failed (${resp.statusCode()}): ${resp.body()}")
        case Right(resp) if attempt >= numRetries =>
          throw new GraftClientException(resp.statusCode(),
            s"$method $path failed after ${attempt + 1} attempts " +
              s"(${resp.statusCode()}): ${resp.body()}")
        case Left(e) if attempt >= numRetries =>
          throw new GraftClientException(0,
            s"$method $path failed after ${attempt + 1} attempts: $e")
        case r =>
          val retryAfterMs = r.toOption
            .flatMap(_.headers().firstValue("Retry-After").toScala)
            .flatMap(_.trim.toLongOption).filter(_ >= 0).map(_ * 1000)
          Thread.sleep(retryAfterMs.getOrElse(delay)); delay *= 2; attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

  private def ndjson(body: String): Seq[wire.Line] =
    rawNdjson(body).map(JsonUtils.fromJson[wire.Line](_))

  private def rawNdjson(body: String): Seq[String] =
    body.split("\n").toSeq.filter(_.nonEmpty)

  // ------------------------------------------------------------- listings

  def listShares(): Seq[String] = paged { tok =>
    val r = JsonUtils.fromJson[wire.ListSharesResponse](
      request("GET", "/shares", params = pageParams(tok)).body())
    (r.items.map(_.name), Option(r.nextPageToken))
  }

  def listSchemas(share: String): Seq[String] = paged { tok =>
    val r = JsonUtils.fromJson[wire.ListSchemasResponse](
      request("GET", s"/shares/${enc(share)}/schemas", params = pageParams(tok)).body())
    (r.items.map(_.name), Option(r.nextPageToken))
  }

  def listTables(share: String, schema: String): Seq[String] = paged { tok =>
    val r = JsonUtils.fromJson[wire.ListTablesResponse](
      request("GET", s"/shares/${enc(share)}/schemas/${enc(schema)}/tables",
        params = pageParams(tok)).body())
    (r.items.map(_.name), Option(r.nextPageToken))
  }

  def listAllTables(share: String): Seq[(String, String)] = paged { tok =>
    val r = JsonUtils.fromJson[wire.ListTablesResponse](
      request("GET", s"/shares/${enc(share)}/all-tables", params = pageParams(tok)).body())
    (r.items.map(t => (t.schema, t.name)), Option(r.nextPageToken))
  }

  private def pageParams(tok: Option[String]): Map[String, String] =
    tok.map(t => Map("pageToken" -> t)).getOrElse(Map.empty)

  private def paged[T](fetch: Option[String] => (Seq[T], Option[String])): Seq[T] = {
    val out = Seq.newBuilder[T]
    var tok: Option[String] = None
    var continue = true
    while (continue) {
      val (items, next) = fetch(tok)
      out ++= items
      tok = next
      continue = next.isDefined
    }
    out.result()
  }

  // ----------------------------------------------------- version/metadata

  private def tablePath(share: String, schema: String, table: String) =
    s"/shares/${enc(share)}/schemas/${enc(schema)}/tables/${enc(table)}"

  def tableVersion(share: String, schema: String, table: String,
      startingTimestamp: Option[String] = None): Long = {
    val resp = request("HEAD", s"${tablePath(share, schema, table)}/version",
      params = startingTimestamp.map(t => Map("startingTimestamp" -> t)).getOrElse(Map.empty))
    resp.headers().firstValue("Delta-Table-Version").orElseThrow(() =>
      new GraftClientException(0, "missing Delta-Table-Version header")).toLong
  }

  def metadata(share: String, schema: String, table: String,
      version: Option[Long] = None, timestamp: Option[String] = None): (wire.Metadata, Long) = {
    val params = version.map(v => Map("version" -> v.toString)).getOrElse(Map.empty) ++
      timestamp.map(t => Map("timestamp" -> t)).getOrElse(Map.empty)
    val resp = request("GET", s"${tablePath(share, schema, table)}/metadata", params = params)
    val lines = ndjson(resp.body())
    val meta = lines.flatMap(l => Option(l.metaData)).headOption.getOrElse(
      throw new GraftClientException(0, "no metaData line in metadata response"))
    val v = resp.headers().firstValue("Delta-Table-Version").map[Long](_.toLong)
      .orElse(Option(meta.version).map(_.longValue()).getOrElse(-1L))
    (meta, v)
  }

  // ---------------------------------------------------------------- query

  /** `headers` with `cap` appended to the capabilities header (the server
    * keys on the `delta-sharing-capabilities` value).
    */
  private def withCapability(headers: Map[String, String], cap: String): Map[String, String] =
    headers.get(CAPABILITIES) match {
      case Some(v) => headers + (CAPABILITIES -> s"$v;$cap")
      case None => headers + (CAPABILITIES -> cap)
    }

  /** Append `asyncquery=true` when async mode is on. */
  private def withAsync(headers: Map[String, String]): Map[String, String] =
    if (!asyncQuery) headers else withCapability(headers, "asyncquery=true")

  /** Every `/query` and `/changes` request asks for an EndStreamAction at
    * the end of each response, so [[walkPages]] can tell a complete last
    * page from one cut short after a whole line.
    */
  private def withEndStream(headers: Map[String, String]): Map[String, String] =
    withCapability(headers, END_STREAM)

  /** A pending async response carries a queryStatus line (works for both
    * dialects — raw-tree sniff, no line codec commitment).
    */
  private def pendingQueryId(lines: Seq[String]): Option[String] =
    lines.iterator.flatMap { l =>
      Option(JsonUtils.mapper.readTree(l).get("queryStatus")).filterNot(_.isNull)
        .flatMap(q => Option(q.get("queryId"))).map(_.asText())
    }.nextOption()

  /** POST one query page; when the response is an async queryStatus
    * handle, poll `POST .../queries/{queryId}` until a response without
    * one arrives (or `asyncMaxDurationMs` elapses). Sync-mode responses
    * pass straight through.
    */
  private def postQueryResolved(
      tableP: String, pageReq: wire.QueryRequest,
      baseHeaders: Map[String, String]): (HttpResponse[String], Seq[String]) = {
    def raw(r: HttpResponse[String]): Seq[String] = rawNdjson(r.body())
    var resp = request("POST", s"$tableP/query",
      body = Some(JsonUtils.toJson(pageReq)), headers = withAsync(baseHeaders))
    var lines = raw(resp)
    var qid = pendingQueryId(lines)
    val start = System.currentTimeMillis()
    while (qid.isDefined) {
      if (System.currentTimeMillis() - start > asyncMaxDurationMs)
        throw new GraftClientException(0,
          s"async query ${qid.get} timed out after $asyncMaxDurationMs ms")
      Thread.sleep(asyncPollIntervalMs)
      resp = request("POST", s"$tableP/queries/${qid.get}",
        body = Some("{}"), headers = baseHeaders)
      lines = raw(resp)
      val again = pendingQueryId(lines)
      if (again.exists(_ != qid.get))
        throw new GraftClientException(0,
          s"inconsistent async queryId: expected ${qid.get}, got ${again.get}")
      qid = again
    }
    (resp, lines)
  }

  case class QueryResult(
      version: Long,
      metadata: wire.Metadata,
      files: Seq[wire.File],
      refreshToken: Option[String])

  /** Snapshot query; follows nextPageToken until exhausted (reference
    * pagination loop `DeltaSharingClient.scala:653-745`).
    */
  def query(share: String, schema: String, table: String,
      req: wire.QueryRequest = wire.QueryRequest()): QueryResult = {
    var meta: wire.Metadata = null
    val files = Seq.newBuilder[wire.File]
    var refreshToken: Option[String] = None
    val version = walkPages(
      tok => postQueryResolved(tablePath(share, schema, table),
        req.copy(pageToken = tok.orNull), withEndStream(Map.empty)),
      JsonUtils.fromJson[wire.Line],
      (l: wire.Line) => PageLineKind(l.protocol != null, l.metaData != null,
        Option(l.endStreamAction)),
      onEnd = e => Option(e.refreshToken).foreach(t => refreshToken = Some(t))
    ) { line =>
      if (line.metaData != null) meta = line.metaData
      if (line.file != null) files += line.file
    }
    QueryResult(version, meta, files.result(), refreshToken)
  }

  // ----------------------------------------------------- delta dialect

  /** The capability header requesting the delta response dialect with
    * every reader feature this client can actually process
    * (`PROTOCOL.md:3324-3378`). `responseformat=delta` alone (no parquet
    * fallback) so basic tables also answer in one dialect.
    */
  val DELTA_CAPABILITIES: Map[String, String] = Map(
    CAPABILITIES ->
      ("responseformat=delta;readerfeatures=deletionvectors,columnmapping," +
        "typewidening,varianttype"))

  case class DeltaQueryResult(
      version: Long,
      metadata: wire.DeltaMetadataLine,
      files: Seq[wire.DeltaFileW])

  /** Snapshot query in the DELTA response dialect — wrapped delta actions
    * whose add.path carries the pre-signed URL and whose add may carry a
    * deletion-vector descriptor (reference delta-format client loop,
    * `DeltaSharingClient.scala:653-745` + kernel-based parsing). Same
    * pagination protocol as [[query]].
    */
  def deltaQuery(share: String, schema: String, table: String,
      req: wire.QueryRequest = wire.QueryRequest()): DeltaQueryResult = {
    var meta: wire.DeltaMetadataLine = null
    val files = Seq.newBuilder[wire.DeltaFileW]
    val version = walkPages(
      tok => postQueryResolved(tablePath(share, schema, table),
        req.copy(pageToken = tok.orNull), withEndStream(DELTA_CAPABILITIES)),
      JsonUtils.fromJson[wire.DeltaLine],
      (l: wire.DeltaLine) => PageLineKind(l.protocol != null, l.metaData != null,
        Option(l.endStreamAction))) { line =>
      if (line.metaData != null) meta = line.metaData
      if (line.file != null) files += line.file
    }
    if (meta == null) throw new GraftClientException(0,
      "no metaData line in delta query response")
    DeltaQueryResult(version, meta, files.result())
  }

  /** Table metadata in the DELTA dialect — the entry point for tables
    * whose reader features make the parquet-dialect `/metadata` refuse
    * (negotiation mirror of [[deltaQuery]]). A `timestamp` answers for the
    * latest version committed at-or-before it.
    */
  def deltaMetadata(share: String, schema: String, table: String,
      timestamp: Option[String] = None): (wire.DeltaMetadataLine, Long) = {
    val resp = request("GET", s"${tablePath(share, schema, table)}/metadata",
      params = timestamp.map(t => Map("timestamp" -> t)).getOrElse(Map.empty),
      headers = DELTA_CAPABILITIES)
    val meta = resp.body().split("\n").filter(_.nonEmpty)
      .map(JsonUtils.fromJson[wire.DeltaLine](_))
      .flatMap(l => Option(l.metaData)).headOption.getOrElse(
        throw new GraftClientException(0, "no metaData line in delta metadata response"))
    val v = resp.headers().firstValue("Delta-Table-Version").map[Long](_.toLong)
      .orElse(-1L)
    (meta, v)
  }

  case class DeltaChangesResult(
      version: Long,
      /** Every metaData line (first = range-start snapshot; later ones are
        * historical schema changes the streaming client must vet).
        */
      metas: Seq[wire.DeltaMetadataLine],
      /** Wrapped delta actions in served order; each wraps exactly one of
        * add/remove/cdc with the commit version/timestamp on the wrapper.
        */
      files: Seq[wire.DeltaFileW],
      /** Protocol lines (head + historical) when the range was requested
        * with `includeHistoricalProtocol`; a line with version > range
        * start is a mid-range reader-requirement change the consumer must
        * vet before reading past it (reference `PROTOCOL.md:2152,4041`).
        */
      protocols: Seq[wire.DeltaProtocolLine] = Nil)

  /** Version-range query in the DELTA dialect (the streaming backbone
    * for DV/column-mapped shared tables): same pagination protocol as
    * [[queryRange]], delta-action lines like [[deltaQuery]].
    */
  def deltaQueryRange(share: String, schema: String, table: String,
      startingVersion: Long, endingVersion: Option[Long] = None,
      maxFiles: Option[Int] = None,
      includeHistoricalProtocol: Boolean = false): DeltaChangesResult = {
    val req = wire.QueryRequest(
      startingVersion = startingVersion,
      endingVersion = endingVersion.map(Long.box).orNull,
      maxFiles = maxFiles.map(Int.box).orNull,
      includeHistoricalProtocol =
        if (includeHistoricalProtocol) java.lang.Boolean.TRUE else null)
    collectDeltaChanges { tok =>
      request("POST", s"${tablePath(share, schema, table)}/query",
        body = Some(JsonUtils.toJson(req.copy(pageToken = tok.orNull))),
        headers = withEndStream(DELTA_CAPABILITIES))
    }
  }

  /** `GET /changes` in the DELTA dialect — raw per-version delta actions
    * (adds with DV descriptors, removes, cdc) for client-side change
    * derivation on tables the parquet dialect refuses.
    */
  def deltaChanges(share: String, schema: String, table: String,
      params: Map[String, String]): DeltaChangesResult =
    collectDeltaChanges { tok =>
      request("GET", s"${tablePath(share, schema, table)}/changes",
        params = params ++ tok.map(t => Map("pageToken" -> t)).getOrElse(Map.empty),
        headers = withEndStream(DELTA_CAPABILITIES))
    }

  private def collectDeltaChanges(
      fetch: Option[String] => HttpResponse[String]): DeltaChangesResult = {
    val metas = Seq.newBuilder[wire.DeltaMetadataLine]
    val files = Seq.newBuilder[wire.DeltaFileW]
    val protos = Seq.newBuilder[wire.DeltaProtocolLine]
    val version = walkPages(
      tok => { val r = fetch(tok); (r, rawNdjson(r.body())) },
      JsonUtils.fromJson[wire.DeltaLine],
      (l: wire.DeltaLine) => PageLineKind(l.protocol != null, l.metaData != null,
        Option(l.endStreamAction))) { line =>
      if (line.metaData != null) metas += line.metaData
      if (line.file != null) files += line.file
      if (line.protocol != null) protos += line.protocol
    }
    DeltaChangesResult(version, metas.result(), files.result(),
      protos.result())
  }

  case class ChangesResult(
      version: Long,
      metadata: wire.Metadata,
      adds: Seq[wire.AddFileW],
      cdfs: Seq[wire.CdcFileW],
      removes: Seq[wire.RemoveFileW],
      /** Every metaData line seen (first = snapshot metadata at range
        * start; later entries are historical schema changes mid-range —
        * the streaming client must check each for read compatibility).
        */
      metas: Seq[wire.Metadata] = Nil)

  /** Version-range query (POST query with startingVersion) — the
    * streaming backbone.
    */
  def queryRange(share: String, schema: String, table: String,
      startingVersion: Long, endingVersion: Option[Long] = None,
      maxFiles: Option[Int] = None): ChangesResult = {
    val req = wire.QueryRequest(
      startingVersion = startingVersion,
      endingVersion = endingVersion.map(Long.box).orNull,
      maxFiles = maxFiles.map(Int.box).orNull)
    collectChanges { tok =>
      request("POST", s"${tablePath(share, schema, table)}/query",
        body = Some(JsonUtils.toJson(req.copy(pageToken = tok.orNull))),
        headers = withEndStream(Map.empty))
    }
  }

  /** GET /changes — the CDF endpoint. */
  def changes(share: String, schema: String, table: String,
      params: Map[String, String]): ChangesResult =
    collectChanges { tok =>
      request("GET", s"${tablePath(share, schema, table)}/changes",
        params = params ++ tok.map(t => Map("pageToken" -> t)).getOrElse(Map.empty),
        headers = withEndStream(Map.empty))
    }

  private def collectChanges(
      fetch: Option[String] => HttpResponse[String]): ChangesResult = {
    var meta: wire.Metadata = null
    val adds = Seq.newBuilder[wire.AddFileW]
    val cdfs = Seq.newBuilder[wire.CdcFileW]
    val removes = Seq.newBuilder[wire.RemoveFileW]
    val metas = Seq.newBuilder[wire.Metadata]
    val version = walkPages(
      tok => { val r = fetch(tok); (r, rawNdjson(r.body())) },
      JsonUtils.fromJson[wire.Line],
      (l: wire.Line) => PageLineKind(l.protocol != null, l.metaData != null,
        Option(l.endStreamAction))) { line =>
      if (line.metaData != null) {
        if (meta == null) meta = line.metaData
        metas += line.metaData
      }
      if (line.add != null) adds += line.add
      if (line.cdf != null) cdfs += line.cdf
      if (line.remove != null) removes += line.remove
    }
    ChangesResult(version, meta, adds.result(), cdfs.result(), removes.result(),
      metas.result())
  }

  /** How the shared paginator sees one raw NDJSON line. */
  private case class PageLineKind(
      isProto: Boolean, isMeta: Boolean, end: Option[wire.EndStreamAction])

  /** Paginated NDJSON walk with the protocol's head-line contract
    * ENFORCED: every continuation page must re-emit the head protocol
    * and metadata lines VERBATIM as its first line of each kind
    * (reference `DeltaSharingClient.fetchNextPageFiles:683-699`
    * validates the same strings and drops exactly those lines). Page 1's
    * head lines are delivered to `emit`; each continuation page's first
    * protocol/metaData line is validated against them and skipped
    * (positional dedup), and a mismatch — or a head line appearing on a
    * continuation page when page 1 had none — fails LOUDLY. Silently
    * accepting a non-re-emitting server would drop a genuine
    * first-of-page change line; value-dedup would collapse a legitimate
    * A->B->A metadata revert into [A, B]. A response whose capabilities
    * header echoes `includeendstreamaction=true` must carry an
    * EndStreamAction; the last page of a walk without one was cut short,
    * and the walk fails instead of returning a shorter list (the
    * reference client's `checkEndStreamAction`). Returns the last
    * Delta-Table-Version header seen.
    */
  private def walkPages[L](
      fetch: Option[String] => (HttpResponse[String], Seq[String]),
      parse: String => L,
      kind: L => PageLineKind,
      onEnd: wire.EndStreamAction => Unit = _ => ())(emit: L => Unit): Long = {
    var version = -1L
    var headProto: Option[String] = None
    var headMeta: Option[String] = None
    var pageToken: Option[String] = None
    var first = true
    var firstPage = true
    // Totality guard (r14 verdict task): a buggy or hostile server that
    // re-serves a page token it has already served would loop this walk
    // forever (each iteration is a fresh RPC, so no OOM backstop either).
    // Tokens are opaque resume cursors — a server must never emit the
    // same one twice in one walk — so a repeat fails loudly instead.
    val seenTokens = scala.collection.mutable.HashSet.empty[String]
    while (first || pageToken.isDefined) {
      first = false
      pageToken.foreach { t =>
        if (!seenTokens.add(t)) throw new GraftClientException(0,
          s"server re-served pagination token '${t.take(100)}' — aborting " +
            "a non-terminating page walk (protocol violation)")
      }
      val (resp, rawLines) = fetch(pageToken)
      version = resp.headers().firstValue("Delta-Table-Version")
        .map[Long](_.toLong).orElse(version)
      pageToken = None
      var pageEnded = false
      var pageProto = false
      var pageMeta = false
      def checkHead(head: Option[String], raw: String, what: String): Unit =
        if (!head.contains(raw)) throw new GraftClientException(0,
          s"continuation page did not re-emit the head $what line " +
            s"verbatim (protocol violation; expected ${head.orNull}, " +
            s"got ${raw.take(500)})")
      rawLines.foreach { raw =>
        val line = parse(raw)
        val k = kind(line)
        // endStreamAction is NOT exclusive of payload: a line may carry
        // a data action AND the end action, so the token is read first
        // and the line still flows to `emit` (a pure-end line reaching
        // emit is harmless — consumers match on their specific fields)
        k.end.foreach { e =>
          pageEnded = true
          pageToken = Option(e.nextPageToken)
          onEnd(e)
        }
        if (k.isProto && !pageProto) {
          pageProto = true
          if (firstPage) { headProto = Some(raw); emit(line) }
          else checkHead(headProto, raw, "protocol")
        } else if (k.isMeta && !pageMeta) {
          pageMeta = true
          if (firstPage) { headMeta = Some(raw); emit(line) }
          else checkHead(headMeta, raw, "metadata")
        } else emit(line)
      }
      if (!pageEnded && resp.headers().firstValue(CAPABILITIES).orElse("")
          .toLowerCase.contains(END_STREAM))
        throw new GraftClientException(0,
          s"truncated response: the last page (${rawLines.size} lines) ended " +
            "without the endStreamAction the server promised; the file list " +
            "would be incomplete")
      firstPage = false
    }
    version
  }
}

class GraftClientException(val status: Int, message: String)
    extends RuntimeException(message) {

  /** The protocol's typed refusal of the requested response dialect (a
    * DV or column-mapped table asked for `responseformat=parquet`): the
    * caller renegotiates in `responseformat=delta`.
    */
  def isUnsupportedOperation: Boolean =
    status == 400 && message.contains("UNSUPPORTED_OPERATION")
}
