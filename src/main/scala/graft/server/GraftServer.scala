package graft.server

import java.io.{InputStream, OutputStream}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.security.SecureRandom
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.log.{GraftCatalog, GraftLog}
import graft.model._
import graft.predicates.{AndOp, JsonPredicates}
import graft.server.wire._

/** The sharing REST server over the graft engine — the reference's core
  * deliverable re-expressed on the JDK's built-in HTTP server (reference
  * `server/.../DeltaSharingService.scala:223-719`; spec `PROTOCOL.md:109-3005`).
  *
  * Endpoints (all under `/delta-sharing`, bearer-authenticated, NDJSON for
  * table data, JSON for listings, typed error mapping 400/401/404/500):
  *
  *   POST /oauth/token                      (client-credentials grant)
  *   GET  /shares?maxResults=&pageToken=
  *   GET  /shares/{share}
  *   GET  /shares/{share}/schemas
  *   GET  /shares/{share}/schemas/{schema}/tables
  *   GET  /shares/{share}/all-tables
  *   GET|HEAD .../tables/{table}/version?startingTimestamp=
  *   GET  .../tables/{table}/metadata?version=&timestamp=
  *   POST .../tables/{table}/query          (snapshot + version-range + async)
  *   POST .../tables/{table}/queries/{queryId}  (async poll)
  *   GET  .../tables/{table}/changes?startingVersion|startingTimestamp&
  *            endingVersion|endingTimestamp&includeHistoricalMetadata
  *   POST .../tables/{table}/temporary-table-credentials  (dir access mode)
  *   GET  /data/{token}                     (pre-signed data, Range-capable)
  *
  * Pre-signed URLs are HMAC-signed `http://host:port/data/<token>` links
  * with real expiry, served with HTTP Range support — the local-mode
  * equivalent of cloud signed URLs (reference `CloudFileSigner.scala`);
  * the data endpoint performs no auth beyond the signature, exactly like a
  * cloud pre-signed GET.
  *
  * Tables come from [[GraftCatalog]] registrations (`share.schema.table`
  * fqns — the reference's ServerConfig share/schema/table tree).
  */
class GraftServer(
    val config: ServerConfig = ServerConfig(),
    hadoopConf: Configuration = new Configuration()) {

  import GraftServer._

  private val secret: Array[Byte] = {
    val b = new Array[Byte](32); new SecureRandom().nextBytes(b); b
  }

  private var server: HttpServer = _
  @volatile private var boundPort: Int = -1

  def url: String = {
    require(boundPort > 0, "server not started")
    s"http://${config.host}:$boundPort/delta-sharing"
  }

  def start(): GraftServer = synchronized {
    require(server == null, "already started")
    server = HttpServer.create(new InetSocketAddress(config.host, config.port), 0)
    // daemon threads: an embedded server must never keep the JVM alive
    // after the driver's main returns
    server.setExecutor(Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "graft-server")
      t.setDaemon(true)
      t
    }))
    server.createContext("/delta-sharing", (ex: HttpExchange) => route(ex))
    server.createContext("/data", (ex: HttpExchange) => serveData(ex))
    // The JDK server's internal HTTP-Dispatcher thread inherits daemon
    // status from the STARTING thread (setExecutor doesn't cover it); an
    // embedded server must not keep the driver JVM alive after main ends.
    val starter = new Thread(() => server.start(), "graft-server-starter")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    boundPort = server.getAddress.getPort
    this
  }

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null; boundPort = -1 }
  }

  // ------------------------------------------------------------- routing

  private def route(ex: HttpExchange): Unit =
    try {
      val rel0 = ex.getRequestURI.getPath.stripPrefix("/delta-sharing").stripPrefix("/")
      if (rel0 != "oauth/token") authenticate(ex) // the token endpoint mints auth
      val rel = rel0
      val parts = rel.split("/").filter(_.nonEmpty).toList
      val q = queryParams(ex)
      (ex.getRequestMethod, parts) match {
        case ("POST", List("oauth", "token")) => oauthToken(ex)
        case ("GET", List("shares")) => listShares(ex, q)
        case ("GET", List("shares", s)) => getShare(ex, s)
        case ("GET", List("shares", s, "schemas")) => listSchemas(ex, s, q)
        case ("GET", List("shares", s, "schemas", sc, "tables")) => listTables(ex, s, sc, q)
        case ("GET", List("shares", s, "all-tables")) => listAllTables(ex, s, q)
        case (m, List("shares", s, "schemas", sc, "tables", t, "version"))
            if m == "GET" || m == "HEAD" => tableVersion(ex, s, sc, t, q)
        case ("GET", List("shares", s, "schemas", sc, "tables", t, "metadata")) =>
          tableMetadata(ex, s, sc, t, q)
        case ("POST", List("shares", s, "schemas", sc, "tables", t, "query")) =>
          queryTable(ex, s, sc, t)
        case ("POST", List("shares", s, "schemas", sc, "tables", t, "queries", qid)) =>
          queryStatus(ex, s, sc, t, qid)
        case ("GET", List("shares", s, "schemas", sc, "tables", t, "changes")) =>
          tableChanges(ex, s, sc, t, q)
        case ("POST", List("shares", s, "schemas", sc, "tables", t, "temporary-table-credentials")) =>
          tableCredentials(ex, s, sc, t)
        case _ => throw GraftServerException.notFound(
          s"${ex.getRequestMethod} /${parts.mkString("/")} is not a sharing endpoint")
      }
    } catch {
      case e: GraftServerException => sendError(ex, e)
      case e: NoSuchElementException =>
        sendError(ex, GraftServerException.notFound(e.getMessage))
      case e: IllegalArgumentException =>
        sendError(ex, GraftServerException.badRequest(e.getMessage))
      case scala.util.control.NonFatal(e) =>
        sendError(ex, new GraftServerException(500, "INTERNAL_ERROR",
          s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    } finally ex.close()

  /** Constant-time bearer check (reference `DeltaSharingService.scala:843-854`);
    * a presented token may be the static bearer OR an OAuth access token
    * minted by [[oauthToken]].
    */
  private def authenticate(ex: HttpExchange): Unit =
    if (config.bearerToken.isDefined || config.oauthClients.nonEmpty) {
      val header = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
      if (!header.startsWith("Bearer "))
        throw GraftServerException.unauthorized("invalid or missing bearer token")
      val presented = header.stripPrefix("Bearer ")
      val staticOk = config.bearerToken.exists(Tokens.constantTimeEquals(presented, _))
      if (!staticOk && !oauthTokenValid(presented))
        throw GraftServerException.unauthorized("invalid or missing bearer token")
    }

  /** OAuth 2.0 client-credentials grant (the auth flow the reference
    * client implements, `client/.../auth`, ~340 LoC): POST /oauth/token
    * with form body `grant_type=client_credentials&client_id=..&
    * client_secret=..` → short-lived HMAC-signed access token.
    */
  private def oauthToken(ex: HttpExchange): Unit = {
    if (config.oauthClients.isEmpty)
      throw GraftServerException.notFound("OAuth is not configured on this server")
    val form = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      .split("&").filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv -> ""
        else java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap
    if (!form.get("grant_type").contains("client_credentials"))
      throw GraftServerException.badRequest("grant_type must be client_credentials")
    val id = form.getOrElse("client_id", "")
    val secret = form.getOrElse("client_secret", "")
    val ok = config.oauthClients.get(id).exists(Tokens.constantTimeEquals(secret, _))
    if (!ok) throw GraftServerException.unauthorized("invalid client credentials")
    val exp = now() + config.oauthTokenTtlSeconds * 1000
    val token = Tokens.encode(Tokens.OAuthTokenPayload(
      id, exp, Tokens.hmac(secret = this.secret, s"oauth:$id@$exp")))
    sendJson(ex, 200, JsonUtils.toJson(OAuthTokenResponse(
      access_token = token, token_type = "bearer",
      expires_in = config.oauthTokenTtlSeconds)))
  }

  private def oauthTokenValid(presented: String): Boolean =
    try {
      val p = Tokens.decode[Tokens.OAuthTokenPayload](presented, "oauth")
      p.expiration >= now() &&
        Tokens.constantTimeEquals(p.sig,
          Tokens.hmac(secret, s"oauth:${p.clientId}@${p.expiration}"))
    } catch { case scala.util.control.NonFatal(_) => false }

  // ------------------------------------------------------------ catalog

  private def catalogEntries: Seq[(String, String, String)] =
    GraftCatalog.listTables().map { fqn =>
      fqn.split("\\.") match {
        case Array(s, sc, t) => (s, sc, t)
        case Array(s, t)     => (s, "default", t)
        case _               => (fqn, "default", fqn)
      }
    }

  private def tableLocation(share: String, schema: String, table: String): String =
    shareCfg(share, schema, table).location

  private def shareCfg(
      share: String, schema: String, table: String): GraftCatalog.ShareConfig = {
    val fqn = s"$share.$schema.$table"
    try GraftCatalog.shareConfig(fqn)
    catch { case _: NoSuchElementException =>
      throw GraftServerException.notFound(s"table $fqn does not exist")
    }
  }

  /** The reference's per-table history gates
    * (`DeltaSharingService.scala:525-537,593-597,636-639`): a table shared
    * without history refuses every history-addressed read, and even a
    * history-shared table hides versions below its `startVersion`.
    */
  private def requireHistoryShared(
      cfg: GraftCatalog.ShareConfig, fqn: String, cdf: Boolean = false): Unit =
    if (!cfg.historyShared) throw GraftServerException.badRequest(
      if (cdf) s"cdf is not enabled on table $fqn"
      else "Reading table by version or timestamp is not supported because " +
        s"history sharing is not enabled on table: $fqn")

  private def requireSinceStartVersion(
      cfg: GraftCatalog.ShareConfig, version: Long): Unit =
    if (version < cfg.startVersion) throw GraftServerException.badRequest(
      s"You can only query table data since version ${cfg.startVersion}.")

  /** Last successfully served LATEST snapshot per location — the
    * staleness-fallback pool. With [[ServerConfig.stalenessAcceptable]]
    * (reference `ServerConfig.scala:55-57` / `DeltaSharedTableLoader
    * .scala:70-72`), a failed refresh serves the last known state instead
    * of an error; version-pinned reads never fall back (a pinned version
    * must be exact or fail).
    */
  private val lastGoodSnapshot =
    scala.collection.concurrent.TrieMap.empty[String, graft.log.Snapshot]

  private def latestSnapshot(l: GraftLog, location: String): graft.log.Snapshot =
    try {
      // freshness comes from latestVersion() (an O(1) existence probe past
      // the cached listing); the replay itself is immutable per version and
      // resolves through the process LRU — without this every latest-version
      // /query re-replays the whole log, O(files) per REQUEST at 10^5 files
      val s = GraftCatalog.snapshotAt(l, l.latestVersion())
      lastGoodSnapshot(location) = s
      s
    } catch {
      case scala.util.control.NonFatal(e) if config.stalenessAcceptable =>
        lastGoodSnapshot.getOrElse(location, throw e)
    }

  private def log(share: String, schema: String, table: String): GraftLog =
    new GraftLog(tableLocation(share, schema, table), hadoopConf)

  // ----------------------------------------------------------- listings

  /** maxResults/pageToken slice over a stable listing (reference
    * `SharedTableManager.getPage:66-93`).
    */
  private def page[T](items: Seq[T], q: Map[String, String], scope: String): (Seq[T], Option[String]) = {
    val max = q.get("maxResults").map(_.toInt).getOrElse(500)
    if (max <= 0) throw GraftServerException.badRequest("maxResults must be positive")
    val offset = q.get("pageToken").map { t =>
      val p = Tokens.decode[Tokens.ListTokenPayload](t, "page")
      if (p.scope != scope) throw GraftServerException.badRequest("page token scope mismatch")
      p.offset
    }.getOrElse(0)
    val slice = items.slice(offset, offset + max)
    val next = if (offset + max < items.size)
      Some(Tokens.encode(Tokens.ListTokenPayload(scope, offset + max))) else None
    (slice, next)
  }

  private def listShares(ex: HttpExchange, q: Map[String, String]): Unit = {
    val shares = catalogEntries.map(_._1).distinct.sorted.map(Share(_))
    val (items, next) = page(shares, q, "shares")
    sendJson(ex, 200, JsonUtils.toJson(ListSharesResponse(items, next.orNull)))
  }

  private def getShare(ex: HttpExchange, share: String): Unit = {
    if (!catalogEntries.exists(_._1 == share))
      throw GraftServerException.notFound(s"share $share does not exist")
    sendJson(ex, 200, JsonUtils.toJson(GetShareResponse(Share(share))))
  }

  private def listSchemas(ex: HttpExchange, share: String, q: Map[String, String]): Unit = {
    if (!catalogEntries.exists(_._1 == share))
      throw GraftServerException.notFound(s"share $share does not exist")
    val schemas = catalogEntries.filter(_._1 == share).map(_._2).distinct.sorted
      .map(Schema(_, share))
    val (items, next) = page(schemas, q, s"schemas:$share")
    sendJson(ex, 200, JsonUtils.toJson(ListSchemasResponse(items, next.orNull)))
  }

  private def listTables(
      ex: HttpExchange, share: String, schema: String, q: Map[String, String]): Unit = {
    val tables = catalogEntries.filter(e => e._1 == share && e._2 == schema)
    if (tables.isEmpty)
      throw GraftServerException.notFound(s"schema $share.$schema does not exist")
    val items0 = tables.map(_._3).sorted.map(t => Table(t, schema, share))
    val (items, next) = page(items0, q, s"tables:$share.$schema")
    sendJson(ex, 200, JsonUtils.toJson(ListTablesResponse(items, next.orNull)))
  }

  private def listAllTables(ex: HttpExchange, share: String, q: Map[String, String]): Unit = {
    val tables = catalogEntries.filter(_._1 == share)
    if (tables.isEmpty)
      throw GraftServerException.notFound(s"share $share does not exist")
    val items0 = tables.sortBy(e => (e._2, e._3)).map(e => Table(e._3, e._2, share))
    val (items, next) = page(items0, q, s"all-tables:$share")
    sendJson(ex, 200, JsonUtils.toJson(ListTablesResponse(items, next.orNull)))
  }

  // ------------------------------------------------- version / metadata

  private def tableVersion(
      ex: HttpExchange, share: String, schema: String, table: String,
      q: Map[String, String]): Unit = {
    val l = log(share, schema, table)
    val version = q.get("startingTimestamp") match {
      case Some(ts) =>
        // earliest version at or after the timestamp (PROTOCOL version query)
        requireHistoryShared(shareCfg(share, schema, table), s"$share.$schema.$table")
        val ms = parseWireTimestamp(ts)
        l.versionAtOrAfter(ms)
      case None =>
        try l.latestVersion()
        catch {
          case scala.util.control.NonFatal(e) if config.stalenessAcceptable =>
            lastGoodSnapshot.get(tableLocation(share, schema, table))
              .map(_.version).getOrElse(throw e)
        }
    }
    ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, version.toString)
    if (ex.getRequestMethod == "HEAD") { ex.sendResponseHeaders(200, -1) }
    else sendJson(ex, 200, "{}")
  }

  private def tableMetadata(
      ex: HttpExchange, share: String, schema: String, table: String,
      q: Map[String, String]): Unit = {
    val l = log(share, schema, table)
    val version = q.get("version").map(_.toLong)
    val timestamp = q.get("timestamp").map(parseWireTimestamp)
    if (version.isDefined && timestamp.isDefined)
      throw GraftServerException.badRequest("at most one of version/timestamp")
    if (version.isDefined || timestamp.isDefined) {
      val cfg = shareCfg(share, schema, table)
      requireHistoryShared(cfg, s"$share.$schema.$table")
      version.foreach(requireSinceStartVersion(cfg, _))
    }
    version.foreach(v => requireVersionExists(l, v))
    val resolved = version.orElse(timestamp.map(l.versionAtOrBefore))
    val snap = resolved match {
      case Some(v) => GraftCatalog.snapshotAt(l, v)
      case None    => latestSnapshot(l, tableLocation(share, schema, table))
    }
    ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, snap.version.toString)
    negotiateFormat(ex, snap.metadata) match {
      case FORMAT_DELTA => sendNdjson(ex, Seq(
        deltaProtoJson(snap.metadata, snap.protocol),
        deltaMetaJson(snap.metadata, snap.version,
          size = snap.files.map(_.size).sum, numFiles = snap.files.size.toLong)),
        FORMAT_DELTA)
      case _ => sendNdjson(ex, Seq(
        Line(protocol = wire.Protocol()).json,
        Line(metaData = wireMetadata(snap.metadata, snap.version)).json))
    }
  }

  // ---------------------------------------------------------------- query

  private def queryTable(
      ex: HttpExchange, share: String, schema: String, table: String): Unit = {
    val body = new String(readAll(ex.getRequestBody), UTF_8)
    val req = if (body.trim.isEmpty) QueryRequest()
      else try JsonUtils.fromJson[QueryRequest](body)
      catch { case scala.util.control.NonFatal(e) =>
        throw GraftServerException.badRequest(s"malformed query request: ${e.getMessage}")
      }

    if ((req.version != null).toInt + (req.timestamp != null).toInt +
        (req.startingVersion != null).toInt > 1)
      throw GraftServerException.badRequest(
        "at most one of version/timestamp/startingVersion may be set")
    Option(req.maxFiles).foreach(m =>
      if (m <= 0) throw GraftServerException.badRequest("maxFiles must be positive"))
    if (req.endingVersion != null && req.startingVersion == null)
      throw GraftServerException.badRequest("endingVersion requires startingVersion")

    val l = log(share, schema, table)
    val tableKey = s"$share.$schema.$table"
    val cfg = shareCfg(share, schema, table)
    val location = cfg.location

    if (req.version != null || req.timestamp != null || req.startingVersion != null) {
      requireHistoryShared(cfg, tableKey)
      Option(req.version).map(_.longValue())
        .orElse(Option(req.startingVersion).map(_.longValue()))
        .foreach(requireSinceStartVersion(cfg, _))
    }

    // Async execution (PROTOCOL.md:3425-3472): requested via the
    // delta-sharing-capabilities header; the snapshot result is computed,
    // parked under a queryId, and only a queryStatus handle returned —
    // the client polls POST .../queries/{queryId} for the lines.
    val async = Option(ex.getRequestHeaders.getFirst(CAPABILITIES_HEADER))
      .exists(_.toLowerCase.contains("asyncquery=true"))

    if (req.startingVersion != null) {
      // version-range (streaming backbone): all data-change actions.
      val start = req.startingVersion.longValue()
      val end = Option(req.endingVersion).map(_.longValue()).getOrElse(l.latestVersion())
      if (start > end) throw GraftServerException.badRequest(
        s"startingVersion($start) > endingVersion($end)")
      requireVersionExists(l, start)
      serveChangeLines(ex, l, location, tableKey, start, end,
        maxFiles = Option(req.maxFiles).map(_.intValue()),
        pageToken = Option(req.pageToken), cdfMode = false,
        includeHistoricalMetadata = true,
        includeHistoricalProtocol =
          Option(req.includeHistoricalProtocol).exists(_.booleanValue()))
    } else if (async) {
      sweepAsyncResults()
      // Idempotent submit: a retry carrying the same idempotencyKey gets
      // the already-parked queryId back BEFORE any recompute (the result
      // line set is the expensive part). The dedup key is SCOPED to the
      // table plus a fingerprint of the query parameters — a client
      // reusing one idempotencyKey against a different table (or with
      // different version/predicate params) is a different query and must
      // be recomputed, never answered with the first query's lines. The
      // only atomic step is the queryId reservation (putIfAbsent): two
      // concurrent same-key submits agree on one queryId, then both
      // compute outside any lock (results are equivalent by construction
      // — same table, same fingerprint) and the parks collapse onto the
      // shared id. Snapshot compute and response I/O never hold a lock.
      val scopedKey = Option(req.idempotencyKey)
        .map(k => s"$tableKey|${queryChecksum(tableKey, req)}|$k")
      val freshId = java.util.UUID.randomUUID().toString
      val queryId = scopedKey match {
        case Some(k) => asyncByIdempotencyKey.putIfAbsent(k, freshId).getOrElse(freshId)
        case None    => freshId
      }
      asyncResults.get(queryId).filter(_.expiration >= now()) match {
        case Some(parked) =>
          ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, parked.version.toString)
          sendNdjson(ex, parked.lines.take(2) :+
            Line(queryStatus = QueryStatus(queryId)).json, parked.format)
        case None =>
          val (version, lines, fmt) = queryTableSnapshot(l, location, tableKey, req, ex)
          requireSinceStartVersion(cfg, version) // timestamp-resolved versions too
          ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, version.toString)
          asyncResults.put(queryId, AsyncResult(version, lines, now() + config.pageTokenTtlMs, fmt))
          sendNdjson(ex, lines.take(2) :+ Line(queryStatus = QueryStatus(queryId)).json, fmt)
      }
    } else {
      val (version, lines, fmt) = queryTableSnapshot(l, location, tableKey, req, ex)
      requireSinceStartVersion(cfg, version) // timestamp-resolved versions too
      ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, version.toString)
      sendNdjson(ex, lines, fmt)
    }
  }

  private case class AsyncResult(
      version: Long, lines: Seq[String], expiration: Long,
      format: String = GraftServer.FORMAT_PARQUET)
  private val asyncResults =
    scala.collection.concurrent.TrieMap.empty[String, AsyncResult]
  private val asyncByIdempotencyKey =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Retention hygiene: expired parked results (full NDJSON line sets) are
    * dropped on every submit, and a served result's TTL is cut to a short
    * grace window — a long-lived server never accumulates them.
    */
  private def sweepAsyncResults(): Unit = {
    val cutoff = now()
    asyncResults.filterInPlace((_, r) => r.expiration >= cutoff)
    asyncByIdempotencyKey.filterInPlace((_, id) => asyncResults.contains(id))
  }

  /** Poll endpoint for an async query's parked result. Serving does not
    * free the result immediately — a client whose poll response is lost
    * in transit (connection reset mid-body) retries and must not land on
    * a 404 with the query unrecoverable. Instead the expiration is
    * shortened to a retry-grace window ([[ServerConfig.asyncServedGraceMs]])
    * and [[sweepAsyncResults]] reclaims it from there.
    */
  private def queryStatus(
      ex: HttpExchange, share: String, schema: String, table: String,
      queryId: String): Unit = {
    tableLocation(share, schema, table) // 404 on unknown table
    asyncResults.get(queryId).filter(_.expiration >= now()) match {
      case Some(res) =>
        ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, res.version.toString)
        val graced = math.min(res.expiration, now() + config.asyncServedGraceMs)
        asyncResults.put(queryId, res.copy(expiration = graced))
        sendNdjson(ex, res.lines, res.format)
      case None =>
        throw GraftServerException.notFound(s"query $queryId does not exist or expired")
    }
  }

  /** `dir` access mode: vend expiring credentials for the whole table
    * root instead of per-file URLs (local-mode counterpart of the
    * reference's STS/SAS vendors, `server/.../credential dir`).
    */
  private def tableCredentials(
      ex: HttpExchange, share: String, schema: String, table: String): Unit = {
    val location = tableLocation(share, schema, table)
    val exp = now() + config.preSignedUrlTimeoutSeconds * 1000
    val rootUri = new Path(location).toUri
    val tablePath =
      if (rootUri.getScheme == null) s"file://$location" else rootUri.toString
    // Optional location override (reference `CredentialContext
    // .temporaryCredentialLocationAllowed`): the requested location must
    // be the table root or strictly under it — credentials are scoped to
    // the share, never a sibling path; an unparsable body means no
    // override (the reference's lenient parse).
    val requested = {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      if (body.trim.isEmpty) None
      else try Option(JsonUtils.mapper.readTree(body))
        .flatMap(n => Option(n.get("location"))).filter(!_.isNull)
        .map(_.asText())
      catch { case scala.util.control.NonFatal(_) => None }
    }
    requested.foreach { req =>
      def parts(u: String): (String, String) = {
        val uri = new java.net.URI(u).normalize()
        val scheme = Option(uri.getScheme).getOrElse("file").toLowerCase
        val path = Option(uri.getPath).getOrElse("")
          .stripSuffix("/")
        (scheme, path)
      }
      val (tScheme, tPath) = parts(tablePath)
      val (rScheme, rPath) = parts(req)
      val under = tScheme == rScheme &&
        (rPath == tPath || rPath.startsWith(tPath + "/"))
      if (!under) throw GraftServerException.badRequest(
        "The requested location must be the same as or under this table's " +
          "configured storage location.")
    }
    val scope = requested.getOrElse(tablePath)
    // the credential itself is bound to the NARROWED scope — a location
    // override that only narrowed the advertised tablePath while the
    // token still granted the table root would be scope theater
    sendJson(ex, 200, JsonUtils.toJson(TableCredentials(
      tablePath = scope,
      expirationTimestamp = exp,
      credentialsType = "local-file",
      accessToken = Tokens.hmac(secret, s"dir:$scope@$exp"))))
  }

  private def queryTableSnapshot(
      l: GraftLog, location: String, tableKey: String,
      req: QueryRequest, ex: HttpExchange): (Long, Seq[String], String) = {
    // Version resolution order: pageToken > explicit version > timestamp >
    // refreshToken > latest (reference `DeltaSharedTable.scala:382-413`).
    val pageTok = Option(req.pageToken)
      .map(Tokens.decode[Tokens.PageTokenPayload](_, "page"))
    pageTok.foreach { p =>
      if (p.table != tableKey)
        throw GraftServerException.badRequest("page token is for a different table")
      if (p.expiration < now())
        throw GraftServerException.badRequest("page token expired")
      if (p.checksum != queryChecksum(tableKey, req))
        throw GraftServerException.badRequest(
          "page token does not match the query parameters")
    }
    val refreshTok = Option(req.refreshToken)
      .map(Tokens.decode[Tokens.RefreshTokenPayload](_, "refresh"))
    refreshTok.foreach { r =>
      if (r.table != tableKey)
        throw GraftServerException.badRequest("refresh token is for a different table")
      if (r.expiration < now())
        throw GraftServerException.badRequest("refresh token expired")
    }

    Option(req.version).foreach(v => requireVersionExists(l, v.longValue()))
    val explicit: Option[Long] = pageTok.map(_.version)
      .orElse(Option(req.version).map(_.longValue()))
      .orElse(Option(req.timestamp).map(ts => l.versionAtOrBefore(parseWireTimestamp(ts))))
      .orElse(refreshTok.map(_.version))

    val tSnap = System.nanoTime()
    val snap = explicit match {
      // pinned versions are immutable — resolve through the process LRU so
      // continuation pages don't re-replay the log (O(files) per page)
      case Some(v) => GraftCatalog.snapshotAt(l, v)
      case None    => latestSnapshot(l, location)
    }
    addPhase("snapshot", System.nanoTime() - tSnap)
    val version = snap.version
    val fmt = negotiateFormat(ex, snap.metadata)
    val partitionSchema = org.apache.spark.sql.types.StructType(
      snap.metadata.partitionColumns.map(c => snap.schema(c)))

    // File-level operators, in reference order: SQL-hint partition
    // pruning, json-predicate stats skipping, limit hint, pagination —
    // run through the snapshot's file index. The full prune → skip → limit
    // pipeline is a pure function of (snapshot version, query
    // parameters); the query checksum binds every parameter, so the
    // result caches per (location, version, checksum) as index positions
    // and continuation pages SLICE instead of recomputing.
    val checksum = queryChecksum(tableKey, req)
    val tList = System.nanoTime()
    val index = snap.index
    val positions: Array[Int] =
      GraftCatalog.filteredListing(location, version, checksum) {
        val sqlOp = PartitionHintPruner.op(
          Option(req.predicateHints).getOrElse(Nil), partitionSchema)
        val jsonOp = Option(req.jsonPredicateHints).flatMap { hint =>
          try Some(JsonPredicates.fromJson(hint))
          catch { case scala.util.control.NonFatal(_) => None } // best-effort
        }
        // Hints speak LOGICAL column names; on a column-mapped table the
        // files' partitionValues/stats are keyed by PHYSICAL names, so
        // each hinted name resolves to its physical key once. A raw
        // mismatch would resolve every hinted column to "all null" and
        // silently skip every matching file.
        val physicalKey: String => Option[String] =
          if (!graft.model.ColumnMapping.isEnabled(snap.metadata)) Some(_)
          else {
            val names = graft.model.ColumnMapping.nameMap(snap.schema)
            val renamed = names.collect { case (lg, ph) if lg != ph => ph }.toSet
            n => names.get(n).orElse(if (renamed(n)) None else Some(n))
          }
        val kept = (sqlOp ++ jsonOp).toSeq match {
          case Seq() => index.pathOrder
          case ops =>
            val mask = index.keep(AndOp(ops),
              snap.metadata.partitionColumns.toSet, physicalKey)
            index.pathOrder.filter(mask(_))
        }
        val hadPredicates = Option(req.predicateHints).exists(_.nonEmpty) ||
          req.jsonPredicateHints != null
        Option(req.limitHint) match {
          case Some(limit) if !hadPredicates =>
            var cum = 0L
            kept.takeWhile { i =>
              val take = cum < limit.longValue()
              val live = index(i).liveRecords // Long.MaxValue without stats
              cum = if (live > Long.MaxValue - cum) Long.MaxValue else cum + live
              take
            }
          case _ => kept
        }
      }

    addPhase("listing", System.nanoTime() - tList)

    // Pagination slice with checksummed continuation token.
    val startIndex = pageTok.map(_.startIndex).getOrElse(0)
    val pageSize = Option(req.maxFiles).map(_.intValue())
      .getOrElse(config.queryTablePageSizeLimit)
      .min(config.queryTablePageSizeLimit)
    val pageFiles = positions.slice(startIndex, startIndex + pageSize).map(index(_))
    val nextPageToken = if (startIndex + pageSize < positions.length)
      Some(Tokens.encode(Tokens.PageTokenPayload(
        tableKey, version, startIndex + pageSize,
        checksum, now() + config.pageTokenTtlMs)))
    else None

    val expiration = now() + config.preSignedUrlTimeoutSeconds * 1000
    val idScheme = fileIdScheme(ex, fmt)
    val tRender = System.nanoTime()
    val fileLines = pageFiles.map { f =>
      if (fmt == FORMAT_DELTA)
        DeltaLine(file = DeltaFileW(
          id = Tokens.fileId(location, f.path, idScheme),
          deletionVectorFileId = dvFileId(location, f, idScheme).orNull,
          expirationTimestamp = expiration,
          deltaSingleAction = DeltaSingleActionW(add = DeltaAddW(
            path = signUrl(location, f.path, expiration),
            partitionValues = f.partitionValues,
            size = f.size,
            modificationTime = f.timestamp,
            dataChange = true,
            stats = f.stats.map(JsonUtils.toJson).orNull,
            deletionVector = deltaDv(location, f, expiration).orNull,
            baseRowId = f.baseRowId.map(java.lang.Long.valueOf).orNull,
            defaultRowCommitVersion =
              f.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull,
            tags = f.tags.filter(_.nonEmpty).orNull)))).json
      else Line(file = wire.File(
        url = signUrl(location, f.path, expiration),
        id = Tokens.fileId(location, f.path, idScheme),
        partitionValues = f.partitionValues,
        size = f.size,
        stats = f.stats.map(JsonUtils.toJson).orNull,
        expirationTimestamp = expiration)).json
    }
    addPhase("render", System.nanoTime() - tRender)
    val refreshToken = if (Option(req.includeRefreshToken).exists(_.booleanValue()))
      Some(Tokens.encode(Tokens.RefreshTokenPayload(
        tableKey, version, now() + config.refreshTokenTtlMs)))
    else None
    val end = if (nextPageToken.isDefined || refreshToken.isDefined ||
        wantsEndStreamAction(ex))
      Seq(Line(endStreamAction = EndStreamAction(
        refreshToken = refreshToken.orNull,
        nextPageToken = nextPageToken.orNull,
        minUrlExpirationTimestamp = if (pageFiles.nonEmpty) expiration else null)).json)
    else Nil

    val head =
      if (fmt == FORMAT_DELTA)
        Seq(deltaProtoJson(snap.metadata, snap.protocol),
          deltaMetaJson(snap.metadata, version))
      else
        Seq(Line(protocol = wire.Protocol()).json,
          Line(metaData = wireMetadata(snap.metadata, version)).json)
    (version, head ++ fileLines ++ end, fmt)
  }

  // -------------------------------------------------------------- changes

  private def tableChanges(
      ex: HttpExchange, share: String, schema: String, table: String,
      q: Map[String, String]): Unit = {
    val l = log(share, schema, table)
    val cfg = shareCfg(share, schema, table)
    val location = cfg.location
    requireHistoryShared(cfg, s"$share.$schema.$table", cdf = true)
    if (q.contains("startingVersion") && q.contains("startingTimestamp"))
      throw GraftServerException.badRequest(
        "at most one of startingVersion/startingTimestamp")
    if (q.contains("endingVersion") && q.contains("endingTimestamp"))
      throw GraftServerException.badRequest(
        "at most one of endingVersion/endingTimestamp")
    // Boundary asymmetry (reference `DeltaSharingCDCReader.scala:95-136`):
    // start timestamp resolves at-or-AFTER, end at-or-BEFORE.
    val start = q.get("startingVersion").map(_.toLong)
      .orElse(q.get("startingTimestamp").map(ts => l.versionAtOrAfter(parseWireTimestamp(ts))))
      .getOrElse(throw GraftServerException.badRequest(
        "startingVersion or startingTimestamp is required"))
    val end = q.get("endingVersion").map(_.toLong)
      .orElse(q.get("endingTimestamp").map(ts => l.versionAtOrBefore(parseWireTimestamp(ts))))
      .getOrElse(l.latestVersion())
    if (start > end) throw GraftServerException.badRequest(
      s"starting version($start) > ending version($end)")
    requireSinceStartVersion(cfg, start)
    requireVersionExists(l, start)
    val snap = GraftCatalog.snapshotAt(l, start)
    if (!graft.log.GraftCDF.isEnabled(snap.metadata))
      throw GraftServerException.badRequest(
        s"Change Data Feed is not enabled on table $share.$schema.$table")
    serveChangeLines(ex, l, location, s"$share.$schema.$table", start, end,
      maxFiles = q.get("maxFiles").map(_.toInt), pageToken = q.get("pageToken"),
      cdfMode = true,
      includeHistoricalMetadata = q.get("includeHistoricalMetadata").exists(_.toBoolean),
      includeHistoricalProtocol =
        q.get("includeHistoricalProtocol").exists(_.toBoolean))
  }

  /** Shared NDJSON emitter for version-range queries (cdfMode=false: all
    * dataChange add/remove actions) and CDF (cdfMode=true: cdc-priority
    * per version — reference `DeltaSharingCDCReader.scala:244-292`).
    */
  private def serveChangeLines(
      ex: HttpExchange, l: GraftLog, location: String, tableKey: String,
      start: Long, requestedEnd: Long, maxFiles: Option[Int], pageToken: Option[String],
      cdfMode: Boolean, includeHistoricalMetadata: Boolean,
      includeHistoricalProtocol: Boolean = false): Unit = {
    val expiration = now() + config.preSignedUrlTimeoutSeconds * 1000

    def sign(p: String): String = signUrl(location, p, expiration)
    // assigned once the dialect is negotiated below (fileidhash header
    // with the format-aligned default)
    var changeScheme: String = "parquet"
    def id(p: String): String = Tokens.fileId(location, p, changeScheme)

    // Continuation pages pin the ending version from the token (its
    // `version` field stores the first page's resolved end), NOT from a
    // fresh latestVersion() — a commit landing between pages must not
    // shift the range and 400 every subsequent page (the reference pins
    // endingVersion into its continuation token the same way).
    val tok = pageToken.map { t =>
      val p = Tokens.decode[Tokens.PageTokenPayload](t, "page")
      if (p.table != tableKey)
        throw GraftServerException.badRequest("page token is for a different table")
      if (p.expiration < now())
        throw GraftServerException.badRequest("page token expired")
      p
    }
    val end = tok.map(_.version).getOrElse(requestedEnd)
    tok.foreach { p =>
      if (p.checksum != changeChecksum(tableKey, start, end, cdfMode, includeHistoricalProtocol))
        throw GraftServerException.badRequest(
          "page token does not match the query parameters")
    }

    val startSnap = GraftCatalog.snapshotAt(l, start)
    val fmt = negotiateFormat(ex, startSnap.metadata)
    changeScheme = fileIdScheme(ex, fmt)
    val delta = fmt == FORMAT_DELTA
    // Historical Protocol actions only have a representation in the delta
    // dialect; the flag is ignored for parquet responses so the legacy
    // wire shape never changes (reference `DeltaSharedTable.scala:426-433`).
    val emitHistProto = includeHistoricalProtocol && delta

    def deltaFile(single: DeltaSingleActionW, path: String,
        version: Long, timestamp: Long): String =
      DeltaLine(file = DeltaFileW(
        id = id(path), version = version, timestamp = timestamp,
        expirationTimestamp = expiration, deltaSingleAction = single)).json

    // a DV'd add cannot be represented in the flat parquet dialect — the
    // descriptor would be silently dropped and clients would read deleted
    // rows; the start snapshot's config may predate the feature, so gate
    // on the actions actually served (reference: kernel rejects per-commit)
    if (!delta) {
      GraftCatalog.changesBetween(l, start, end).foreach(_.actions.foreach {
        case a: AddFile if a.deletionVector.isDefined =>
          throw GraftServerException.unsupported(
            "the requested version range contains files with deletion vectors, " +
              "which the parquet response format cannot represent; request " +
              "responseformat=delta with readerfeatures=deletionvectors")
        case _ => ()
      })
    }

    // Historical-protocol walk state: the effective (metadata, protocol)
    // pair as of the last processed commit, starting from the range-start
    // snapshot (which the head line covers). A commit strictly after
    // `start` that CHANGES the effective wire protocol — via a logged
    // Protocol action (real delta logs) or a metadata-driven feature
    // enablement (graft-mode logs) — emits one version-stamped protocol
    // line (reference `DeltaSharedTable.scala:672-675`).
    var runMeta = startSnap.metadata
    var runProto = startSnap.protocol
    var lastEmittedProto = deltaProtoW(runMeta, runProto)
    // Each entry is a RENDER THUNK: which lines exist (and their order) is
    // decided eagerly — the walk state, sorts, and counts are O(range
    // actions) bookkeeping — but URL signing and JSON serialization run
    // only for the page actually sliced below. Signing is the expensive
    // step (HMAC / SigV4 per file), so a page walk must sign
    // O(files-returned) per page, never O(files-in-range).
    val actionLines: IndexedSeq[() => String] =
      GraftCatalog.changesBetween(l, start, end).flatMap { commit =>
      val protoLines: Seq[() => String] = if (emitHistProto) {
        commit.actions.foreach {
          case p: graft.model.Protocol => runProto = p
          case m: graft.model.Metadata => runMeta = m
          case _ => ()
        }
        val w = deltaProtoW(runMeta, runProto)
        if (commit.version > start && w != lastEmittedProto) {
          lastEmittedProto = w
          Seq(() => DeltaLine(protocol =
            DeltaProtocolLine(w, version = commit.version)).json)
        } else { lastEmittedProto = w; Nil }
      } else Nil
      val metaLines: Seq[() => String] = if (includeHistoricalMetadata)
        commit.actions.collect { case m: graft.model.Metadata => () =>
          if (delta) deltaMetaJson(m, commit.version)
          else Line(metaData = wireMetadata(m, commit.version)).json
        }
      else Nil
      val cdc = commit.actions.collect { case c: AddCDCFile => c }
      val dataLines: Seq[() => String] =
        if (cdfMode && cdc.nonEmpty) {
          cdc.sortBy(_.path).map(c => () =>
            if (delta) deltaFile(DeltaSingleActionW(cdc = DeltaCdcW(
              path = sign(c.path), partitionValues = c.partitionValues,
              size = c.size)), c.path, commit.version, commit.timestamp)
            else Line(cdf = CdcFileW(
              url = sign(c.path), id = id(c.path), partitionValues = c.partitionValues,
              size = c.size, version = commit.version, timestamp = commit.timestamp,
              expirationTimestamp = expiration)).json)
        } else {
          val adds = commit.actions
            .collect { case a: AddFile if a.dataChange => a }.sortBy(_.path)
            .map(a => () =>
              if (delta) deltaFile(DeltaSingleActionW(add = DeltaAddW(
                path = sign(a.path), partitionValues = a.partitionValues,
                size = a.size, modificationTime = a.timestamp, dataChange = true,
                stats = a.stats.map(JsonUtils.toJson).orNull,
                deletionVector = deltaDv(location, a, expiration).orNull,
                baseRowId = a.baseRowId.map(java.lang.Long.valueOf).orNull,
                defaultRowCommitVersion =
                  a.defaultRowCommitVersion.map(java.lang.Long.valueOf).orNull,
                tags = a.tags.filter(_.nonEmpty).orNull)),
                a.path, commit.version, commit.timestamp)
              else Line(add = AddFileW(
                url = sign(a.path), id = id(a.path), partitionValues = a.partitionValues,
                size = a.size, stats = a.stats.map(JsonUtils.toJson).orNull,
                version = commit.version, timestamp = commit.timestamp,
                expirationTimestamp = expiration)).json)
          val removes = commit.actions
            .collect { case r: RemoveFile if r.dataChange => r }.sortBy(_.path)
            .map(r => () =>
              if (delta) deltaFile(DeltaSingleActionW(remove = DeltaRemoveW(
                path = sign(r.path), partitionValues = r.partitionValues,
                size = r.size, dataChange = true,
                deletionTimestamp = commit.timestamp)),
                r.path, commit.version, commit.timestamp)
              else Line(remove = RemoveFileW(
                url = sign(r.path), id = id(r.path), partitionValues = r.partitionValues,
                size = r.size, version = commit.version, timestamp = commit.timestamp,
                expirationTimestamp = expiration)).json)
          adds ++ removes
        }
      protoLines ++ metaLines ++ dataLines
    }.toIndexedSeq

    // Pagination over the flattened action list; only the sliced page is
    // rendered (and therefore signed).
    val startIndex = tok.map(_.startIndex).getOrElse(0)
    val pageSize = maxFiles.getOrElse(config.queryTablePageSizeLimit)
      .min(config.queryTablePageSizeLimit)
    val pageLines = actionLines.slice(startIndex, startIndex + pageSize).map(_())
    val endLines = if (startIndex + pageSize < actionLines.size)
      Seq(Line(endStreamAction = EndStreamAction(
        nextPageToken = Tokens.encode(Tokens.PageTokenPayload(
          tableKey, end, startIndex + pageSize,
          changeChecksum(tableKey, start, end, cdfMode, includeHistoricalProtocol),
          now() + config.pageTokenTtlMs)))).json)
    else if (wantsEndStreamAction(ex))
      Seq(Line(endStreamAction = EndStreamAction(
        minUrlExpirationTimestamp =
          if (pageLines.nonEmpty) expiration else null)).json)
    else Nil

    ex.getResponseHeaders.set(DELTA_TABLE_VERSION_HEADER, end.toString)
    val head =
      // the head Protocol is version-stamped only under the opt-in, so
      // non-opted clients keep the exact previous delta wire shape
      if (delta) Seq(deltaProtoJson(startSnap.metadata, startSnap.protocol,
          version = if (emitHistProto) Long.box(start) else null),
        deltaMetaJson(startSnap.metadata, start))
      else Seq(Line(protocol = wire.Protocol()).json,
        Line(metaData = wireMetadata(startSnap.metadata, start)).json)
    sendNdjson(ex, head ++ pageLines ++ endLines, fmt)
  }

  // ----------------------------------------------------- pre-signed data

  /** Cloud-scheme locations sign with the REAL provider algorithm
    * (SigV4 / GOOG4 / Azure SAS — [[CloudSigners]]); local tables get
    * `http://host:port/data/<token>`, where the token binds (table,
    * path, expiration) under an HMAC so it cannot be forged or extended.
    */
  /** Test hook: total pre-signed URLs minted — pagination specs pin that
    * a page walk signs O(files-returned) per page, never O(files-total).
    */
  private[graft] val signCount = new java.util.concurrent.atomic.AtomicLong

  /** Probe hook: accumulated nanoseconds per /query phase (snapshot
    * resolution, listing pipeline, line render+sign) — the server-path
    * bench split: REST-layer regressions must not hide inside Spark scan
    * noise (round-12 verdict task #7). Keys: `snapshot`, `listing`,
    * `render`.
    */
  private[graft] val phaseNanos =
    scala.collection.concurrent.TrieMap.empty[String, java.util.concurrent.atomic.AtomicLong]
  private def addPhase(name: String, ns: Long): Unit =
    phaseNanos.getOrElseUpdate(name,
      new java.util.concurrent.atomic.AtomicLong).addAndGet(ns)
  private[graft] def resetPhases(): Unit = phaseNanos.clear()

  private[server] def signUrl(location: String, relPath: String, expiration: Long): String = {
    signCount.incrementAndGet()
    CloudSigners.presignFor(location, relPath,
      expiresSeconds = math.max(1L, (expiration - now()) / 1000),
      now = java.time.Instant.ofEpochMilli(now()),
      settings = config.cloudCredentials).getOrElse {
      val payload = Tokens.encode(Tokens.SignedPathPayload(
        location, relPath, expiration, Tokens.hmac(secret, s"$location/$relPath@$expiration")))
      s"http://${config.host}:$boundPort/data/$payload"
    }
  }

  /** Test hook: distinct client (ip, port) pairs seen on /data — with
    * keep-alive, one pooled connection keeps one port across requests, so
    * this counts CONNECTIONS, not requests.
    */
  private[graft] val dataConnections =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def serveData(ex: HttpExchange): Unit =
    try {
      dataConnections.add(ex.getRemoteAddress.toString)
      val token = ex.getRequestURI.getPath.stripPrefix("/data/")
      // any malformed/tampered token is a signature failure, not a client
      // protocol error — pre-signed URLs answer 403 like cloud storage
      val p = try Tokens.decode[Tokens.SignedPathPayload](token, "signed-url")
        catch { case _: GraftServerException =>
          throw GraftServerException.forbidden("invalid pre-signed URL")
        }
      if (!Tokens.constantTimeEquals(p.sig,
          Tokens.hmac(secret, s"${p.table}/${p.path}@${p.expiration}")))
        throw GraftServerException.forbidden("signature mismatch")
      if (p.expiration < now())
        throw GraftServerException.forbidden("pre-signed URL expired")
      val file = new Path(new Path(p.table), p.path)
      val fs = file.getFileSystem(hadoopConf)
      val status = fs.getFileStatus(file)
      val (offset, len, partial) = Option(ex.getRequestHeaders.getFirst("Range")) match {
        case Some(r) =>
          val m = RANGE_RE.findFirstMatchIn(r).getOrElse(
            throw GraftServerException.badRequest(s"unsupported Range: $r"))
          val from = m.group(1).toLong
          val to = Option(m.group(2)).filter(_ != null).filter(_.nonEmpty)
            .map(_.toLong).getOrElse(status.getLen - 1)
          (from, (to - from + 1).min(status.getLen - from), true)
        case None => (0L, status.getLen, false)
      }
      ex.getResponseHeaders.set("Accept-Ranges", "bytes")
      ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
      if (partial) {
        ex.getResponseHeaders.set("Content-Range",
          s"bytes $offset-${offset + len - 1}/${status.getLen}")
        ex.sendResponseHeaders(206, len)
      } else ex.sendResponseHeaders(200, len)
      val in = fs.open(file)
      try {
        in.seek(offset)
        copy(in, ex.getResponseBody, len)
      } finally in.close()
    } catch {
      case e: GraftServerException => sendError(ex, e)
      case scala.util.control.NonFatal(e) =>
        sendError(ex, new GraftServerException(500, "INTERNAL_ERROR", String.valueOf(e)))
    } finally ex.close()

  // ------------------------------------ capability negotiation (delta)

  /** Parsed `delta-sharing-capabilities` header: lowercased key → value
    * set (`PROTOCOL.md:3324-3378`, "responseformat=delta;readerfeatures=
    * deletionvectors,columnmapping").
    */
  private def capabilities(ex: HttpExchange): Map[String, Set[String]] =
    Option(ex.getRequestHeaders.getFirst(CAPABILITIES_HEADER)).getOrElse("")
      .split(";").toSeq.map(_.trim).filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('=')
        kv.substring(0, i).trim.toLowerCase ->
          kv.substring(i + 1).split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet
      }.toMap

  /** Advanced reader-feature table properties set to a non-disabled value
    * (reference `DeltaAction.tablePropertiesWithDisabledValues:45-50`),
    * plus the SCHEMA-carried reader features the configuration cannot
    * show: widened columns (narrow physical files exist) and VARIANT
    * columns both break a client that decodes raw parquet bytes against
    * the declared schema without those capabilities.
    */
  private def advancedProperties(m: graft.model.Metadata): Seq[String] = {
    val fromConfig =
      Seq("delta.columnMapping.mode" -> "none", "delta.enableDeletionVectors" -> "false")
        .collect { case (p, disabled)
          if m.configuration.get(p).exists(!_.equalsIgnoreCase(disabled)) => p }
    val fromSchema =
      (if (graft.log.TypeWidening.has(m.schemaString)) Seq("typeWidening") else Nil) ++
        (if (graft.log.TypeWidening.containsVariant(m.schemaString))
          Seq("variantType") else Nil)
    fromConfig ++ fromSchema
  }

  /** File-id scheme selection (`PROTOCOL.md` "File ID Hash Header"): the
    * standalone `fileidhash` request header picks `parquet` (MD5) or
    * `delta` (SHA-256) ids regardless of dialect; without it the
    * responded format's aligned scheme applies. A valid header is echoed
    * lowercased (the client verifies the echo); unsupported or blank
    * values are a 400, never a silently different scheme.
    */
  /** `includeendstreamaction=true` in the capabilities header: the
    * client wants EVERY NDJSON response terminated by an EndStreamAction
    * (truncated-stream detection), not only paginated ones; the server
    * echoes the capability so the client knows it was honored.
    */
  private def wantsEndStreamAction(ex: HttpExchange): Boolean =
    capabilities(ex).getOrElse("includeendstreamaction", Set.empty)
      .contains("true")

  private def fileIdScheme(ex: HttpExchange, fmt: String): String =
    Option(ex.getRequestHeaders.getFirst("fileidhash")) match {
      case None => if (fmt == FORMAT_DELTA) "delta" else "parquet"
      case Some(v) =>
        val n = v.trim.toLowerCase
        if (n != "parquet" && n != "delta") throw GraftServerException.badRequest(
          s"unsupported fileidhash value: '$v' (expected parquet or delta)")
        ex.getResponseHeaders.set("fileidhash", n)
        n
    }

  /** Negotiate the response dialect and gate advanced reader features
    * (reference `DeltaSharedTableKernel.getRespondedFormat:566-586` +
    * `SnapshotChecker.assertTableProperties:42-69`): parquet for basic
    * tables and legacy clients; delta when the client requests it AND its
    * declared readerfeatures cover the table's properties. A table whose
    * features the client cannot process is REJECTED with the protocol's
    * typed error — never served silently-wrong parquet.
    */
  private def negotiateFormat(ex: HttpExchange, m: graft.model.Metadata): String = {
    val caps = capabilities(ex)
    val formats = caps.getOrElse("responseformat", Set(FORMAT_PARQUET))
    val clientFeatures = caps.getOrElse("readerfeatures", Set.empty[String])
    val advanced = advancedProperties(m)
    def covered(p: String): Boolean = p match {
      case "delta.columnMapping.mode"    => clientFeatures.contains("columnmapping")
      case "delta.enableDeletionVectors" => clientFeatures.contains("deletionvectors")
      case "typeWidening"                => clientFeatures.contains("typewidening")
      case "variantType"                 => clientFeatures.contains("varianttype")
      case _                             => false
    }
    val fmt =
      if (formats == Set(FORMAT_DELTA)) FORMAT_DELTA
      else if (advanced.isEmpty && formats.contains(FORMAT_PARQUET)) FORMAT_PARQUET
      else if (formats.contains(FORMAT_DELTA)) FORMAT_DELTA
      else throw GraftServerException.unsupported(
        s"table has advanced reader features (${advanced.mkString(", ")}) that cannot " +
          "be represented in the parquet response format; request " +
          "responseformat=delta with matching readerfeatures")
    if (fmt == FORMAT_DELTA) {
      val uncovered = advanced.filterNot(covered)
      if (uncovered.nonEmpty) throw GraftServerException.unsupported(
        s"unsupported delta table properties for this client: " +
          s"${uncovered.mkString(", ")} (declare matching readerfeatures in " +
          s"$CAPABILITIES_HEADER)")
    }
    fmt
  }

  /** Reader features implied by the table configuration (feature-gated
    * delta protocol: reader 3 / writer 7 once any table feature is on).
    */
  private def deltaFeatures(m: graft.model.Metadata): Seq[String] = Seq(
    "columnMapping" -> m.configuration.get("delta.columnMapping.mode")
      .exists(v => !v.equalsIgnoreCase("none")),
    "deletionVectors" -> m.configuration.get("delta.enableDeletionVectors")
      .exists(_.equalsIgnoreCase("true")),
    "typeWidening" -> graft.log.TypeWidening.has(m.schemaString),
    "variantType" -> graft.log.TypeWidening.containsVariant(m.schemaString)
  ).collect { case (f, true) => f }

  /** The wire protocol for a (metadata, protocol) state: feature-gated
    * tables answer (3,7) with the UNION of metadata-derived features and
    * the logged protocol's reader features (graft-mode logs express
    * feature enablement through metadata configuration; real delta logs
    * through Protocol actions — the wire shape must cover both).
    */
  private def deltaProtoW(m: graft.model.Metadata,
      proto: graft.model.Protocol): DeltaProtocolW = {
    val features = (deltaFeatures(m) ++ proto.features).distinct
    if (features.nonEmpty)
      DeltaProtocolW(3, 7, readerFeatures = features, writerFeatures = features)
    else DeltaProtocolW(math.max(proto.minReaderVersion, 1), 2)
  }

  private def deltaProtoJson(m: graft.model.Metadata, proto: graft.model.Protocol,
      version: java.lang.Long = null): String =
    DeltaLine(protocol = DeltaProtocolLine(deltaProtoW(m, proto),
      version = version)).json

  /** Wire form of an add's deletion vector (delta dialect only): file-
    * backed DVs ("u"/"p") become storageType "p" with a pre-signed URL —
    * the DV file is served by the same /data endpoint (Range-capable) as
    * parquet bytes; inline "i" passes through unchanged.
    */
  private def deltaDv(location: String, f: graft.model.AddFile,
      expiration: Long): Option[wire.DeltaDvW] =
    f.deletionVector.map { dv =>
      dv.storageType match {
        case "i" => wire.DeltaDvW("i", dv.pathOrInlineDv, null,
          dv.sizeInBytes, dv.cardinality)
        case _ =>
          val rel = dvRelPath(location, dv)
          wire.DeltaDvW("p", signUrl(location, rel, expiration),
            dv.offset.map(Int.box).orNull, dv.sizeInBytes, dv.cardinality)
      }
    }

  /** Stable cache key for a file's DV (the descriptor's blob identity:
    * file + offset), `PROTOCOL.md:4111` deletionVectorFileId.
    */
  private def dvFileId(location: String, f: graft.model.AddFile,
      scheme: String = "parquet"): Option[String] =
    f.deletionVector.collect {
      case dv if dv.storageType != "i" =>
        Tokens.fileId(location,
          s"${dvRelPath(location, dv)}@${dv.offset.getOrElse(1)}", scheme)
    }

  private def dvRelPath(location: String, dv: graft.model.DeletionVectorDescriptor): String = {
    val abs = graft.log.DeletionVectors.dvFilePath(location, dv).toString
    val root = if (location.endsWith("/")) location else location + "/"
    if (abs.startsWith(root)) abs.substring(root.length)
    // outside the table root (a shallow clone's "p" descriptor): sign the
    // absolute path itself — the data endpoint resolves absolute child
    // paths, same as absolute add.path entries
    else abs
  }

  private def deltaMetaJson(m: graft.model.Metadata, version: java.lang.Long,
      size: java.lang.Long = null, numFiles: java.lang.Long = null): String =
    DeltaLine(metaData = DeltaMetadataLine(
      DeltaMetadataW(id = m.id, name = if (m.name.isEmpty) null else m.name,
        schemaString = m.schemaString, partitionColumns = m.partitionColumns,
        configuration = m.configuration),
      version = version, size = size, numFiles = numFiles)).json

  // ------------------------------------------------------------- helpers

  private def wireMetadata(m: graft.model.Metadata, version: Long): wire.Metadata =
    wire.Metadata(id = m.id, name = if (m.name.isEmpty) null else m.name,
      schemaString = m.schemaString, partitionColumns = m.partitionColumns,
      configuration = m.configuration, version = version)

  private def requireVersionExists(l: GraftLog, v: Long): Unit = {
    val vs = l.listVersions()
    if (vs.isEmpty || v < vs.head || v > vs.last)
      throw GraftServerException.badRequest(
        s"version $v is outside the table's version range [${vs.headOption.getOrElse(0L)}, ${vs.lastOption.getOrElse(0L)}]")
  }

  private def queryChecksum(tableKey: String, req: QueryRequest): String =
    Tokens.checksum(Seq(tableKey,
      // length-prefixed join: hint lists like ["a","b"] and ["a,b"] must
      // NOT collide — the checksum now keys the filtered-listing cache,
      // so a collision would serve one query another's pruned file list
      // (a silent under-return), not just mismatch a continuation token
      Option(req.predicateHints).getOrElse(Nil)
        .map(h => s"${h.length}:$h").mkString(","),
      String.valueOf(req.jsonPredicateHints), String.valueOf(req.limitHint),
      String.valueOf(req.version), String.valueOf(req.timestamp),
      String.valueOf(req.startingVersion), String.valueOf(req.endingVersion)))

  private def changeChecksum(tableKey: String, start: Long, end: Long, cdf: Boolean,
      histProto: Boolean = false): String =
    // histProto changes the served line list (and thus page indices), so
    // a continuation token must bind it like every other range parameter
    Tokens.checksum(Seq(tableKey, start.toString, end.toString, cdf.toString) ++
      (if (histProto) Seq("histProto") else Nil))

  private def sendError(ex: HttpExchange, e: GraftServerException): Unit = {
    if (!ex.getResponseHeaders.containsKey("Content-Type"))
      try sendJson(ex, e.status, JsonUtils.toJson(ErrorResponse(e.errorCode, e.getMessage)))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  private def sendJson(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  /** One JSON object per line (`PROTOCOL.md:3537-3545`); the negotiated
    * response dialect is echoed back (`PROTOCOL.md:3324-3378`).
    */
  private def sendNdjson(ex: HttpExchange, lines: Seq[String],
      format: String = FORMAT_PARQUET): Unit = {
    val bytes = (lines.mkString("\n") + "\n").getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/x-ndjson; charset=utf-8")
    val esa = if (wantsEndStreamAction(ex)) ";includeendstreamaction=true" else ""
    ex.getResponseHeaders.set(CAPABILITIES_HEADER, s"responseformat=$format$esa")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
  }

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Nil)
      .filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) kv -> ""
        else java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      }.toMap

  private implicit class BoolInt(b: Boolean) { def toInt: Int = if (b) 1 else 0 }
}

object GraftServer {
  val DELTA_TABLE_VERSION_HEADER = "Delta-Table-Version"
  val CAPABILITIES_HEADER = "delta-sharing-capabilities"
  val FORMAT_PARQUET = "parquet"
  val FORMAT_DELTA = "delta"

  private val RANGE_RE = """bytes=(\d+)-(\d*)""".r

  private[server] def now(): Long = System.currentTimeMillis()

  /** ISO-8601 or epoch-millis timestamp string → millis. */
  def parseWireTimestamp(s: String): Long =
    if (s.forall(_.isDigit)) s.toLong
    else graft.model.StatsCodec.parseTimestamp(s).toEpochMilli

  private def readAll(in: InputStream): Array[Byte] = in.readAllBytes()

  private def copy(in: InputStream, out: OutputStream, len: Long): Unit = {
    val buf = new Array[Byte](1 << 16)
    var remaining = len
    while (remaining > 0) {
      val n = in.read(buf, 0, math.min(buf.length.toLong, remaining).toInt)
      if (n < 0) return
      out.write(buf, 0, n)
      remaining -= n
    }
  }
}

/** Server tunables, defaults matching the reference's `ServerConfig`
  * (`ServerConfig.scala:48-95`).
  */
case class ServerConfig(
    host: String = "127.0.0.1",
    port: Int = 0, // 0 ⇒ ephemeral
    bearerToken: Option[String] = None,
    /** client_id → client_secret for the OAuth client-credentials grant. */
    oauthClients: Map[String, String] = Map.empty,
    oauthTokenTtlSeconds: Long = 3600,
    preSignedUrlTimeoutSeconds: Long = 3600,
    queryTablePageSizeLimit: Int = 10000,
    pageTokenTtlMs: Long = 259200000L,
    refreshTokenTtlMs: Long = 3600000L,
    /** How long a served async result stays pollable (lost-response retry). */
    asyncServedGraceMs: Long = 60000L,
    /** Accept serving a STALE cached snapshot when refreshing the table
      * state fails (storage listing outage) — the reference's
      * `stalenessAcceptable` (`ServerConfig.scala:55-57`), for static
      * tables where availability beats freshness. Only latest-snapshot
      * reads fall back; explicitly version-pinned reads never do.
      */
    stalenessAcceptable: Boolean = false,
    /** Cloud object-store credentials for [[CloudSigners.presignFor]]
      * (aws.accessKey/aws.secretKey/aws.region, gcs.*, azure.*). Tables
      * whose location scheme matches a configured provider get REAL
      * provider pre-signed URLs; everything else falls back to the
      * local HMAC data endpoint.
      */
    cloudCredentials: Map[String, String] = Map.empty)
