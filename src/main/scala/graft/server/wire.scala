package graft.server

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

import graft.model.JsonUtils

/** Wire model of the sharing REST protocol — the NDJSON line shapes and
  * JSON listing responses a recipient sees (reference wire spec
  * `PROTOCOL.md:3537-3733`; server model `server/.../model.scala:56-196`).
  * Reimplemented as plain case classes serialized by Jackson with NON_NULL
  * inclusion, so absent optional fields vanish from the wire exactly like
  * the reference's.
  */
object wire {

  case class Format(provider: String = "parquet")

  case class Protocol(minReaderVersion: Int = 1)

  case class Metadata(
      id: String,
      name: String = null,
      format: Format = Format(),
      schemaString: String = null,
      partitionColumns: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty,
      version: java.lang.Long = null)

  /** A data file of a snapshot query (pre-signed url + skipping stats).
    * `version`/`timestamp` are set only for version-range (streaming)
    * queries, mirroring the reference (`model.scala:91-130`).
    */
  case class File(
      url: String,
      id: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      stats: String = null,
      version: java.lang.Long = null,
      timestamp: java.lang.Long = null,
      expirationTimestamp: java.lang.Long = null)

  /** CDF/changes actions (`model.scala:132-196`). */
  case class AddFileW(
      url: String,
      id: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      stats: String = null,
      version: Long = 0L,
      timestamp: Long = 0L,
      expirationTimestamp: java.lang.Long = null)

  case class CdcFileW(
      url: String,
      id: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      version: Long = 0L,
      timestamp: Long = 0L,
      expirationTimestamp: java.lang.Long = null)

  case class RemoveFileW(
      url: String,
      id: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      version: Long = 0L,
      timestamp: Long = 0L,
      expirationTimestamp: java.lang.Long = null)

  /** Trailing control line: pagination + refresh continuity
    * (`PROTOCOL.md` end-stream action; reference `model.scala:56-87`).
    */
  case class EndStreamAction(
      refreshToken: String = null,
      nextPageToken: String = null,
      minUrlExpirationTimestamp: java.lang.Long = null)

  /** Async-query handle (`PROTOCOL.md:3425-3472`): returned instead of
    * file lines when the client requested async execution; the client
    * polls `POST .../queries/{queryId}` until the result is served.
    */
  case class QueryStatus(queryId: String)

  /** One NDJSON line — exactly one field set. */
  case class Line(
      protocol: Protocol = null,
      metaData: Metadata = null,
      file: File = null,
      add: AddFileW = null,
      cdf: CdcFileW = null,
      remove: RemoveFileW = null,
      endStreamAction: EndStreamAction = null,
      queryStatus: QueryStatus = null) {
    def json: String = JsonUtils.toJson(this)
  }

  // ------------------------------------------- delta response dialect

  /** `responseformat=delta` line shapes (`PROTOCOL.md:4030-4160`): the
    * same top-level NDJSON keys (protocol/metaData/file) wrapping REAL
    * delta actions, letting capability-negotiating clients read tables
    * with advanced reader features (deletion vectors, column mapping)
    * that the flat parquet dialect cannot express.
    */
  case class DeltaProtocolW(
      minReaderVersion: Int,
      minWriterVersion: Int,
      readerFeatures: Seq[String] = null,
      writerFeatures: Seq[String] = null)

  /** `version` is populated only when the client opted into
    * `includeHistoricalProtocol` (reference `model.scala:67-76`,
    * `PROTOCOL.md:4041`): it stamps the delta-log version each Protocol
    * action applies to, for both the head line and inlined historical
    * lines; omitted otherwise so the legacy wire shape is unchanged.
    */
  case class DeltaProtocolLine(
      deltaProtocol: DeltaProtocolW,
      version: java.lang.Long = null)

  case class DeltaMetadataW(
      id: String,
      name: String = null,
      format: Format = Format(),
      schemaString: String = null,
      partitionColumns: Seq[String] = Nil,
      configuration: Map[String, String] = Map.empty)

  case class DeltaMetadataLine(
      deltaMetadata: DeltaMetadataW,
      version: java.lang.Long = null,
      size: java.lang.Long = null,
      numFiles: java.lang.Long = null)

  /** Delta deletion-vector descriptor as served: storageType "p" with a
    * pre-signed URL for file-backed DVs ("u" never crosses the wire — the
    * client has no table root to resolve against), "i" passed through.
    */
  case class DeltaDvW(
      storageType: String,
      pathOrInlineDv: String,
      offset: java.lang.Integer = null,
      sizeInBytes: Int = 0,
      cardinality: Long = 0L)

  case class DeltaAddW(
      path: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      modificationTime: Long = 0L,
      dataChange: Boolean = true,
      stats: String = null,
      deletionVector: DeltaDvW = null,
      // row tracking rides the delta dialect so clients can derive
      // stable/fresh row ids from the served actions
      baseRowId: java.lang.Long = null,
      defaultRowCommitVersion: java.lang.Long = null,
      // writer annotations (ZCUBE ids etc.) pass through verbatim
      tags: Map[String, String] = null)

  case class DeltaRemoveW(
      path: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      dataChange: Boolean = true,
      deletionTimestamp: java.lang.Long = null)

  case class DeltaCdcW(
      path: String,
      partitionValues: Map[String, String] = Map.empty,
      size: Long = 0L,
      dataChange: Boolean = false)

  /** Exactly one of add/remove/cdc set (delta's SingleAction shape; the
    * `path` field carries the pre-signed URL, `PROTOCOL.md:4115`).
    */
  case class DeltaSingleActionW(
      add: DeltaAddW = null,
      remove: DeltaRemoveW = null,
      cdc: DeltaCdcW = null)

  case class DeltaFileW(
      id: String,
      deletionVectorFileId: String = null,
      version: java.lang.Long = null,
      timestamp: java.lang.Long = null,
      expirationTimestamp: java.lang.Long = null,
      deltaSingleAction: DeltaSingleActionW = null)

  /** One delta-dialect NDJSON line — exactly one field set. */
  case class DeltaLine(
      protocol: DeltaProtocolLine = null,
      metaData: DeltaMetadataLine = null,
      file: DeltaFileW = null,
      endStreamAction: EndStreamAction = null,
      queryStatus: QueryStatus = null) {
    def json: String = JsonUtils.toJson(this)
  }

  // ------------------------------------------------------------- listings

  case class Share(name: String)
  case class Schema(name: String, share: String)
  case class Table(name: String, schema: String, share: String, id: String = null)

  case class ListSharesResponse(items: Seq[Share], nextPageToken: String = null)
  case class GetShareResponse(share: Share)
  case class ListSchemasResponse(items: Seq[Schema], nextPageToken: String = null)
  case class ListTablesResponse(items: Seq[Table], nextPageToken: String = null)

  // ------------------------------------------------------------- requests

  /** POST .../query body (`PROTOCOL.md:2122-2158`). */
  case class QueryRequest(
      predicateHints: Seq[String] = Nil,
      jsonPredicateHints: String = null,
      limitHint: java.lang.Long = null,
      version: java.lang.Long = null,
      timestamp: String = null,
      startingVersion: java.lang.Long = null,
      endingVersion: java.lang.Long = null,
      maxFiles: java.lang.Integer = null,
      pageToken: String = null,
      includeRefreshToken: java.lang.Boolean = null,
      refreshToken: String = null,
      /** Async-query dedup key (`PROTOCOL.md:2122-2158`): a retried async
        * submit carrying the same key is answered with the SAME queryId
        * instead of recomputing under a new one.
        */
      idempotencyKey: String = null,
      /** Only used with `startingVersion` (`PROTOCOL.md:2152`): inline
        * historical Protocol actions (versions strictly after
        * startingVersion) into delta-dialect responses so a streaming
        * client can detect a mid-range reader-requirement upgrade.
        * Ignored for parquet-dialect responses.
        */
      includeHistoricalProtocol: java.lang.Boolean = null)

  case class ErrorResponse(errorCode: String, message: String)

  /** `POST .../temporary-table-credentials` response — the `dir` access
    * mode (`PROTOCOL.md:68-107`; reference credential vendors under
    * `server/.../credential dir`). Local mode vends the table root plus an
    * HMAC-bound expiring token in place of cloud STS credentials.
    */
  case class TableCredentials(
      tablePath: String,
      expirationTimestamp: Long,
      credentialsType: String,
      accessToken: String)

  /** OAuth client-credentials token response (RFC 6749 §4.4). */
  case class OAuthTokenResponse(
      access_token: String,
      token_type: String,
      expires_in: Long)
}

/** Typed HTTP error carrying the protocol's error mapping (reference
  * `DeltaSharingServiceExceptionHandler`, 400/401/403/404/500).
  */
class GraftServerException(val status: Int, val errorCode: String, message: String)
    extends RuntimeException(message)

object GraftServerException {
  /** Reader-feature gate (reference `DeltaSharingService.scala:93-100`:
    * DeltaSharingUnsupportedOperationException → 400 UNSUPPORTED_OPERATION).
    */
  def unsupported(msg: String) = new GraftServerException(400, "UNSUPPORTED_OPERATION", msg)
  def badRequest(msg: String) = new GraftServerException(400, "INVALID_PARAMETER_VALUE", msg)
  def unauthorized(msg: String) = new GraftServerException(401, "UNAUTHENTICATED", msg)
  def forbidden(msg: String) = new GraftServerException(403, "PERMISSION_DENIED", msg)
  def notFound(msg: String) = new GraftServerException(404, "RESOURCE_DOES_NOT_EXIST", msg)
}

/** Stable file ids + opaque consistency tokens (reference F5/F6:
  * `DeltaSharedTable.scala:228,271,303` file-id hashing and `:927-996`
  * page/refresh token codecs with query-param checksums).
  */
object Tokens {

  /** Stable id of a file = hex md5 of its absolute table-relative path. */
  /** Stable per-file id. Two schemes (`PROTOCOL.md` "File ID Hash
    * Header"): `parquet` — MD5, the parquet-dialect default — and
    * `delta` — SHA-256, the delta-dialect default; the client selects
    * via the `fileidhash` request header. Both are deterministic in the
    * file, so clients can cache bytes keyed by id.
    */
  def fileId(tablePath: String, relPath: String, scheme: String = "parquet"): String =
    hex((if (scheme == "delta") sha256 else md5).get()
      .digest(s"$tablePath/$relPath".getBytes(UTF_8)))

  // one digest per thread: `getInstance` costs a provider lookup per call
  private val md5 = ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))
  private val sha256 = ThreadLocal.withInitial(() => MessageDigest.getInstance("SHA-256"))

  /** SHA-256 checksum binding a token to the query parameters that
    * produced it — any change to the params invalidates the token.
    * Every field is length-prefixed before joining: free-form fields
    * (predicate-hint content, jsonPredicateHints, timestamps) may
    * themselves contain the separator, and since the checksum also keys
    * server-side filtered-listing caches, a cross-field collision would
    * serve one query another query's pruned file list (silent
    * under-return), not merely reject a continuation token.
    */
  def checksum(params: Seq[String]): String =
    hex(sha256.get().digest(
      params.map(p => s"${p.length}:$p").mkString("\u001f").getBytes(UTF_8)))

  case class PageTokenPayload(
      table: String,
      version: Long,
      startIndex: Int,
      checksum: String,
      expiration: Long)

  case class RefreshTokenPayload(table: String, version: Long, expiration: Long)

  case class ListTokenPayload(scope: String, offset: Int)

  /** Payload of a pre-signed data URL: table location + relative path +
    * expiry, bound by an HMAC so recipients can neither forge paths nor
    * extend expiry (local-mode counterpart of cloud URL signing,
    * reference `CloudFileSigner.scala`).
    */
  case class SignedPathPayload(table: String, path: String, expiration: Long, sig: String)

  /** Minted OAuth access-token payload (client id + expiry + HMAC). */
  case class OAuthTokenPayload(clientId: String, expiration: Long, sig: String)

  /** HMAC-SHA256, hex-encoded. */
  def hmac(secret: Array[Byte], message: String): String =
    hex(keyedMac(secret).doFinal(message.getBytes(UTF_8)))

  /** One keyed `Mac` per secret, cloned per thread: `getInstance` + `init`
    * cost more than the HMAC of a URL-sized message, and the server signs
    * one URL per served file. Keyed by the secret's bytes.
    */
  private val macs =
    new java.util.concurrent.ConcurrentHashMap[String, ThreadLocal[javax.crypto.Mac]]()

  private def keyedMac(secret: Array[Byte]): javax.crypto.Mac = {
    if (macs.size > 64) macs.clear() // one entry per live server secret
    macs.computeIfAbsent(new String(secret, java.nio.charset.StandardCharsets.ISO_8859_1), _ => {
      val keyed = javax.crypto.Mac.getInstance("HmacSHA256")
      keyed.init(new javax.crypto.spec.SecretKeySpec(secret, "HmacSHA256"))
      ThreadLocal.withInitial(() => keyed.clone().asInstanceOf[javax.crypto.Mac])
    }).get()
  }

  def encode(payload: AnyRef): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(
      graft.model.JsonUtils.toJson(payload).getBytes(UTF_8))

  def decode[T: Manifest](token: String, kind: String): T =
    try graft.model.JsonUtils.fromJson[T](
      new String(Base64.getUrlDecoder.decode(token), UTF_8))
    catch {
      case scala.util.control.NonFatal(_) =>
        throw GraftServerException.badRequest(s"malformed $kind token")
    }

  private[graft] def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HEX(bytes(i) >> 4 & 0xf)
      out(2 * i + 1) = HEX(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val HEX = "0123456789abcdef".toCharArray

  /** Constant-time bearer-token check (reference
    * `DeltaSharingService.scala:843-854` uses the same
    * `MessageDigest.isEqual` idiom to avoid timing leaks).
    */
  def constantTimeEquals(a: String, b: String): Boolean =
    MessageDigest.isEqual(a.getBytes(UTF_8), b.getBytes(UTF_8))
}
