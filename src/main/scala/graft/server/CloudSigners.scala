package graft.server

import java.net.URI
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

/** Pre-signed URL computation for cloud object stores, implemented from
  * the PUBLIC signing protocols with JDK crypto only — AWS Signature
  * Version 4 query presigning, its GCS interoperability twin
  * (GOOG4-HMAC-SHA256 over HMAC interop keys), and Azure Blob service
  * SAS — no vendor SDK, no network. The reference wraps the cloud SDKs
  * for the same job (`server/src/main/scala/io/delta/sharing/server/
  * common/CloudFileSigner.scala:52-248`); computing the signatures
  * directly keeps the whole surface testable OFFLINE against the
  * providers' published golden vectors: AWS documents both the
  * signing-key derivation and a complete presigned GET
  * (CloudSignerSpec pins both), so the math is verified without a
  * cloud account in the loop.
  *
  * Scale/posture note: signing is pure driver-side arithmetic — a few
  * HMACs per file. The server signs once per served file action; no
  * executor, no state, no network round-trip (the vendor SDK paths in
  * the reference are also local computations, wrapped).
  */
object CloudSigners {

  // ------------------------------------------------------------ primitives

  private[graft] def hmacSha256(key: Array[Byte], data: String): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data.getBytes("UTF-8"))
  }

  private def hex(b: Array[Byte]): String = Tokens.hex(b)

  private def sha256Hex(s: String): String =
    hex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")))

  /** SigV4 URI encoding: unreserved chars (A-Za-z0-9, '-', '.', '_',
    * '~') pass through, everything else percent-encodes uppercase;
    * '/' is kept only when encoding an object-key path.
    */
  private[graft] def uriEncode(s: String, keepSlash: Boolean): String = {
    val sb = new StringBuilder
    s.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xFF).toChar
      if (c.isLetterOrDigit && c < 128 || c == '-' || c == '.' || c == '_' ||
        c == '~' || (keepSlash && c == '/')) sb.append(c)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    sb.toString
  }

  private val amzDate = DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
    .withZone(ZoneOffset.UTC)
  private val amzDay = DateTimeFormatter.ofPattern("yyyyMMdd")
    .withZone(ZoneOffset.UTC)
  private val isoSeconds = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
    .withZone(ZoneOffset.UTC)

  // ------------------------------------------------------ V4 query presign

  /** The V4 signing-key derivation chain — exactly the published
    * algorithm: HMAC("<prefix>" + secret, date) → region → service →
    * terminator. AWS's documented example (secret `wJalrXUtnFEMI/…`,
    * 20120215/us-east-1/iam) is pinned in CloudSignerSpec.
    */
  private[graft] def v4SigningKey(
      secretKey: String,
      day: String,
      region: String,
      service: String,
      keyPrefix: String,
      terminator: String): Array[Byte] = {
    val kDate = hmacSha256((keyPrefix + secretKey).getBytes("UTF-8"), day)
    val kRegion = hmacSha256(kDate, region)
    val kService = hmacSha256(kRegion, service)
    hmacSha256(kService, terminator)
  }

  /** Query-parameter V4 presigner, parameterized over the AWS and GCS
    * dialects (algorithm label, parameter prefix, scope terminator).
    * Canonicalization follows the published recipe: sorted
    * URI-encoded query, `host` as the only signed header,
    * UNSIGNED-PAYLOAD.
    */
  final case class V4Signer(
      accessKey: String,
      secretKey: String,
      region: String,
      service: String = "s3",
      algorithm: String = "AWS4-HMAC-SHA256",
      paramPrefix: String = "X-Amz-",
      keyPrefix: String = "AWS4",
      terminator: String = "aws4_request",
      sessionToken: Option[String] = None) {

    /** Presign a GET of `https://host/uriPath` valid `expiresSeconds`
      * from `now`. `uriPath` is the raw (un-encoded) absolute path.
      */
    def presign(host: String, uriPath: String, expiresSeconds: Long,
        now: Instant): String = {
      require(expiresSeconds >= 1 && expiresSeconds <= 604800,
        s"expires=$expiresSeconds outside [1s, 7d]")
      val t = amzDate.format(now)
      val d = amzDay.format(now)
      val credential = s"$accessKey/$d/$region/$service/$terminator"
      val params = Seq(
        s"${paramPrefix}Algorithm" -> algorithm,
        s"${paramPrefix}Credential" -> credential,
        s"${paramPrefix}Date" -> t,
        s"${paramPrefix}Expires" -> expiresSeconds.toString,
        s"${paramPrefix}SignedHeaders" -> "host") ++
        sessionToken.map(tok => s"${paramPrefix}Security-Token" -> tok)
      val canonicalQuery = params
        .map { case (k, v) => uriEncode(k, false) -> uriEncode(v, false) }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=$v" }.mkString("&")
      val canonicalRequest = Seq(
        "GET",
        uriEncode(uriPath, keepSlash = true),
        canonicalQuery,
        s"host:$host",
        "",
        "host",
        "UNSIGNED-PAYLOAD").mkString("\n")
      val stringToSign = Seq(
        algorithm, t, s"$d/$region/$service/$terminator",
        sha256Hex(canonicalRequest)).mkString("\n")
      val sig = hex(hmacSha256(
        v4SigningKey(secretKey, d, region, service, keyPrefix, terminator),
        stringToSign))
      s"https://$host${uriEncode(uriPath, keepSlash = true)}?$canonicalQuery" +
        s"&${paramPrefix}Signature=$sig"
    }
  }

  /** AWS S3 presigner: virtual-hosted-style addressing
    * (`bucket.s3[.region].amazonaws.com/key`), us-east-1 without the
    * region label — the layout AWS's own published example uses.
    */
  final case class S3Signer(
      accessKey: String, secretKey: String, region: String,
      sessionToken: Option[String] = None) {
    private val v4 = V4Signer(accessKey, secretKey, region,
      sessionToken = sessionToken)
    def host(bucket: String): String =
      if (region == "us-east-1") s"$bucket.s3.amazonaws.com"
      else s"$bucket.s3.$region.amazonaws.com"
    def presign(bucket: String, key: String, expiresSeconds: Long,
        now: Instant): String =
      v4.presign(host(bucket), "/" + key, expiresSeconds, now)
  }

  /** GCS presigner over HMAC interoperability keys: the GOOG4 dialect
    * of the same V4 recipe (`X-Goog-*` params, `goog4_request` scope,
    * path-style `storage.googleapis.com/bucket/key`).
    */
  final case class GcsHmacSigner(accessKey: String, secretKey: String) {
    private val v4 = V4Signer(accessKey, secretKey, region = "auto",
      service = "storage", algorithm = "GOOG4-HMAC-SHA256",
      paramPrefix = "X-Goog-", keyPrefix = "GOOG4",
      terminator = "goog4_request")
    def presign(bucket: String, key: String, expiresSeconds: Long,
        now: Instant): String =
      v4.presign("storage.googleapis.com", s"/$bucket/$key",
        expiresSeconds, now)
  }

  /** Azure Blob service SAS (read-only blob grant), string-to-sign per
    * the published `sv=2020-12-06` service-SAS layout (16 fields; the
    * canonicalized resource is `/blob/<account>/<container>/<blob>`).
    * No offline golden vector is published for SAS the way AWS
    * publishes SigV4's, so CloudSignerSpec pins the string-to-sign
    * layout and verifies the HMAC by independent recomputation — the
    * documented trust boundary of this signer.
    */
  final case class AzureSasSigner(account: String, accountKeyBase64: String) {
    private val version = "2020-12-06"
    def presign(container: String, blob: String, expiresSeconds: Long,
        now: Instant): String = {
      val st = isoSeconds.format(now)
      val se = isoSeconds.format(now.plusSeconds(expiresSeconds))
      val canonicalizedResource = s"/blob/$account/$container/$blob"
      val stringToSign = Seq(
        "r", // signedPermissions
        st, // signedStart
        se, // signedExpiry
        canonicalizedResource,
        "", // signedIdentifier
        "", // signedIP
        "https", // signedProtocol
        version,
        "b", // signedResource
        "", // signedSnapshotTime
        "", // signedEncryptionScope
        "", "", "", "", "" // rscc, rscd, rsce, rscl, rsct
      ).mkString("\n")
      val key = java.util.Base64.getDecoder.decode(accountKeyBase64)
      val sig = java.util.Base64.getEncoder.encodeToString(
        hmacSha256(key, stringToSign))
      val q = Seq(
        "sv" -> version, "spr" -> "https", "st" -> st, "se" -> se,
        "sr" -> "b", "sp" -> "r", "sig" -> sig)
        .map { case (k, v) => s"$k=${uriEncode(v, false)}" }.mkString("&")
      s"https://$account.blob.core.windows.net/$container/" +
        s"${uriEncode(blob, keepSlash = true)}?$q"
    }
  }

  // ------------------------------------------------------ scheme dispatch

  /** Settings-driven signer dispatch for a table location's scheme —
    * the seam [[GraftServer.signUrl]] consults before falling back to
    * the local HMAC data endpoint. Keys mirror the obvious names:
    * aws.accessKey/aws.secretKey/aws.region[/aws.sessionToken],
    * gcs.accessKey/gcs.secretKey, azure.account/azure.key.
    */
  def presignFor(
      location: String,
      relPath: String,
      expiresSeconds: Long,
      now: Instant,
      settings: Map[String, String]): Option[String] = {
    // a location that does not parse as a URI (spaces, brackets — legal
    // in local paths) is by definition not a cloud location: fall
    // through to the local HMAC endpoint rather than failing the serve
    val uri = try URI.create(location) catch {
      case _: IllegalArgumentException => return None
    }
    // SigV4 caps presign validity at 7 days; a server configured with a
    // longer preSignedUrlTimeoutSeconds gets the provider maximum
    // rather than a serve-time crash (the local HMAC path still honors
    // the full window)
    val capped = math.min(expiresSeconds, 604800L)
    val bucket = uri.getAuthority
    def key = (Option(uri.getPath).getOrElse("").stripPrefix("/") match {
      case "" => relPath
      case p => s"$p/$relPath"
    }).stripPrefix("/")
    uri.getScheme match {
      case "s3" | "s3a" | "s3n" =>
        for {
          ak <- settings.get("aws.accessKey")
          sk <- settings.get("aws.secretKey")
          region <- settings.get("aws.region")
        } yield S3Signer(ak, sk, region, settings.get("aws.sessionToken"))
          .presign(bucket, key, capped, now)
      case "gs" =>
        for {
          ak <- settings.get("gcs.accessKey")
          sk <- settings.get("gcs.secretKey")
        } yield GcsHmacSigner(ak, sk).presign(bucket, key, capped, now)
      case "wasb" | "wasbs" | "abfs" | "abfss" =>
        // authority is container@account.<suffix>; container first. A
        // malformed authority (no '@', or no account and no azure.account
        // setting) falls through to the local HMAC data endpoint like
        // every other unsignable case — never a host-less https URL.
        val container = bucket.takeWhile(_ != '@')
        val account = settings.get("azure.account").filter(_.nonEmpty).getOrElse(
          bucket.dropWhile(_ != '@').drop(1).takeWhile(_ != '.'))
        if (container.isEmpty || account.isEmpty) None
        else settings.get("azure.key").map(k =>
          AzureSasSigner(account, k).presign(container, key, capped, now))
      case _ => None
    }
  }
}
