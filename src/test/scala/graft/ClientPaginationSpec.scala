package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.client.GraftRestClient
import graft.server.{GraftServer, Tokens, wire}

/** Pagination head-line handling against a THIRD-PARTY server (round-12
  * advisory regression): the protocol re-emits the head protocol and
  * metadata lines at the top of every page, and the client must drop
  * them POSITIONALLY. A server that emits historical metadata lines
  * WITHOUT version stamps (graft's own server stamps them; the protocol
  * does not require it) would otherwise have a genuine A->B->A schema
  * revert collapsed to [A, B] by value-dedup — a consumer vetting
  * mid-range schema changes would miss the second change.
  *
  * Also pins the Tokens.checksum field-boundary fix: every field is
  * length-prefixed, so free-form field content containing the separator
  * cannot make two parameter vectors collide (the checksum keys the
  * server's filtered-listing cache — a collision would serve one query
  * another query's pruned file list).
  */
class ClientPaginationSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var httpd: HttpServer = _
  private var client: GraftRestClient = _

  private def metaP(schema: String) =
    wire.Line(metaData = wire.Metadata(id = "m", schemaString = schema)).json
  private val protoP = wire.Line(protocol = wire.Protocol(1)).json
  private def addP(id: String, v: Long) =
    wire.Line(add = wire.AddFileW(url = s"http://x/$id", id = id, version = v,
      timestamp = v)).json
  private def esaP(tok: String) =
    wire.Line(endStreamAction = wire.EndStreamAction(nextPageToken = tok)).json

  private def metaD(schema: String) = wire.DeltaLine(metaData =
    wire.DeltaMetadataLine(wire.DeltaMetadataW(id = "m", schemaString = schema))).json
  private val protoD = wire.DeltaLine(protocol =
    wire.DeltaProtocolLine(wire.DeltaProtocolW(1, 1))).json
  private def fileD(id: String, v: Long) = wire.DeltaLine(file =
    wire.DeltaFileW(id = id, version = v, deltaSingleAction =
      wire.DeltaSingleActionW(add = wire.DeltaAddW(path = s"http://x/$id")))).json
  private def esaD(tok: String) = wire.DeltaLine(endStreamAction =
    wire.EndStreamAction(nextPageToken = tok)).json

  // two pages; page 2 opens with the protocol-mandated head re-emission
  // (protocol + metadata A), then serves the UNVERSIONED revert sequence
  // B, A — the client must keep all three of [A, B, A]
  private def page1(meta: String => String, proto: String,
      file: (String, Long) => String, esa: String => String) =
    Seq(proto, meta("A"), file("f1", 1L), esa("p2")).mkString("\n")
  private def page2(meta: String => String, proto: String,
      file: (String, Long) => String) =
    Seq(proto, meta("A"), meta("B"), meta("A"), file("f2", 3L)).mkString("\n")

  override def beforeAll(): Unit = {
    httpd = GraftServer.httpServer(new InetSocketAddress("127.0.0.1", 0))
    def serve(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Delta-Table-Version", "3")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    httpd.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val reqBody = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val continuation = query.contains("pageToken=p2") ||
        reqBody.contains(""""pageToken":"p2"""") ||
        reqBody.contains(""""pageToken" : "p2"""")
      val body = (path.endsWith("/tables/td/changes"),
        path.endsWith("/tables/td/query"), continuation) match {
        case (true, _, false) => page1(metaD, protoD, fileD, esaD)
        case (true, _, true) => page2(metaD, protoD, fileD)
        case (_, true, false) => page1(metaD, protoD, fileD, esaD)
        case (_, true, true) => page2(metaD, protoD, fileD)
        case (_, _, false) => page1(metaP, protoP, addP, esaP)
        case (_, _, true) => page2(metaP, protoP, addP)
      }
      serve(ex, body)
    })
    httpd.start()
    client = new GraftRestClient(
      s"http://127.0.0.1:${httpd.getAddress.getPort}", numRetries = 0)
  }

  override def afterAll(): Unit = if (httpd != null) httpd.stop(0)

  test("parquet /changes: positional head dedup keeps an unversioned " +
    "A->B->A metadata revert") {
    val r = client.changes("s", "d", "tp", Map("startingVersion" -> "0"))
    assert(r.metas.map(_.schemaString) === Seq("A", "B", "A"),
      "the revert's second A must survive pagination")
    assert(r.adds.map(_.id) === Seq("f1", "f2"))
    assert(r.version === 3L && r.metadata.schemaString === "A")
  }

  test("delta /changes: positional head dedup, single protocol line") {
    val r = client.deltaChanges("s", "d", "td", Map("startingVersion" -> "0"))
    assert(r.metas.map(_.deltaMetadata.schemaString) === Seq("A", "B", "A"))
    assert(r.files.map(_.id) === Seq("f1", "f2"))
    assert(r.protocols.size === 1)
  }

  test("delta /query range: positional head dedup, single protocol line") {
    val r = client.deltaQueryRange("s", "d", "td", startingVersion = 0L)
    assert(r.metas.map(_.deltaMetadata.schemaString) === Seq("A", "B", "A"))
    assert(r.files.map(_.id) === Seq("f1", "f2"))
    assert(r.protocols.size === 1)
  }

  test("a continuation page that fails to re-emit the head lines fails " +
    "LOUDLY instead of silently dropping a first-of-page change") {
    // a protocol-violating server: page 2 opens directly with a GENUINE
    // schema change B (no head re-emission). The reference client
    // validates lines(0)/(1) against page 1's head and throws
    // (DeltaSharingClient.fetchNextPageFiles:683-699); silently skipping
    // would hide B from a consumer vetting mid-range schema changes.
    val bad = GraftServer.httpServer(new InetSocketAddress("127.0.0.1", 0))
    bad.createContext("/", (ex: HttpExchange) => {
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body =
        if (query.contains("pageToken=p2"))
          Seq(metaP("B"), addP("f2", 3L)).mkString("\n")
        else page1(metaP, protoP, addP, esaP)
      val b = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Delta-Table-Version", "3")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    bad.start()
    try {
      val c = new GraftRestClient(
        s"http://127.0.0.1:${bad.getAddress.getPort}", numRetries = 0)
      val e = intercept[graft.client.GraftClientException] {
        c.changes("s", "d", "tp", Map("startingVersion" -> "0"))
      }
      assert(e.getMessage.contains("did not re-emit the head"), e.getMessage)
    } finally bad.stop(0)
  }

  test("a data line that ALSO carries endStreamAction keeps its payload " +
    "(the end action is not exclusive of data)") {
    val combo = GraftServer.httpServer(new InetSocketAddress("127.0.0.1", 0))
    combo.createContext("/", (ex: HttpExchange) => {
      // single page: the LAST file line carries the end action inline
      val lastLine = wire.Line(
        add = wire.AddFileW(url = "http://x/f2", id = "f2", version = 1L,
          timestamp = 1L),
        endStreamAction = wire.EndStreamAction(nextPageToken = null)).json
      val body = Seq(protoP, metaP("A"), addP("f1", 1L), lastLine).mkString("\n")
      val b = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Delta-Table-Version", "1")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    combo.start()
    try {
      val c = new GraftRestClient(
        s"http://127.0.0.1:${combo.getAddress.getPort}", numRetries = 0)
      val r = c.changes("s", "d", "tp", Map("startingVersion" -> "0"))
      assert(r.adds.map(_.id) === Seq("f1", "f2"),
        "the combined data+end line's payload must not be dropped")
    } finally combo.stop(0)
  }

  test("a server that re-serves the same page token fails loudly instead " +
    "of looping the walk forever (r14 verdict task)") {
    // a buggy/hostile server: every continuation page ends with the SAME
    // nextPageToken it was asked for — without the repeat-token guard the
    // client would re-fetch page 2 in an infinite RPC loop.
    val loopy = GraftServer.httpServer(new InetSocketAddress("127.0.0.1", 0))
    val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
    loopy.createContext("/", (ex: HttpExchange) => {
      fetches.incrementAndGet()
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body =
        if (query.contains("pageToken=p2"))
          Seq(protoP, metaP("A"), addP("f2", 2L), esaP("p2")).mkString("\n")
        else page1(metaP, protoP, addP, esaP)
      val b = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Delta-Table-Version", "3")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    })
    loopy.start()
    try {
      val c = new GraftRestClient(
        s"http://127.0.0.1:${loopy.getAddress.getPort}", numRetries = 0)
      val e = intercept[graft.client.GraftClientException] {
        c.changes("s", "d", "tp", Map("startingVersion" -> "0"))
      }
      assert(e.getMessage.contains("re-served pagination token"), e.getMessage)
      assert(fetches.get() === 2,
        s"walk must stop at the first repeated token, made ${fetches.get()} fetches")
    } finally loopy.stop(0)
  }

  /** A scripted server on `handle`, stopped after `body` runs against it. */
  private def scripted(handle: HttpExchange => Unit)(body: String => Unit): Unit = {
    val s = GraftServer.httpServer(new InetSocketAddress("127.0.0.1", 0))
    s.createContext("/", (ex: HttpExchange) => { handle(ex); ex.close() })
    s.start()
    try body(s"http://127.0.0.1:${s.getAddress.getPort}") finally s.stop(0)
  }

  private def reply(ex: HttpExchange, status: Int, body: String,
      headers: Map[String, String] = Map.empty): Unit = {
    val b = body.getBytes(UTF_8)
    headers.foreach { case (k, v) => ex.getResponseHeaders.set(k, v) }
    ex.sendResponseHeaders(status, if (b.isEmpty) -1 else b.length)
    if (b.nonEmpty) ex.getResponseBody.write(b)
  }

  test("a last page cut after a complete line is a truncation error, not " +
    "a shorter file list") {
    // a server that honours includeendstreamaction (and says so) but whose
    // last page lost its final lines, the end action among them: every
    // line that arrived is whole
    val asked = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    scripted { ex =>
      asked.add(Option(ex.getRequestHeaders.getFirst("delta-sharing-capabilities")).orNull)
      val query = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body =
        if (query.contains("pageToken=p2")) Seq(protoP, metaP("A"), addP("f2", 2L))
        else Seq(protoP, metaP("A"), addP("f1", 1L), esaP("p2"))
      reply(ex, 200, body.mkString("\n"), Map("Delta-Table-Version" -> "2",
        "delta-sharing-capabilities" -> "responseformat=parquet;includeendstreamaction=true"))
    } { url =>
      val c = new GraftRestClient(url, numRetries = 0)
      val e = intercept[graft.client.GraftClientException] {
        c.changes("s", "d", "tp", Map("startingVersion" -> "0"))
      }
      assert(e.getMessage.contains("truncated response"), e.getMessage)
      assert(asked.contains("includeendstreamaction=true"), asked)
    }
  }

  test("429 is retried, waiting the Retry-After seconds") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    scripted { ex =>
      if (calls.incrementAndGet() == 1) reply(ex, 429, "slow down", Map("Retry-After" -> "1"))
      else reply(ex, 200, """{"items":[{"name":"s1"}]}""")
    } { url =>
      val c = new GraftRestClient(url, numRetries = 3)
      val t0 = System.nanoTime()
      assert(c.listShares() === Seq("s1"))
      assert(System.nanoTime() - t0 >= 1000000000L, "the retry waited less than Retry-After")
      assert(calls.get() === 2)
    }
  }

  test("429s beyond numRetries end in a GraftClientException with status 429") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    scripted { ex =>
      calls.incrementAndGet()
      reply(ex, 429, "slow down", Map("Retry-After" -> "0"))
    } { url =>
      val c = new GraftRestClient(url, numRetries = 2)
      val e = intercept[graft.client.GraftClientException] {
        c.listShares()
      }
      assert(e.status === 429, e.getMessage)
      assert(calls.get() === 3)
    }
  }

  test("token checksum: fields are length-prefixed — no cross-field " +
    "collisions from separator-bearing content") {
    // a field containing the raw separator must not equal the two fields
    assert(Tokens.checksum(Seq("a\u001fb")) !== Tokens.checksum(Seq("a", "b")))
    // boundary shifts must not collide
    assert(Tokens.checksum(Seq("ab", "")) !== Tokens.checksum(Seq("a", "b")))
    assert(Tokens.checksum(Seq("", "ab")) !== Tokens.checksum(Seq("a", "b")))
    // content that mimics the length-prefix encoding must not collide
    assert(Tokens.checksum(Seq("1:a")) !== Tokens.checksum(Seq("a")))
    // determinism
    assert(Tokens.checksum(Seq("a", "b")) === Tokens.checksum(Seq("a", "b")))
  }
}
