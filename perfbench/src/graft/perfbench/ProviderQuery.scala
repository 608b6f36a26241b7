package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types.StructType

import graft.log.{GraftCatalog, GraftLog}
import graft.model._
import graft.predicates.{FileSkippingEvaluator, JsonPredicates}
import graft.server.{GraftServer, PartitionHintPruner, ServerConfig}

/** Synthetic metadata-scale table written through `GraftLog.commit` from
  * the file list `run.py` generated (one TSV line per AddFile).
  */
object Synth {
  val SCHEMA =
    """{"type":"struct","fields":[""" +
      """{"name":"id","type":"long","nullable":false,"metadata":{}},""" +
      """{"name":"amount","type":"double","nullable":true,"metadata":{}},""" +
      """{"name":"category","type":"string","nullable":true,"metadata":{}},""" +
      """{"name":"ds","type":"string","nullable":false,"metadata":{}}]}"""

  case class F(version: Int, path: String, ds: String, lo: Long, hi: Long, rows: Long, cat: Int)

  def read(tsv: String): IndexedSeq[F] =
    scala.io.Source.fromFile(tsv, "UTF-8").getLines().map { l =>
      val c = l.split('\t')
      F(c(0).toInt, c(1), c(2), c(3).toLong, c(4).toLong, c(5).toLong, c(6).toInt)
    }.toIndexedSeq

  def add(f: F, timestamp: Long): AddFile = AddFile(
    path = f.path,
    partitionValues = Map("ds" -> f.ds),
    size = 1000000000L,
    modificationTime = timestamp,
    stats = Some(FileStats(
      numRecords = f.rows,
      minValues = Map("id" -> f.lo.toString, "amount" -> "0.01", "category" -> s"cat${f.cat}"),
      maxValues = Map("id" -> f.hi.toString, "amount" -> "9999.99", "category" -> s"cat${f.cat}"),
      nullCount = Map("id" -> 0L, "amount" -> 3L, "category" -> 0L))),
    version = f.version,
    timestamp = timestamp)

  def versionTs(v: Long): Long = 1700000000000L + v * 60000L

  /** Commit every version of `files` (grouped by version) to `path`. */
  def write(path: String, name: String, files: Seq[F], conf: Configuration): Unit = {
    rm(new java.io.File(path))
    GraftLog.invalidateListing(path)
    files.groupBy(_.version).toSeq.sortBy(_._1).foreach { case (v, fs) =>
      val adds = fs.map(f => add(f, versionTs(v)))
      val actions: Seq[Action] =
        if (v == 0) Seq(Protocol(), Metadata(id = s"perfbench-$name", name = name,
          schemaString = SCHEMA, partitionColumns = Seq("ds"),
          configuration = Map("delta.enableChangeDataFeed" -> "true"))) ++ adds
        else adds
      GraftLog.commit(path, v, actions, conf)
    }
  }

  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
}

/** HTTP access to the sharing server, as a recipient without a client
  * library sees it: raw NDJSON, page tokens followed by hand.
  */
class RawHttp(base: String, token: String, trace: Trace,
    bytes: AtomicLong, queryPages: AtomicLong) {
  private val http = HttpClient.newHttpClient()

  private def send(req: HttpRequest.Builder): HttpResponse[String] = {
    val r = trace.span("server.http") {
      http.send(req.header("Authorization", s"Bearer $token").build(),
        HttpResponse.BodyHandlers.ofString())
    }
    if (r.statusCode() != 200)
      throw new IllegalStateException(s"HTTP ${r.statusCode()}: ${r.body().take(200)}")
    bytes.addAndGet(r.body().length)
    r
  }

  private def nextToken(lines: Seq[String]): Option[String] =
    lines.lastOption.filter(_.startsWith("{\"endStreamAction\""))
      .map(JsonUtils.fromJson[graft.server.wire.Line](_))
      .flatMap(l => Option(l.endStreamAction).flatMap(e => Option(e.nextPageToken)))

  private def lines(r: HttpResponse[String]): Seq[String] =
    r.body().split('\n').toSeq.filter(_.nonEmpty)

  /** POST /query, following page tokens; returns (files, pages). */
  def query(table: String, body: Map[String, Any]): (Int, Int) = {
    var tok: Option[String] = None
    var files = 0
    var pages = 0
    do {
      val b = tok.fold(body)(t => body + ("pageToken" -> t))
      val ls = lines(send(HttpRequest.newBuilder(URI.create(s"$base/$table/query"))
        .POST(HttpRequest.BodyPublishers.ofString(JsonUtils.toJson(b)))))
      files += ls.count(_.startsWith("{\"file\""))
      pages += 1
      queryPages.incrementAndGet()
      tok = nextToken(ls)
    } while (tok.isDefined)
    (files, pages)
  }

  /** GET /changes over [start, end]; returns the number of add lines. */
  def changes(table: String, start: Long, end: Long): Int = {
    var tok: Option[String] = None
    var adds = 0
    do {
      val q = s"startingVersion=$start&endingVersion=$end" +
        tok.fold("")(t => s"&pageToken=${java.net.URLEncoder.encode(t, "UTF-8")}")
      val ls = lines(send(HttpRequest.newBuilder(URI.create(s"$base/$table/changes?$q")).GET()))
      adds += ls.count(_.startsWith("{\"add\""))
      tok = nextToken(ls)
    } while (tok.isDefined)
    adds
  }

  def metadataId(table: String): String = {
    val ls = lines(send(HttpRequest.newBuilder(URI.create(s"$base/$table/metadata")).GET()))
    ls.map(JsonUtils.fromJson[graft.server.wire.Line](_))
      .flatMap(l => Option(l.metaData)).map(_.id).headOption.getOrElse("")
  }

  def version(table: String): Long =
    send(HttpRequest.newBuilder(URI.create(s"$base/$table/version"))
      .method("HEAD", HttpRequest.BodyPublishers.noBody()))
      .headers().firstValue("Delta-Table-Version").get().toLong
}

/** provider_query: 4 closed-loop HTTP clients against a 10^5-file table,
  * request shapes drawn by `run.py` with Zipf skew over a population larger
  * than the server's snapshot and filtered-listing caches.
  */
class ProviderQuery(ctx: Ctx, trace: Trace) extends Workload {
  override def needsSpark: Boolean = false

  private val conf = new Configuration()
  private val files = Synth.read(ctx.str("synth_tsv"))
  private val shapes = ctx.seq("shapes").map(_.asInstanceOf[Map[String, Any]]).toIndexedSeq
  private val clients = ctx.seq("clients").map(_.asInstanceOf[Seq[Any]]
    .map(_.asInstanceOf[Number].intValue()).toIndexedSeq)
  private val token = "perfbench-token"
  private val table = "synth"
  private var path: String = _
  private var server: GraftServer = _

  private val served = new AtomicLong
  private val active = new AtomicLong
  private val opsRun = new AtomicLong
  private val queryOps = new AtomicLong
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val repeats = new AtomicLong
  private val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val bytes = new AtomicLong
  private val pages = new AtomicLong
  private var base0: Map[String, Long] = Map.empty

  override def prepare(): Unit = {
    path = s"${ctx.work}/provider_query"
    Synth.write(path, table, files, conf)
  }

  def setup(rep: Int): Unit = {
    close()
    GraftLog.invalidateListing(path)
    GraftCatalog.register(s"share1.default.$table", path)
    server = new GraftServer(ServerConfig(bearerToken = Some(token)), conf).start()
    // warm-up: one request of each kind but the 12,500-file /changes,
    // results unchecked and unlogged
    val h = newHttp()
    shapes.filter(_("kind") != "changes").groupBy(_("kind")).values.map(_.head)
      .foreach(s => run(h, s))
  }

  private def lng(s: Map[String, Any], k: String): Option[Long] =
    s.get(k).flatMap(Option(_)).map(_.asInstanceOf[Number].longValue())

  private def newHttp() =
    new RawHttp(s"${server.url}/shares/share1/schemas/default/tables", token, trace, bytes, pages)

  /** Run one request shape; returns true when the answer is the expected one. */
  private def run(h: RawHttp, s: Map[String, Any]): Boolean = {
    val expect = lng(s, "expect").get
    s("kind") match {
      case "metadata" => h.metadataId(table) == s"perfbench-$table"
      case "version" => h.version(table) == expect
      case "changes" => h.changes(table, lng(s, "start").get, lng(s, "end").get) == expect
      case _ =>
        val body = Seq(
          lng(s, "version").map("version" -> _),
          s.get("json").flatMap(Option(_)).map("jsonPredicateHints" -> _),
          s.get("sql").flatMap(Option(_)).map("predicateHints" -> _),
          lng(s, "limit").map("limitHint" -> _),
          lng(s, "max_files").map("maxFiles" -> _)).flatten.toMap
        val (got, pages) = h.query(table, body)
        served.addAndGet(got)
        active.addAndGet(lng(s, "active").get)
        queryOps.incrementAndGet()
        ProviderQuery.answerOk(got, pages, expect, lng(s, "pages").get)
    }
  }

  /** Each client's position in its schedule, kept across the two halves
    * of a traced run.
    */
  private val position = new Array[Int](clients.size)

  def window(seconds: Double, log: OpLog, checks: Checks): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = clients.zipWithIndex.map { case (seq, c) =>
      val t = new Thread(() => {
        val h = newHttp()
        while (System.nanoTime() < deadline) {
          val id = seq(position(c) % seq.size)
          position(c) += 1
          val s = shapes(id)
          trace.beginOp()
          val t0 = System.nanoTime()
          val ok = try run(h, s) catch { case e: Exception => false }
          val t1 = System.nanoTime()
          log.add(s("kind").toString, t0, t1, checks(ok, s"provider_query shape $id wrong"))
          if (!seen.add(id)) repeats.incrementAndGet()
          lng(s, "version").orElse(Some(-1L)).foreach(versions.add)
          opsRun.incrementAndGet()
        }
      })
      t.start()
      t
    }
    threads.foreach(_.join())
  }

  private def counters(): Map[String, Long] = Map(
    "snapshot" -> phase("snapshot"), "listing" -> phase("listing"),
    "render" -> phase("render"), "signed" -> server.signCount.get(),
    "ops" -> opsRun.get(), "query_ops" -> queryOps.get(), "pages" -> pages.get(),
    "bytes" -> bytes.get(), "served" -> served.get(), "active" -> active.get(),
    "listings" -> GraftLog.fullListings.get())

  private def phase(n: String): Long = server.phaseNanos.get(n).map(_.get()).getOrElse(0L)

  override def beginTraced(): Unit = base0 = counters()

  def layers(): Map[String, Double] = {
    val now = counters()
    val d = now.map { case (k, v) => k -> (v - base0(k)).toDouble }
    val ops = math.max(1.0, d("ops"))
    val pages = math.max(1.0, d("pages"))
    Probes.log(path, conf, trace, Seq(5L, 15L, 25L)) ++
      Probes.predicates(path, conf, trace, ctx.str("probe_json"), ctx.str("probe_sql")) ++ Map(
        "log.full_listings" -> d("listings"),
        "predicates.files_kept_ratio" -> d("served") / math.max(1.0, d("active")),
        "server.snapshot_ms" -> d("snapshot") / 1e6 / pages,
        "server.listing_ms" -> d("listing") / 1e6 / pages,
        "server.render_sign_ms" -> d("render") / 1e6 / pages,
        "server.files_signed" -> d("signed") / ops,
        "server.sign_us_per_file" -> d("render") / 1e3 / math.max(1.0, d("signed")),
        "server.response_kb" -> d("bytes") / 1024.0 / ops,
        "server.pages_per_op" -> d("pages") / math.max(1.0, d("query_ops")))
  }

  override def properties: Map[String, Any] = Map(
    "repeat_share" -> repeats.get().toDouble / math.max(1L, opsRun.get()),
    "distinct_shapes" -> seen.size,
    "distinct_versions" -> versions.size,
    "snapshot_cache_size" -> GraftCatalog.SNAPSHOT_CACHE_SIZE,
    "files" -> files.size,
    "files_kept_ratio" -> served.get().toDouble / math.max(1L, active.get()))

  override def close(): Unit = if (server != null) { server.stop(); server = null }
}

object ProviderQuery {
  /** A /query answer is right when it holds exactly the files the
    * generator's selectivity predicts, over the predicted number of pages.
    */
  def answerOk(files: Int, pages: Int, expectFiles: Long, expectPages: Long): Boolean =
    files == expectFiles && pages == expectPages
}

/** Direct calls into the log and predicate modules, timed after the window. */
object Probes {
  def log(path: String, conf: Configuration, trace: Trace, pinned: Seq[Long]): Map[String, Double] = {
    trace.enabled = true
    try {
      (0 until 5).foreach(_ => trace.span("log.replay_warm")(new GraftLog(path, conf).snapshot(None)))
      (0 until 3).foreach { _ =>
        GraftLog.invalidateListing(path)
        trace.span("log.replay_cold")(new GraftLog(path, conf).snapshot(None))
      }
      pinned.foreach(v => trace.span("log.replay_pinned")(new GraftLog(path, conf).snapshot(Some(v))))
    } finally trace.enabled = false
    Map("log.replay_warm_ms" -> trace.medianMs("log.replay_warm"),
      "log.replay_cold_ms" -> trace.medianMs("log.replay_cold"),
      "log.replay_pinned_ms" -> trace.medianMs("log.replay_pinned"))
  }

  def predicates(path: String, conf: Configuration, trace: Trace,
      json: String, sql: String): Map[String, Double] = {
    val snap = new GraftLog(path, conf).snapshot(None)
    val op = Some(JsonPredicates.fromJson(json))
    val pSchema = StructType(snap.metadata.partitionColumns.map(c => snap.schema(c)))
    trace.enabled = true
    try (0 until 5).foreach { _ =>
      trace.span("predicates.skip_eval")(
        FileSkippingEvaluator.filterFiles(op, snap.metadata.partitionColumns, snap.files))
      trace.span("predicates.hint_prune")(PartitionHintPruner.prune(Seq(sql), pSchema, snap.files))
    } finally trace.enabled = false
    Map("predicates.skip_eval_ms" -> trace.medianMs("predicates.skip_eval"),
      "predicates.hint_prune_ms" -> trace.medianMs("predicates.hint_prune"))
  }
}
