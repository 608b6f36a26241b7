package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.hadoop.conf.Configuration
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{GraftCatalog, GraftLog, SharedFixtures}
import graft.model._
import graft.server.{GraftServer, ServerConfig}

/** What a follower's step costs the log: a range or CDF request resolves
  * its start version's (metadata, protocol) without building that
  * version's snapshot, the commit-timestamp fold is memoized per table,
  * and a cold snapshot parses one checkpoint body however long the
  * checkpoint chain. Each shortcut must give exactly what a replay gives.
  */
class StartStateSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val conf = new Configuration()
  private val root = s"${SharedFixtures.targetDir}/test-tables/start-state"
  private val TOKEN = "start-state-token"
  private var server: GraftServer = _
  private val http = HttpClient.newHttpClient()

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def fresh(name: String): String = {
    val p = s"$root/$name"
    rm(new java.io.File(p))
    GraftLog.invalidateListing(p)
    p
  }

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))).json

  private def meta(id: String, config: Map[String, String] = Map.empty) =
    Metadata(id = id, name = id, schemaString = schema, configuration = config)

  /** Commit timestamps that go back in time now and then, so the
    * monotonizing fold has work to do.
    */
  private def ts(v: Long): Long = 1700000000000L + (if (v % 7 == 3) v - 5 else v) * 1000L

  private def add(v: Long, i: Int,
      dv: Option[DeletionVectorDescriptor] = None): AddFile =
    AddFile(path = f"v$v%03d-$i.parquet", size = 100L + i,
      stats = Some(FileStats(numRecords = 10L)), version = v, timestamp = ts(v),
      deletionVector = dv)

  private def appendAt(path: String, v: Long, extra: Seq[Action] = Nil,
      deltaFormat: Boolean = false): Unit =
    GraftLog.commit(path, v, extra ++ Seq(add(v, 0), add(v, 1)) ++
      (if (v > 0) Seq(RemoveFile(add(v - 1, 1).path, version = v, timestamp = ts(v)))
      else Nil), conf, deltaFormat = deltaFormat)

  /** The fold a reader of every commit computes, checkpoints ignored. */
  private def expectedTimestamps(path: String): Seq[(Long, Long)] = {
    val l = new GraftLog(path, conf)
    var prev = Long.MinValue
    l.listVersions().map { v =>
      val t0 = l.readVersion(v).collect {
        case a: AddFile => a.timestamp
        case r: RemoveFile => r.timestamp
      }.foldLeft(0L)(math.max)
      prev = if (t0 > prev) t0 else prev + 1
      (v, prev)
    }
  }

  override def beforeAll(): Unit = {
    server = new GraftServer(ServerConfig(bearerToken = Some(TOKEN)), conf).start()
  }

  override def afterAll(): Unit = if (server != null) server.stop()

  test("a cold snapshot after 5 chained checkpoints parses one checkpoint " +
    "body and equals a replay from commits") {
    val path = fresh("chain")
    (0L to 55L).foreach(v =>
      appendAt(path, v, if (v == 0) Seq(Protocol(), meta("chain")) else Nil))
    val logDir = new java.io.File(path, GraftLog.LOG_DIR)
    assert(logDir.list().count(_.endsWith(".checkpoint.json")) === 5)
    GraftLog.invalidateListing(path)
    GraftLog.checkpointBodies.set(0)
    val l = new GraftLog(path, conf)
    val snap = l.snapshot(None)
    val tss = l.versionTimestamps()
    assert(GraftLog.checkpointBodies.get() === 1)
    // the same commits without any checkpoint: a replay from commits
    val copy = fresh("chain-commits")
    val copyLog = new java.io.File(copy, GraftLog.LOG_DIR)
    copyLog.mkdirs()
    logDir.listFiles().filter(_.getName.matches("\\d{20}\\.json")).foreach(f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(copyLog, f.getName).toPath))
    val full = new GraftLog(copy, conf)
    val ref = full.snapshot(None)
    assert(snap.version === 55L)
    assert(snap.files === ref.files)
    assert((snap.metadata, snap.protocol) === ((ref.metadata, ref.protocol)))
    assert(tss === full.versionTimestamps())
    assert(tss === expectedTimestamps(path))
    // a broken link (checkpoint 20 unreadable) still makes every
    // checkpoint chained through it unusable: the newest usable one is 10
    java.nio.file.Files.write(
      new java.io.File(logDir, GraftLog.checkpointFileName(20)).toPath, "junk\n".getBytes)
    GraftLog.invalidateListing(path)
    val broken = new GraftLog(path, conf)
    assert(broken.checkpointAtOrBefore(55L).map(_.version) === Some(10L))
    assert(broken.snapshot(None).files === ref.files)
    assert(broken.versionTimestamps() === tss)
  }

  test("the commit-timestamp memo equals a fresh fold after appends and " +
    "across a checkpoint, reads only new commits, and dies with the table") {
    val path = fresh("memo")
    (0L to 8L).foreach(v =>
      appendAt(path, v, if (v == 0) Seq(Protocol(), meta("memo")) else Nil))
    assert(new GraftLog(path, conf).versionTimestamps() === expectedTimestamps(path))
    (9L to 12L).foreach(appendAt(path, _)) // checkpoint at 10
    assert(new GraftLog(path, conf).versionTimestamps() ===
      new GraftLog(path, conf).foldedVersionTimestamps())
    appendAt(path, 13L)
    val l = new GraftLog(path, conf)
    val tss = l.versionTimestamps()
    assert(l.memoizedVersions === Seq(13L), "only the commit not yet folded is read")
    assert(tss === new GraftLog(path, conf).foldedVersionTimestamps())
    assert(tss === expectedTimestamps(path))
    // recreated at the same path: new commits, new timestamps
    val again = fresh("memo")
    GraftLog.commit(again, 0L, Seq(Protocol(), meta("memo2"),
      add(0, 0).copy(timestamp = 5L)), conf)
    assert(new GraftLog(again, conf).versionTimestamps() === Seq((0L, 5L)))
  }

  private def send(path: String, headers: Map[String, String], body: Option[String])
      : HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"${server.url}$path"))
      .header("Authorization", s"Bearer $TOKEN")
    headers.foreach { case (k, v) => b.header(k, v) }
    body match {
      case Some(j) => b.POST(HttpRequest.BodyPublishers.ofString(j))
      case None => b.GET()
    }
    http.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** Protocol and metaData lines of a 200 response (no URLs, no expiry:
    * comparable byte for byte), or the error status.
    */
  private def stateLines(r: HttpResponse[String]): Either[Int, Seq[String]] =
    if (r.statusCode() != 200) Left(r.statusCode())
    else Right(r.body().split("\n").toSeq
      .filter(l => l.startsWith("{\"protocol\"") || l.startsWith("{\"metaData\"")))

  /** Every request of `requests(start)` for every start version, three
    * ways: cold caches before each request, one ascending pass from cold
    * caches (each start derives from the pair memoized for the one
    * before), and with the start version's snapshot replayed and cached
    * first (the state every request used to read). The first two add no
    * snapshot-cache entry; all three serve the same state lines.
    */
  private def acrossStarts(path: String, latest: Long)(
      requests: Long => Seq[HttpResponse[String]]): Seq[Seq[Either[Int, Seq[String]]]] = {
    val starts = 0L to latest
    val cold = starts.map { s =>
      GraftLog.invalidateListing(path)
      requests(s).map(stateLines)
    }
    assert(GraftCatalog.cachedSnapshotVersions(path).isEmpty)
    GraftLog.invalidateListing(path)
    val ascending = starts.map(s => requests(s).map(stateLines))
    assert(GraftCatalog.cachedSnapshotVersions(path).isEmpty)
    GraftLog.invalidateListing(path)
    val replayed = starts.map { s =>
      GraftCatalog.snapshotAt(new GraftLog(path, conf), s)
      requests(s).map(stateLines)
    }
    assert(cold === replayed)
    assert(ascending === replayed)
    replayed
  }

  test("range and CDF requests read their start version's state without " +
    "building its snapshot, across a mid-history metadata change") {
    val path = fresh("graft-ranges")
    GraftCatalog.register("ss.s.graft_ranges", path)
    try {
      (0L to 13L).foreach { v =>
        val m =
          if (v == 0) Seq(Protocol(), meta("graft-ranges"))
          // CDF from v4 on; a second metadata change after the checkpoint
          else if (v == 4) Seq(meta("graft-ranges", Map("enableChangeDataFeed" -> "true")))
          else if (v == 11) Seq(meta("graft-ranges",
            Map("enableChangeDataFeed" -> "true", "k" -> "v11")))
          else Nil
        appendAt(path, v, m)
      }
      val base = "/shares/ss/schemas/s/tables/graft_ranges"
      val out = acrossStarts(path, 13L) { s =>
        Seq(send(s"$base/query", Map.empty, Some(s"""{"startingVersion": $s}""")),
          send(s"$base/changes?startingVersion=$s", Map.empty, None))
      }
      out.zipWithIndex.foreach { case (Seq(range, cdf), s) =>
        val metaLine = range.toOption.get(1)
        assert(metaLine.contains("\"enableChangeDataFeed\":\"true\"") === (s >= 4), metaLine)
        assert(metaLine.contains("v11") === (s >= 11), metaLine)
        // a start version where CDF is disabled is refused
        assert(cdf.isLeft === (s < 4), s"start $s: $cdf")
      }
      val refused = send(s"$base/changes?startingVersion=2", Map.empty, None)
      assert(refused.statusCode() === 400)
      assert(refused.body().contains("Change Data Feed"), refused.body())
    } finally GraftCatalog.unregister("ss.s.graft_ranges")
  }

  test("delta dialect: a protocol upgrade mid-history reads the same with " +
    "includeHistoricalProtocol; an unreadable start protocol is refused") {
    val path = fresh("delta-ranges")
    GraftCatalog.register("ss.s.delta_ranges", path)
    val caps = Map("delta-sharing-capabilities" ->
      "responseformat=delta;readerfeatures=deletionvectors")
    try {
      val dv = Some(DeletionVectorDescriptor("i",
        "wi5b=000010000siXQKl0rr91000f55c8Xg0@@D72lkbi5=-{L", sizeInBytes = 40, cardinality = 3L))
      (0L to 5L).foreach { v =>
        if (v == 3) // the first deletion vector upgrades the protocol
          GraftLog.commit(path, v, Seq(add(v, 0, dv)), conf, deltaFormat = true)
        else appendAt(path, v, if (v == 0) Seq(Protocol(), meta("delta-ranges",
          Map("delta.enableChangeDataFeed" -> "true"))) else Nil, deltaFormat = true)
      }
      assert(new GraftLog(path, conf).deltaMode)
      val base = "/shares/ss/schemas/s/tables/delta_ranges"
      val out = acrossStarts(path, 5L) { s =>
        Seq(send(s"$base/query", caps,
            Some(s"""{"startingVersion": $s, "includeHistoricalProtocol": true}""")),
          send(s"$base/changes?startingVersion=$s&includeHistoricalProtocol=true", caps, None))
      }
      out.zipWithIndex.foreach { case (responses, s) =>
        responses.foreach { r =>
          val lines = r.toOption.get
          val protos = lines.filter(_.startsWith("{\"protocol\""))
          // the head protocol carries the start's reader requirement; a
          // later upgrade is one more version-stamped line
          assert(protos.head.contains("deletionVectors") === (s >= 3), protos.head)
          assert(protos.size === (if (s < 3) 2 else 1), lines)
        }
      }
      // a commit whose protocol names a reader feature this engine cannot
      // decode: a range starting there is refused, as a replay refuses it
      val logDir = new java.io.File(path, "_delta_log")
      java.nio.file.Files.write(new java.io.File(logDir, GraftLog.versionFileName(6)).toPath,
        ("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors","fancyFeature"],""" +
          """"writerFeatures":["deletionVectors","fancyFeature"]}}""" + "\n").getBytes)
      GraftLog.invalidateListing(path)
      val r = send(s"$base/query", caps, Some("""{"startingVersion": 6}"""))
      assert(r.statusCode() === 400)
      assert(r.body().contains("fancyFeature"), r.body())
    } finally GraftCatalog.unregister("ss.s.delta_ranges")
  }
}
