package graft

import org.apache.hadoop.conf.Configuration
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.client.GraftRestClient
import graft.log.{GraftCatalog, GraftLog, SharedFixtures}
import graft.model._
import graft.server.{GraftServer, ServerConfig}

/** A recipient following a table reads each new commit through one
  * version-range request, so that request's latency is the follower's
  * step. The JDK server sends a response's headers and body in separate
  * writes; unless its sockets set `TCP_NODELAY`, the body waits for the
  * client's delayed ACK of the headers (tens of ms on Linux), whatever
  * the server's own work.
  */
class TransportSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val conf = new Configuration()
  private val path = s"${SharedFixtures.targetDir}/test-tables/transport"
  private val TOKEN = "transport-token"
  private var server: GraftServer = _

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))).json

  private def add(v: Long, i: Int): AddFile =
    AddFile(path = f"v$v%05d-$i%03d.parquet", size = 1000L + i,
      stats = Some(FileStats(numRecords = 100L, minValues = Map("id" -> (i * 100).toString),
        maxValues = Map("id" -> (i * 100 + 99).toString), nullCount = Map("id" -> 0L))),
      version = v, timestamp = 1700000000000L + v)

  /** A churn-sized commit: 50 adds and 10 removes of the previous one's. */
  private def commit(v: Long): Seq[Action] =
    (0 until 50).map(add(v, _)) ++
      (0 until 10).map(i => RemoveFile(add(v - 1, i).path, version = v,
        timestamp = 1700000000000L + v))

  override def beforeAll(): Unit = {
    rm(new java.io.File(path))
    GraftLog.invalidateListing(path)
    GraftLog.commit(path, 0L, Seq(Protocol(), Metadata(id = "transport", name = "transport",
      schemaString = schema)) ++ (0 until 50).map(add(0L, _)), conf)
    GraftCatalog.register("tshare.tschema.follow", path)
    server = new GraftServer(ServerConfig(bearerToken = Some(TOKEN)), conf).start()
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    GraftCatalog.unregister("tshare.tschema.follow")
  }

  test("following a table: each churn-sized range request answers without " +
    "a delayed-ACK stall") {
    val client = new GraftRestClient(server.url, Some(TOKEN))
    val rounds = 100
    val ms = (1L to rounds.toLong).map { v =>
      GraftLog.commit(path, v, commit(v), conf)
      val t0 = System.nanoTime()
      val r = client.queryRange("tshare", "tschema", "follow", v, Some(v))
      val took = (System.nanoTime() - t0) / 1e6
      assert(r.adds.size === 50 && r.removes.size === 10)
      took
    }
    // the first half warms the JIT and the connection pool
    val median = ms.drop(rounds / 2).sorted.apply(rounds / 4)
    info(f"median range request $median%.1f ms")
    // measured on 4 cores: 8–10 ms with TCP_NODELAY, 54–57 ms without
    assert(median < 25.0,
      f"median range request $median%.1f ms (all: ${ms.map(m => f"$m%.1f").mkString(", ")})")
  }
}
