package graft

import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

import graft.log.{GraftCatalog, GraftLog, Snapshot, SharedFixtures}
import graft.model._

/** `GraftCatalog.snapshotAt` derives a version from the newest cached
  * earlier one (applying only the commits after it) when a cold replay
  * would start from the same checkpoint. Every derived snapshot must
  * equal a cold replay of the same version field by field, files in the
  * same order, and derivation must never cross a table's recreation.
  */
class SnapshotDerivationSpec extends AnyFunSuite {

  private val conf = new Configuration()
  private val path = s"${SharedFixtures.targetDir}/test-tables/derivation"

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.StringType))).json

  private def add(name: String, v: Int, lo: Long = 0L,
      dv: Option[DeletionVectorDescriptor] = None): AddFile =
    AddFile(path = s"p=${name.head}/$name.parquet", partitionValues = Map("p" -> name.take(1)),
      size = 100L + v, stats = Some(FileStats(numRecords = 10L,
        minValues = Map("id" -> lo.toString), maxValues = Map("id" -> (lo + 9).toString),
        nullCount = Map("id" -> 0L))),
      version = v, timestamp = 1700000000000L + v, deletionVector = dv)

  private def remove(name: String, v: Int): RemoveFile =
    RemoveFile(path = s"p=${name.head}/$name.parquet", version = v)

  /** The commits: adds, a remove, a re-add of the removed path with a
    * deletion vector, an in-place replacement, a metadata change, txns and
    * domains (set, then removed) — across the checkpoint written at v10.
    */
  private def commits(tag: String): Seq[Seq[Action]] = Seq(
    Seq(Protocol(), Metadata(id = s"derive-$tag", name = "derive", schemaString = schema,
      partitionColumns = Seq("p")), add("a0", 0), add("b0", 0, 10), add("c0", 0, 20)),
    Seq(add("a1", 1, 30), remove("b0", 1)),
    Seq(add("b0", 2, 10, Some(DeletionVectorDescriptor("i", "wi5b=000010000siXQKl0rr91000f55c8Xg0@@D72lkbi5=-{L",
      sizeInBytes = 40, cardinality = 3L)))),
    Seq(Metadata(id = s"derive-$tag", name = "derive", schemaString = schema,
      partitionColumns = Seq("p"), configuration = Map("k" -> "v3")), Txn("app1", 5L)),
    Seq(DomainMetadata("d1", "{\"x\":1}"), add("c1", 4, 40)),
    Seq(add("a0", 5, 50)), // replaces a0 in place, new stats
    Seq(add("d6", 6, 60)),
    Seq(remove("a1", 7), add("e7", 7, 70)),
    Seq(add("a1", 8, 80)), // re-added: moves to the end
    Seq(add("f9", 9, 90), Txn("app2", 1L)),
    Seq(add("g10", 10, 100)), // checkpoint at v10
    Seq(remove("c0", 11), Txn("app1", 7L), DomainMetadata("d1", removed = true)),
    Seq(add("c0", 12, 120), remove("g10", 12)),
    Seq(add("h13", 13, 130)))

  private def create(tag: String): Unit = {
    rm(new java.io.File(path))
    GraftLog.invalidateListing(path)
    commits(tag).zipWithIndex.foreach { case (acts, v) => GraftLog.commit(path, v, acts, conf) }
  }

  private def assertSame(derived: Snapshot, cold: Snapshot): Unit = {
    val v = cold.version
    assert(derived.version === v)
    assert(derived.metadata === cold.metadata, s"metadata at v$v")
    assert(derived.protocol === cold.protocol, s"protocol at v$v")
    assert(derived.files.toList === cold.files.toList, s"files at v$v")
    assert(derived.transactions === cold.transactions, s"txns at v$v")
    assert(derived.domains === cold.domains, s"domains at v$v")
    assert(derived.index.pathOrder.toSeq === cold.index.pathOrder.toSeq, s"path order at v$v")
  }

  test("every derived snapshot equals a cold replay, across a checkpoint") {
    create("one")
    try {
      val last = commits("one").size - 1
      // a fresh GraftLog per call, like the server: only derivation can
      // make two versions share AddFile objects
      var prev: Option[Snapshot] = None
      var derived = 0
      (0 to last).foreach { v =>
        // build the previous version's index columns, so derivation
        // carries them over (they must match a cold build too)
        prev.foreach { p =>
          p.index.keep(graft.predicates.GreaterThanOp(Seq(
            graft.predicates.ColumnOp("id", "long"), graft.predicates.LiteralOp("35", "long"))),
            Set("p"))
          p.index.keep(graft.predicates.EqualOp(Seq(
            graft.predicates.ColumnOp("p", "string"), graft.predicates.LiteralOp("a", "string"))),
            Set("p"))
        }
        val s = GraftCatalog.snapshotAt(new GraftLog(path, conf), v)
        val cold = new GraftLog(path, conf).snapshot(Some(v))
        assertSame(s, cold)
        prev.foreach { p =>
          if (p.files.exists(f => s.files.exists(_ eq f))) derived += 1
        }
        // the carried-over columns decide as freshly built ones do
        for (op <- Seq(
            graft.predicates.GreaterThanOp(Seq(
              graft.predicates.ColumnOp("id", "long"), graft.predicates.LiteralOp("35", "long"))),
            graft.predicates.EqualOp(Seq(
              graft.predicates.ColumnOp("p", "string"), graft.predicates.LiteralOp("a", "string")))))
          assert(s.index.keep(op, Set("p")).toSeq === cold.index.keep(op, Set("p")).toSeq,
            s"$op at v$v")
        prev = Some(s)
      }
      // v1..v9 derive from their predecessor; v10 starts from its own
      // checkpoint (v9 was replayed without one); v11..v13 derive again
      assert(derived === last - 1, s"derived $derived of $last versions")
    } finally GraftLog.invalidateListing(path)
  }

  test("a recreated table never derives from the old incarnation") {
    create("old")
    (0 to 5).foreach(v => GraftCatalog.snapshotAt(new GraftLog(path, conf), v))
    // recreate at the same path: version numbers restart
    rm(new java.io.File(path))
    GraftLog.invalidateListing(path)
    val fresh = Seq(
      Seq(Protocol(), Metadata(id = "derive-new", name = "derive", schemaString = schema,
        partitionColumns = Seq("p")), add("z0", 0)),
      Seq(add("z1", 1, 10)))
    fresh.zipWithIndex.foreach { case (acts, v) => GraftLog.commit(path, v, acts, conf) }
    try {
      GraftCatalog.snapshotAt(new GraftLog(path, conf), 0)
      val s = GraftCatalog.snapshotAt(new GraftLog(path, conf), 1)
      assertSame(s, new GraftLog(path, conf).snapshot(Some(1)))
      assert(s.files.map(_.path) === Seq("p=z/z0.parquet", "p=z/z1.parquet"))
      assert(s.metadata.id === "derive-new")
    } finally GraftLog.invalidateListing(path)
  }
}
