package graft

import org.apache.spark.sql.SparkSession

import graft.queries.{QueryRegistry, QuerySpec}

/** The plumbing every query harness shares (Bench, Verify, PlanDump and
  * the `graft.tools` probes): one session, one query selector and one
  * cold reset, so the harness that grades a query and the one that times
  * it run the same plan.
  */
object Harness {
  /** Local executor threads, also the shuffle partition count. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  /** The local session. `checkpointChecksum` is the default for Spark's
    * streaming checkpoint `.crc` twins; a `-D` system property of the
    * same name wins over it.
    */
  def session(checkpointChecksum: Boolean = false): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Let AQE convert sort-merge joins to broadcast from RUNTIME sizes
      // up to a threshold sized for executor memory (default 10 MB is
      // far below what a 8 GB heap handles). Derived tables like the
      // dedup code dictionaries have no planner stats, so the static
      // threshold never fires for them; the runtime one is the safe,
      // scale-correct mechanism — at 100 TB those tables measure huge
      // and AQE keeps the shuffle join.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "256m")
      // Spark 4.1 writes a Spark-level .crc twin for EVERY streaming
      // checkpoint file (state deltas, offsets, commits) through a small
      // shared async pool; stateful tasks then park in
      // ChecksumCheckpointFileManager.awaitResult — measured as the
      // dominant wait of every stateful streaming task (thread dumps;
      // ~0.5-1.2 s/query at sf0.1, −12% over the streaming family when
      // disabled). The checkpoint FS already checksums (Hadoop
      // ChecksumFileSystem locally; S3/HDFS server-side at scale), and at
      // scale the feature doubles PUT/CREATE ops on the checkpoint store
      // per state file — disabling is the production posture for an
      // engine whose exactly-once story is the commit protocol, not crc
      // twins.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        sys.props.getOrElse("spark.sql.streaming.checkpoint.fileChecksum.enabled",
          checkpointChecksum.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set-up that stays outside any timed region: build the shared
    * fixtures for `sfDir` and register the vector SQL functions.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit = {
    graft.log.SharedFixtures.ensure(spark, sfDir)
    graft.functions.VectorFunctions.register(spark)
  }

  /** The specs named by a comma-separated id list, in name order; every
    * spec for an empty list. An id is a query's number (`q13`) or its
    * full name and matches exactly: `q13` selects q13_string_funcs, never
    * q130–q139. An id that names no query throws.
    */
  def select(ids: String): Seq[QuerySpec] = {
    val wanted = ids.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    def hit(id: String, name: String) = name == id || name.startsWith(id + "_")
    val unknown = wanted.filterNot(id => QueryRegistry.all.exists(q => hit(id, q.name)))
    require(unknown.isEmpty, s"unknown query id(s): ${unknown.mkString(", ")}")
    if (wanted.isEmpty) QueryRegistry.all
    else QueryRegistry.all.filter(q => wanted.exists(hit(_, q.name)))
  }

  /** Run `body` (a query's build and action) cold and self-contained:
    * clear the CacheManager first (it matches cached plans semantically,
    * so a rerun could otherwise hit an earlier run's cache), and run the
    * body in its own [[graft.ops.Materialize]] scope, so every pin the
    * query makes is released when it returns.
    */
  def cold[T](spark: SparkSession)(body: => T): T = {
    spark.catalog.clearCache()
    graft.ops.Materialize.scoped(body)
  }

  /** Seconds `body` takes, run [[cold]]: neither the reset nor the
    * release of the query's pins is timed.
    */
  def timed(spark: SparkSession)(body: => Unit): Double = cold(spark) {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
