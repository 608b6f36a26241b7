package graft

import graft.queries.{Layer, QuerySpec}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. Setup (shared-table materialization, function
  * registration, JVM/codegen warm-up) happens before the timed loop —
  * the loop measures query execution, not fixture builds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset for local iteration: SPARK_GRAFT_ONLY=q35,q27
    val selected = Harness.select(sys.env.getOrElse("SPARK_GRAFT_ONLY", ""))
    val spark = Harness.session()

    // setup outside the timed region
    Harness.prepare(spark, sfDir)
    // JVM / codegen / scalar-library warm-up: run every selected
    // plain-parquet query once at sf0.001 so one-time costs (janino compilation of each
    // query's generated class, ICU classload on the first collation-aware
    // upper/lower, parquet reader init) are paid before the timed loop —
    // steady-state measurement, the JMH discipline. Measured: q13 1.63 s
    // cold vs 0.45 s warm at sf0.1; the warm-up pass itself costs ~10 s
    // at sf0.001. Only Plain-layer queries warm: the others go through
    // the shared-fixture / REST / streaming layer, whose caches are keyed
    // per table registration, and re-pointing the share registry at a
    // second sf mid-process is not a code path the engine needs to support.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      selected.filter(_.layer == Layer.Plain).foreach { q =>
        try Harness.cold(spark)(q.build(spark, warmDir).write.format("noop").mode("overwrite").save())
        catch { case e: Throwable =>
          System.err.println(s"BENCH WARMUP SKIP ${q.name}: ${e.getMessage}") }
      }
    }
    spark.range(1).selectExpr("upper('x')", "lower('X')", "initcap('x')").count()

    // Per-query BEST-OF-N (default 2): one-off interference on a shared
    // driver host (the r6/r7 artifacts showed 4-8x inflation on single
    // queries) cannot survive two passes both being hit — the min is the
    // trustworthy steady-state number. A second pass that fails (a few
    // queries mutate scratch fixtures) keeps the first pass's time; a
    // first-pass failure is loudly -1 + a failures entry, never a
    // normal-looking time.
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(2)
    // JVM-wide GC time, for spike ATTRIBUTION: when a query's sweeps
    // disagree, the per-pass GC delta says whether the slow pass was a
    // collection storm (code-side: heap pressure from accumulated
    // broadcasts/caches) or external host load (GC-quiet slowness).
    // The r13 driver artifact's sweep-2 spikes (q86/q89 at 13 s vs
    // ~2.5 s) did not reproduce locally — this records the evidence
    // needed to adjudicate the next occurrence.
    def gcNowMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
    }
    val gcDeltas = scala.collection.mutable.Map.empty[String, Vector[Long]]
    def timeOnce(q: QuerySpec, loud: Boolean): Double = {
      val name = q.name
      // §1.5 of the optimization playbook: label every job with the query
      // name so event logs / the UI attribute stages to queries.
      spark.sparkContext.setJobDescription(name)
      val gc0 = gcNowMs()
      // noop sink, NOT count(): count() lets Catalyst prune the whole
      // projection, so a pure-projection query (fingerprints, entropy,
      // redaction) measures only its scan — the winnowing O(n^2) defect
      // hid behind exactly that (q125 "0.127 s" while Verify burned
      // minutes). The noop write evaluates every output column and
      // discards the rows.
      try {
        // every pass runs COLD — otherwise pass 2+ would silently time
        // warm-cache reruns and the best-of-N would overstate us
        val dt = Harness.timed(spark)(
          q.build(spark, sfDir).write.format("noop").mode("overwrite").save())
        gcDeltas(name) = gcDeltas.getOrElse(name, Vector.empty) :+ (gcNowMs() - gc0)
        dt
      }
      catch {
        case e: Throwable =>
          if (loud)
            System.err.println(s"BENCH FAILURE $name: ${e.getClass.getName}: ${e.getMessage}")
          gcDeltas(name) = gcDeltas.getOrElse(name, Vector.empty) :+ (gcNowMs() - gc0)
          -1.0
      }
    }
    // TEMPORALLY-SEPARATED SWEEPS: pass 1 runs ALL queries, then pass 2
    // runs ALL queries again. Adjacent best-of-N (r10) could not reject a
    // sustained host-load window covering both passes of one query — the
    // r10 driver artifact was 5.5x inflated on 12 queries that way. With
    // full sweeps the two timings of a query are separated by the whole
    // run (~minutes), so a load window must span the entire bench to
    // corrupt both; if it does, the per-pass ratios expose it (suspect
    // flag below) instead of silently producing a plausible-looking min.
    val sweeps = (1 to passes).map(p => selected.map(timeOnce(_, loud = p == 1)))
    // A query whose sweep times disagree by >2x (above a 0.3 s noise
    // floor) was probably hit by external load in one sweep. 2x (down
    // from 3x, r14 verdict task): borderline spikes like r14's q28
    // (2.95x) now get the healing pass + GC attribution instead of
    // riding the min silently — the cost is a handful of extra cold
    // passes per run.
    def disagrees(times: Seq[Double]): Boolean = {
      val ok = times.filter(_ >= 0)
      ok.size >= 2 && ok.min > 0.3 && ok.max / ok.min > 2.0
    }
    // SELF-HEALING third pass: two-sweep disagreement alone cannot say
    // which time is real, so round 11's artifact left adjudication to a
    // manual re-run. Now any query whose sweeps disagree gets ONE extra
    // cold pass; the MEDIAN of three then arbitrates — if it sits near
    // the min (two of three agree), the min is steady-state and the
    // suspect flag clears; the flag survives only if the third pass
    // still disagrees with the min (sustained interference — nothing
    // this process can adjudicate on its own).
    val allTimes: Seq[(String, Seq[Double])] = selected.zipWithIndex.map { case (q, i) =>
      val times = sweeps.map(_(i))
      q.name -> (if (disagrees(times)) times :+ timeOnce(q, loud = false) else times)
    }
    val results = allTimes.map { case (name, times) =>
      val ok = times.filter(_ >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.min
      (name, best, times, times.head >= 0)
    }
    val suspects = results.collect {
      case (name, _, times, _) if {
        val ok = times.filter(_ >= 0).sorted
        // with a third pass present, the median arbitrates; with two,
        // the original rule stands
        ok.size >= 2 && ok.min > 0.3 && {
          val ref = if (ok.size >= 3) ok(ok.size / 2) else ok.max
          ref / ok.min > 2.0
        }
      } => name
    }
    // ms precision keeps the line small; a sub-ms query time carries no
    // signal at this measurement's noise floor anyway. Locale-pinned:
    // a comma decimal separator would make the line invalid JSON.
    def ms3(v: Double): String =
      if (v < 0) "-1" else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + ms3(v) }
      .mkString("{", ",", "}")
    val perPass = results.map { case (k, _, times, _) =>
      "\"" + k + "\":" + times.map(ms3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failures = results.collect { case (k, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val suspectArr = suspects.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.filter(_._4).map(_._2).sum
    // GC attribution, emitted ONLY for queries whose sweeps disagreed
    // (bounded output): slow pass + matching GC delta = heap pressure;
    // slow pass + quiet GC = external host load. SCOPE (r14 advisory):
    // the deltas are JVM-WIDE collector time — concurrent driver
    // activity (URL-refresher threads, streaming housekeeping) is
    // included, so a nonzero delta reads as "GC happened during the
    // pass", not "this query allocated it"; the gc_ms_scope field in
    // the record pins that reading for the artifact's consumers.
    val disagreeing = results.collect {
      case (name, _, times, _) if disagrees(times.take(passes)) => name
    }.toSet
    val gcJson = gcDeltas.toSeq.filter(kv => disagreeing(kv._1)).sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${ms3(total)},"unit":"sec","queries":$qs,"passes":$perPass,"suspect":${suspects.nonEmpty},"suspect_queries":$suspectArr,"gc_ms":$gcJson,"gc_ms_scope":"jvm-wide","failures":$failures,"sf":"$sfDir"}"""
    // The total first on its own line, then the full record — and the
    // record ALSO written to target/bench.json, so a harness that
    // truncates captured output can never destroy the per-query data.
    println(s"""{"metric":"total","value":${ms3(total)},"unit":"sec"}""")
    println(json)
    try {
      val out = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (json + "\n").getBytes("UTF-8"))
      System.err.println(s"BENCH JSON written to ${out.toAbsolutePath}")
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"BENCH JSON file write failed: $e") }
    spark.stop()
  }
}
