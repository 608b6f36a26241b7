package graft.tools

import graft.Harness
import graft.queries.QuerySpec

/** In-JVM A/B timing harness: wall-clock comparisons on this host are
  * noisy across JVMs (shared-host variance dwarfs real deltas), so perf
  * experiments run alternating variants inside ONE session and report
  * per-variant medians. Each variant is a set of SQL confs applied for
  * its runs only; a baseline with the session's own confs always runs
  * first. Every run is cold and writes to the `noop` sink, as Bench does.
  * A scratchpad for plan work.
  *
  * Usage: tools/run.sh graft.tools.PerfAB <sfDir> <reps> <queryIds> [k=v[,k=v...] ...]
  * e.g.   tools/run.sh graft.tools.PerfAB <sf0.1 dir> 5 q64,q131 \
  *          spark.sql.adaptive.enabled=false
  */
object PerfAB {
  def main(args: Array[String]): Unit = {
    if (args.length < 3)
      sys.error("usage: PerfAB <sfDir> <reps> <queryIds> [k=v[,k=v...] ...]")
    val sfDir = args(0)
    val reps = args(1).toInt
    val selected = Harness.select(args(2))
    val variants: Seq[(String, Seq[(String, String)])] =
      ("baseline" -> Seq.empty) +: args.drop(3).toSeq.map { v =>
        v -> v.split(',').toSeq.map(_.split("=", 2) match {
          case Array(k, x) => k.trim -> x.trim
          case _ => sys.error(s"variant '$v': expected k=v[,k=v...]")
        })
      }
    val spark = Harness.session()
    Harness.prepare(spark, sfDir)

    def run(q: QuerySpec, conf: Seq[(String, String)]): Double = {
      val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        Harness.timed(spark)(q.build(spark, sfDir).write.format("noop").mode("overwrite").save())
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    // warm-up (JIT + codegen cache): one untimed baseline run per query
    selected.foreach(run(_, Seq.empty))

    val times = for (_ <- 1 to reps; q <- selected; (label, conf) <- variants)
      yield (q.name, label, run(q, conf))
    for (q <- selected; (label, _) <- variants) {
      val ts = times.collect { case (n, l, t) if n == q.name && l == label => t }.sorted
      println(f"${q.name}%-28s $label%-40s median=${ts(ts.size / 2)}%6.2f s  " +
        s"runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}
