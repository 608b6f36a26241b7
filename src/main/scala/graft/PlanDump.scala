package graft

import graft.queries.Layer

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (plans/r16/<query>_{before,after}.txt).
  *
  * Usage: tools/run.sh graft.PlanDump <sfDir> <outDir> <suffix> [q35,q93,...]
  *
  * Writes <outDir>/<query>_<suffix>.txt per query. Streaming queries
  * execute their drain while the frame is built (their declared result is
  * the post-drain aggregate over the memory sink); the dumped plan is that
  * final batch aggregate — the streaming micro-batch plan is not a static
  * artifact. Such files carry a header line saying so.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val selected = Harness.select(args.lift(3).getOrElse(""))
    val spark = Harness.session()
    Harness.prepare(spark, sfDir)
    java.nio.file.Files.createDirectories(outDir)
    selected.foreach { q =>
      try {
        val plan = Harness.cold(spark)(q.build(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
        val header =
          if (q.layer == Layer.Streaming)
            "NOTE: streaming query — the drain already executed while building " +
              "the frame; this is the declared result's final batch plan over " +
              "the drained sink.\n\n"
          else ""
        java.nio.file.Files.write(
          outDir.resolve(s"${q.name}_$suffix.txt"),
          (header + plan + "\n").getBytes("UTF-8"))
        System.err.println(s"PLAN OK ${q.name}")
      } catch {
        case e: Throwable =>
          System.err.println(s"PLAN FAIL ${q.name}: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
