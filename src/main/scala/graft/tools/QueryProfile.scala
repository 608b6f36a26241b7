package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage profile of one or more declared queries — the headless
  * substitute for the Spark UI's stage table (optimization guide §1/§7):
  * for every stage, the wall time, task count, per-task max/total runtime,
  * CPU time, shuffle read/write bytes, and the first line of the stage's
  * callsite, grouped per query. Jobs and stages are attributed via the
  * job description set per query. Not part of the driver contract — a
  * measurement scratchpad.
  *
  * Usage: tools/run.sh graft.tools.QueryProfile <sfDir> q180,q186 [passes]
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val selected = graft.Harness.select(args(1))
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = graft.Harness.session()
    graft.Harness.prepare(spark, sfDir)

    case class StageRow(desc: String, stageId: Int, name: String,
      wallMs: Long, tasks: Int, runMs: Long, cpuMs: Long, maxTaskMs: Long,
      shReadMb: Double, shWriteMb: Double, inMb: Double)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val jobCount = mutable.Map.empty[String, Int].withDefaultValue(0)
    val stageToDesc = mutable.Map.empty[Int, String]
    @volatile var currentDesc = ""
    val taskAgg = mutable.Map.empty[Int, (Int, Long, Long, Long)]

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val d = Option(js.properties.getProperty("spark.job.description"))
          .getOrElse(currentDesc)
        jobCount(d) += 1
        js.stageIds.foreach(id => stageToDesc(id) = d)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) synchronized {
          val (n, run, cpu, mx) =
            taskAgg.getOrElse(te.stageId, (0, 0L, 0L, 0L))
          taskAgg(te.stageId) = (n + 1, run + m.executorRunTime,
            cpu + m.executorCpuTime / 1000000L,
            math.max(mx, m.executorRunTime))
        }
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        val (n, run, cpu, mx) = taskAgg.getOrElse(si.stageId, (0, 0L, 0L, 0L))
        val m = si.taskMetrics
        synchronized {
          stages += StageRow(
            stageToDesc.getOrElse(si.stageId, currentDesc), si.stageId,
            si.name.linesIterator.next(), wall, n, run, cpu, mx,
            if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead / 1e6,
            if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten / 1e6,
            if (m == null) 0 else m.inputMetrics.bytesRead / 1e6)
        }
      }
    })

    (1 to passes).foreach { p =>
      selected.foreach { q =>
        val desc = s"${q.name}#$p"
        currentDesc = desc
        spark.sparkContext.setJobDescription(desc)
        val dt = graft.Harness.timed(spark) {
          try q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable =>
            System.err.println(s"FAIL ${q.name}: ${e.getMessage}") }
        }
        println(f"\n=== $desc%s  total ${dt}%.3f s  jobs=${jobCount(desc)}%d")
        val rows = stages.filter(_.desc == desc).sortBy(-_.wallMs)
        println(f"${"wall_ms"}%8s ${"tasks"}%5s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
          f"${"max_ms"}%7s ${"shR_MB"}%7s ${"shW_MB"}%7s ${"in_MB"}%7s  stage")
        rows.take(30).foreach { r =>
          println(f"${r.wallMs}%8d ${r.tasks}%5d ${r.runMs}%8d ${r.cpuMs}%8d " +
            f"${r.maxTaskMs}%7d ${r.shReadMb}%7.1f ${r.shWriteMb}%7.1f " +
            f"${r.inMb}%7.1f  [${r.stageId}%d] ${r.name}%s")
        }
        val tot = rows.map(_.wallMs).sum
        println(f"stage wall sum ${tot}%d ms over ${rows.size}%d stages " +
          f"(whole-query ${dt * 1000}%.0f ms; gap = scheduling/driver/plan), " +
          f"shuffle read ${rows.map(_.shReadMb).sum}%.1f MB, " +
          f"write ${rows.map(_.shWriteMb).sum}%.1f MB")
      }
    }
    spark.stop()
  }
}
