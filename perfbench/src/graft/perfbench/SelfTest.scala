package graft.perfbench

import org.apache.hadoop.conf.Configuration

import graft.log.GraftLog

/** JVM half of the benchmark's self-tests, run by test_perfbench.py:
  *
  *   SelfTest synth <files.tsv> <dir>   write the synthetic log into <dir>
  *   SelfTest checks                    each output check rejects a corrupted result
  */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }

  def main(args: Array[String]): Unit = args.head match {
    case "synth" =>
      Synth.write(args(2), "selftest", Synth.read(args(1)), new Configuration())
    case "checks" =>
      val want = Seq(60000.0, 1.799e9, 2.3e9)
      expect(Checks.close(want, want), "recipient: exact answer accepted")
      expect(!Checks.close(want.updated(0, 59999.0), want), "recipient: row count off by one")
      expect(!Checks.close(want.updated(2, 2.3e9 * (1 + 1e-6)), want), "recipient: aggregate drift")
      expect(!Checks.close(want.take(2), want), "recipient: missing column")
      expect(ProviderQuery.answerOk(512, 3, 512, 3), "provider_query: exact answer accepted")
      expect(!ProviderQuery.answerOk(511, 3, 512, 3), "provider_query: file missing")
      expect(!ProviderQuery.answerOk(512, 2, 512, 3), "provider_query: page skipped")
      val commits = Seq(Map[String, Any]("adds" -> Seq(Seq("c1")), "removes" -> Seq("a")))
      val live = ProviderChurn.liveFiles(Seq("a", "b"), commits)
      expect(live == Set("b", "c1"), "provider_churn: live set after one commit")
      expect(live != Set("a", "b", "c1"), "provider_churn: lost remove rejected")
      expect(live != Set("b"), "provider_churn: lost add rejected")
      // a log whose head commit is missing fails the churn log check
      val dir = java.nio.file.Files.createTempDirectory("selftest").toString
      val files = Seq(Synth.F(0, "ds=2026-01-01/a.parquet", "2026-01-01", 0, 9, 10, 0),
        Synth.F(1, "ds=2026-01-01/b.parquet", "2026-01-01", 10, 19, 10, 0))
      Synth.write(dir, "selftest", files, new Configuration())
      val snap = new GraftLog(dir, new Configuration()).snapshot(None)
      expect(snap.files.map(_.path).toSet == files.map(_.path).toSet, "synthetic log replays")
      expect(snap.files.map(_.path).toSet != files.take(1).map(_.path).toSet,
        "provider_churn: log missing an acknowledged commit rejected")
      Synth.rm(new java.io.File(dir))
      println("OK")
  }
}
