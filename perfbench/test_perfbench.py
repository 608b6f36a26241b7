"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py

The JVM tests build the program into .bench_build/ on first use.
"""
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import compare  # noqa: E402
import schedule  # noqa: E402
import stats  # noqa: E402


def _jvm(*args):
    classpath = build.build(ROOT, os.path.join(ROOT, ".bench_build"))
    tmp = os.path.join(ROOT, ".bench_build", "selftest-tmp")
    os.makedirs(tmp, exist_ok=True)
    return subprocess.run(["java"] + build.ADD_OPENS + [f"-Djava.io.tmpdir={tmp}", "-cp",
                           ":".join(classpath), "graft.perfbench.SelfTest", *args],
                          capture_output=True, text=True, timeout=600)


def _tree_digest(d):
    h = hashlib.sha256()
    for base, _, names in sorted(os.walk(d)):
        for n in sorted(names):
            p = os.path.join(base, n)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class ScheduleTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        for make in (schedule.provider_query, schedule.provider_churn,
                     lambda s: schedule.recipient_read(s, 15_000),
                     schedule.operator_suite):
            a = json.dumps(make(11), sort_keys=True)
            self.assertEqual(a, json.dumps(make(11), sort_keys=True))
            self.assertNotEqual(a, json.dumps(make(12), sort_keys=True))

    def test_provider_query_expectations_match_brute_force(self):
        files, sched = schedule.provider_query(3)
        for s in sched["shapes"]:
            if s["kind"] in ("range", "timetravel", "walk"):
                hint = json.loads(s["json"])["children"]
                lo, hi = (int(c["children"][1]["value"]) for c in hint)
                v = schedule.PQ_COMMITS - 1 if s["version"] is None else s["version"]
                n = sum(1 for f in files if f[0] <= v and f[3] < hi and f[4] >= lo)
                self.assertEqual(n, s["expect"], s)
                self.assertTrue(0.001 * s["active"] - 1 <= n <= 0.01 * s["active"], s)
            if s["kind"] == "walk":
                self.assertIn(s["pages"], (2, 3), s)

    def test_synthetic_log_is_byte_identical(self):
        rng = random.Random(5)
        files = schedule.synth_files(rng, 3_000, 25, 50)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            tsv = os.path.join(d, "files.tsv")
            schedule.write_tsv(tsv, files)
            digests = []
            for i in range(2):
                out = os.path.join(d, f"t{i}")
                r = _jvm("synth", tsv, out)
                self.assertEqual(r.returncode, 0, r.stderr[-2000:])
                digests.append(_tree_digest(out))
            self.assertEqual(digests[0], digests[1])


class StatsTest(unittest.TestCase):
    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        random.Random(1).shuffle(xs)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2)
        self.assertEqual(stats.percentile(list(range(20)), 95), 18)
        self.assertEqual(stats.percentile([7.5], 95), 7.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_quartiles_match_statistics(self):
        self.assertEqual(stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread([9, 10, 10, 10, 11]), 0.1)

    def test_end_to_end_metrics(self):
        ops = [("a", 0, 10_000_000, True, False), ("a", 0, 30_000_000, True, False),
               ("b", 0, 100_000_000, True, False), ("b", 0, 200_000_000, False, False)]
        m = stats.end_to_end(ops, 2.0, [3.0, 1.0, 2.0], 50.0)
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["ops_per_s"], 1.5)
        self.assertEqual(m["op_p50_ms"], 30.0)
        self.assertEqual(m["op_p95_ms"], 200.0)
        self.assertEqual(stats.op_counts(ops + [("a", 0, 1, True, True)]),
                         {"timed_ops": 4, "timed_ops_by_kind": {"a": 2, "b": 2},
                          "traced_ops": 1, "traced_ops_by_kind": {"a": 1}})
        self.assertEqual(stats.op_counts(ops)["traced_ops"], 0)
        # a mix where kind b is 90% of ops: its latencies dominate, however
        # many of each kind the run happened to complete
        m = stats.end_to_end(ops, 2.0, [1.0], 50.0, mix={"a": 0.1, "b": 0.9}, clients=2)
        self.assertEqual(m["op_p50_ms"], 100.0)
        self.assertEqual(m["op_p95_ms"], 200.0)
        self.assertAlmostEqual(m["ops_per_s"], 2 * 1000.0 / (0.1 * 20 + 0.9 * 150))
        with self.assertRaises(ValueError):
            stats.end_to_end(ops, 2.0, [1.0], 50.0, mix={"a": 0.5, "c": 0.5})

    def test_weighted_percentile(self):
        pairs = [(10, 1), (20, 1), (30, 2)]
        self.assertEqual(stats.weighted_percentile(pairs, 25), 10)
        self.assertEqual(stats.weighted_percentile(pairs, 50), 20)
        self.assertEqual(stats.weighted_percentile(pairs, 51), 30)
        self.assertEqual(stats.weighted_percentile(pairs, 100), 30)


class CompareTest(unittest.TestCase):
    SPEC = {"name": "op_p50_ms", "better": "lower", "bound": 0.05}

    def _rows(self, parent, change, spec=SPEC, calib=None):
        p = {("w", i): {spec["name"]: v} for i, v in enumerate(parent)}
        c = {("w", i): {spec["name"]: v} for i, v in enumerate(change)}
        if calib:
            for i, (pc, cc) in enumerate(calib):
                if pc is not None:
                    p[("w", i)]["host.calib_ms"] = pc
                if cc is not None:
                    c[("w", i)]["host.calib_ms"] = cc
        return compare.compare(p, c, [spec])

    def test_improved(self):
        parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [x * 0.8 for x in parent]
        self.assertEqual(self._rows(parent, change)[0]["verdict"], "improved")

    def test_regressed(self):
        parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [x * 1.2 for x in parent]
        self.assertEqual(self._rows(parent, change)[0]["verdict"], "regressed")

    def test_unchanged(self):
        parent = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]
        change = [101, 100, 100, 99, 101, 99, 100, 100, 100, 101]
        self.assertEqual(self._rows(parent, change)[0]["verdict"], "unchanged")

    def test_unresolved_when_spread_exceeds_bound(self):
        parent = [80, 120, 90, 110, 100, 70, 130, 95, 105, 100]
        change = [85, 115, 95, 105, 100, 75, 125, 100, 100, 102]
        self.assertEqual(self._rows(parent, change)[0]["verdict"], "unresolved")

    def test_higher_is_better(self):
        spec = {"name": "ops_per_s", "better": "higher", "bound": 0.05}
        parent = [10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0]
        self.assertEqual(self._rows(parent, [x * 1.3 for x in parent], spec)[0]["verdict"],
                         "improved")
        self.assertEqual(self._rows(parent, [x * 0.8 for x in parent], spec)[0]["verdict"],
                         "regressed")

    def test_host_drift_flag(self):
        parent = [100.0] * 4
        rows = self._rows(parent, parent, calib=[(50, 51), (50, 70), (50, 50), (50, 49)])
        self.assertEqual(rows[0]["host_drift_seeds"], [1])
        # a pair where one side has no calibration is not checked
        rows = self._rows(parent, parent, calib=[(50, 51), (50, None), (None, 90), (50, 49)])
        self.assertEqual(rows[0]["host_drift_seeds"], [])

    def test_load_takes_calibration_from_properties(self):
        with tempfile.TemporaryDirectory() as d:
            with open(os.path.join(d, "w-3.json"), "w") as f:
                f.write(json.dumps({"properties": {"host.calib_ms": 42.5}}) + "\n")
                f.write(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {
                    "op_p50_ms": {"value": 7.0, "unit": "ms"}}}) + "\n")
            with open(os.path.join(d, "w-4.json"), "w") as f:
                f.write(json.dumps({"correct": True, "attempted": 1, "failed": 0, "metrics": {
                    "op_p50_ms": {"value": 8.0, "unit": "ms"}}}) + "\n")
            self.assertEqual(compare.load(d), {("w", 3): {"op_p50_ms": 7.0, "host.calib_ms": 42.5},
                                               ("w", 4): {"op_p50_ms": 8.0}})


class OutputCheckTest(unittest.TestCase):
    """tools/check.py, as the suite's output check, rejects a corrupted result."""

    def test_suite_output_check_rejects_corruption(self):
        import pandas as pd
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            data, out = os.path.join(d, "data"), os.path.join(d, "out")
            os.makedirs(data)
            os.makedirs(os.path.join(out, "qx"))
            pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]}).to_parquet(
                os.path.join(data, "t.parquet"))
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"qx": "SELECT k, v * 2 AS w FROM t"}, f)
            good = pd.DataFrame({"k": [3, 1, 2], "w": [7.0, 3.0, 5.0]})
            good.to_parquet(os.path.join(out, "qx", "part-0.parquet"))
            oracle = os.path.join(out, "oracle_sql.json")
            shutil.copy(oracle, oracle + ".orig")
            cache = os.path.join(d, "cache")
            self.assertEqual(checks.suite_outputs(data, out, ROOT, cache), (1, []))
            good.assign(w=[7.0, 3.0, 5.5]).to_parquet(os.path.join(out, "qx", "part-0.parquet"))
            shutil.copy(oracle + ".orig", oracle)
            n, bad = checks.suite_outputs(data, out, ROOT, cache)
            self.assertEqual(n, 1)
            self.assertEqual(len(bad), 1)

    def test_recipient_expected_matches_history(self):
        import datagen
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            datagen.generate(d, 0.001, ["lineitem", "orders", "nation"])
            population, _ = schedule.recipient_read(1, 1_500)
            exp = checks.recipient_expected(d, population)
            for op in population:
                if op["kind"] == "dv":
                    self.assertEqual(exp[op["id"]][0], 20.0)
                if op["kind"] == "limit":
                    self.assertEqual(exp[op["id"]], [float(min(op["n"], 6_000))])
                if op["kind"] == "stream":
                    cdf = exp[next(p["id"] for p in population if p["kind"] == "cdf")]
                    self.assertEqual(exp[op["id"]], [sum(cdf)])

    def test_jvm_checks_reject_corruption(self):
        r = _jvm("checks")
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
