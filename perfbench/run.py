#!/usr/bin/env python3
"""Sharing-engine benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload provider_query --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the program and the
benchmark into .bench_build/ and generates the parquet fixtures there. The
last line of stdout is the result JSON; the line before it holds the
workload's recorded properties. A traced run keeps its spans in
.bench_build/spans/<workload>-<seed>.jsonl. See perfbench/README.md for the workloads.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave the benchmark's directory as checked out

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import schedule  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("recipient_read", "provider_query", "provider_churn")
RECIPIENT_SF = 0.01
JVM_TIMEOUT_S = 170


def fixtures(build_dir, sf, tables):
    key = build.digest([os.path.join(HERE, "datagen.py")], HERE)
    out = os.path.join(build_dir, "data", f"sf{sf}-{'-'.join(sorted(tables))}-{key}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        datagen.generate(tmp, sf, tables)
        os.replace(tmp, out)
    return out


def workload_inputs(name, seed, work, build_dir, program):
    """Spec entries for the JVM side, plus whatever the checks need."""
    if name in ("provider_query", "provider_churn"):
        files, sched = getattr(schedule, name)(seed)
        tsv = os.path.join(work, "synth.tsv")
        schedule.write_tsv(tsv, files)
        return dict(sched, synth_tsv=tsv, data="")
    data = fixtures(build_dir, RECIPIENT_SF, list(datagen.TABLES))
    population, ops = schedule.recipient_read(seed, int(1_500_000 * RECIPIENT_SF))
    shares = f"shares-{os.path.basename(program)}-{os.path.basename(data)}"
    return {"data": data, "ops": ops, "population": population,
            "share_cache": os.path.join(build_dir, "data", shares),
            "expected": checks.recipient_expected(data, population),
            "probe_json": schedule.id_range_hint(0, 1000, column="l_orderkey"),
            "suite": schedule.operator_suite(seed),
            "outputs": os.path.join(work, "outputs")}


def run_jvm(classpath, spec_path, work):
    cmd = (["java"] + build.ADD_OPENS +
           ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join(classpath), "graft.perfbench.Main", spec_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also reached on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")


def _terminate(signum, frame):
    raise SystemExit(f"terminated by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build_dir = os.path.join(root, ".bench_build")
    classpath = build.build(root, build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spec = workload_inputs(a.workload, a.seed, work, build_dir, classpath[1])
        spec.update(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                    work=work, out=os.path.join(work, "result.json"))
        spec_path = os.path.join(work, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        run_jvm(classpath, spec_path, work)
        with open(spec["out"]) as f:
            res = json.load(f)
        attempted = res["checks_attempted"]
        failed = res["checks_failed"]
        messages = list(res["check_messages"])
        if a.workload == "recipient_read" and a.trace:
            n, bad = checks.suite_outputs(spec["data"], spec["outputs"], root,
                                          os.path.join(build_dir, "data", "oracles"))
            attempted += n
            failed += len(bad)
            messages += bad
        for m in messages:
            sys.stderr.write(f"check failed: {m}\n")

        ops_all = stats.read_ops(os.path.join(work, "ops.tsv"))
        if a.trace:
            layers = res["layers"]
            values = {m["name"]: layers.get(m["name"], 0.0) for m in bench["per_layer"]}
            specs = bench["per_layer"]
        else:
            ops = [o for o in ops_all if not o[4]]
            values = stats.end_to_end(ops, res["window_s"], res["setup_s"], res["live_heap_mb"],
                                      **schedule.MIX[a.workload])
            specs = bench["end_to_end"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in specs}
        props = dict(res["properties"], **stats.op_counts(ops_all))
        print(json.dumps({"properties": props}, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                          "failed": failed, "metrics": metrics}))
    finally:
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(build_dir, "spans"), exist_ok=True)
            os.replace(spans, os.path.join(build_dir, "spans", f"{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
