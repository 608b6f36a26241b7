#!/usr/bin/env python3
"""Compare two sets of benchmark runs (parent vs change).

    python3 perfbench/compare.py parent/ change/ [--bench BENCHMARK.json]

Each directory holds one run per file, named `<workload>-<seed>.json`,
each file the stdout of `perfbench/run.py` (at least its last two lines:
the properties line and the result). Keep traced and untraced runs in
separate directories. Runs of the two sides pair by (workload, seed); run
each seed on both sides, alternating which side runs first. For every (metric, workload) the comparator reports both
sides' medians and quartiles, the change's paired win fraction, and one
verdict:

  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the parent's own interquartile spread
  regressed   the change's median is worse than the parent's by more than
              the metric's bound
  unresolved  the parent's spread is wider than the bound, and not every
              change run beats every parent run
  unchanged   otherwise

Per-layer metrics (traced runs) have no bound; they get improved /
unchanged only. Every run records `host.calib_ms`, the median time of a
fixed CPU kernel at its start, middle and end; a pair whose runs read it
more than the drift bound apart is flagged as host drift. A pair where
either side lacks it is not checked.
"""
import argparse
import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402

CALIB_DRIFT_BOUND = 0.10


def load(directory):
    """{(workload, seed): metrics dict} from one side's result files. The
    properties line, when present, adds the run's `host.calib_ms`."""
    runs = {}
    for p in sorted(glob.glob(os.path.join(directory, "*.json"))):
        workload, seed = os.path.basename(p)[:-5].rsplit("-", 1)
        with open(p) as f:
            lines = [json.loads(x) for x in f if x.startswith("{")]
        values = {k: v["value"] for k, v in lines[-1]["metrics"].items()}
        for line in lines[:-1]:
            calib = line.get("properties", {}).get("host.calib_ms")
            if calib is not None:
                values.setdefault("host.calib_ms", calib)
        runs[(workload, int(seed))] = values
    return runs


def verdict(parent, change, better, bound):
    """Verdict for one (metric, workload) from paired samples."""
    sign = 1.0 if better == "higher" else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    _, pm, _ = stats.quartiles(parent)
    _, cm, _ = stats.quartiles(change)
    spread = stats.spread(parent)
    gain = sign * (cm - pm) / abs(pm) if pm else 0.0
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    row = {"win_frac": wins / len(parent), "loss_frac": losses / len(parent),
           "change": gain, "parent_spread": spread}
    if wins >= 0.9 * len(parent) and gain > spread:
        row["verdict"] = "improved"
    elif bound is not None and -gain > bound:
        row["verdict"] = "regressed"
    elif bound is not None and spread > bound and not all_better:
        row["verdict"] = "unresolved"
    else:
        row["verdict"] = "unchanged"
    return row


def compare(parent_runs, change_runs, specs):
    """Rows of the comparison, one per (metric, workload) present on both sides."""
    rows = []
    workloads = sorted({w for w, _ in parent_runs} & {w for w, _ in change_runs})
    for w in workloads:
        seeds = sorted(s for (pw, s) in parent_runs if pw == w and (w, s) in change_runs)
        calib = [(s, parent_runs[(w, s)].get("host.calib_ms"),
                  change_runs[(w, s)].get("host.calib_ms")) for s in seeds]
        drift = [s for s, pc, cc in calib
                 if pc and cc and abs(cc / pc - 1) > CALIB_DRIFT_BOUND]
        for spec in specs:
            name = spec["name"]
            pairs = [(parent_runs[(w, s)][name], change_runs[(w, s)][name]) for s in seeds
                     if name in parent_runs[(w, s)] and name in change_runs[(w, s)]]
            if not pairs:
                continue
            p, c = [x for x, _ in pairs], [y for _, y in pairs]
            row = {"workload": w, "metric": name, "pairs": len(pairs),
                   "parent_q": stats.quartiles(p), "change_q": stats.quartiles(c),
                   "host_drift_seeds": drift}
            row.update(verdict(p, c, spec["better"], spec.get("bound")))
            rows.append(row)
    return rows


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--bench", default="BENCHMARK.json")
    a = ap.parse_args(argv)
    with open(a.bench) as f:
        bench = json.load(f)
    rows = compare(load(a.parent), load(a.change), bench["end_to_end"] + bench["per_layer"])
    for r in rows:
        print(f"{r['workload']:16} {r['metric']:40} {r['verdict']:10} "
              f"parent {r['parent_q'][1]:.4g} [{r['parent_q'][0]:.4g}, {r['parent_q'][2]:.4g}] "
              f"change {r['change_q'][1]:.4g} [{r['change_q'][0]:.4g}, {r['change_q'][2]:.4g}] "
              f"wins {r['win_frac']:.2f} n={r['pairs']}"
              + (f" HOST-DRIFT seeds {r['host_drift_seeds']}" if r["host_drift_seeds"] else ""))
    return 1 if any(r["verdict"] == "regressed" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
