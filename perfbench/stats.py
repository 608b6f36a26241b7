"""Summary statistics shared by the runner and the comparator."""
import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it (the same rule as Stats.percentile in Scala)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = math.ceil(p / 100.0 * len(s))
    return s[max(rank, 1) - 1]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def read_ops(path):
    """Rows of ops.tsv: (kind, start_ns, end_ns, ok, traced)."""
    rows = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            k, s, e, ok, tr = line.rstrip("\n").split("\t")
            rows.append((k, int(s), int(e), ok == "1", tr == "1"))
    return rows


def weighted_percentile(pairs, p):
    """Percentile of (value, weight) pairs: the smallest value whose
    cumulative weight reaches p% of the total."""
    s = sorted(pairs)
    goal = p / 100.0 * sum(w for _, w in s)
    acc = 0.0
    for v, w in s:
        acc += w
        if acc >= goal - 1e-12:
            return v
    return s[-1][0]


def end_to_end(ops, window_s, setup_reps_s, live_heap_mb, mix=None, clients=None):
    """End-to-end metrics of one untraced run from its operation log.

    With `mix` (op kind -> share of the workload's mix), each op weighs its
    kind's share over the kind's count in the run, so the percentiles
    describe the stated mix, not whichever kinds the window happened to end
    on. With `clients` (a closed loop), throughput is clients over the
    weighted mean latency (Little's law); otherwise completed ops per second.
    """
    by_kind = {}
    for k, s, e, _, _ in ops:
        by_kind.setdefault(k, []).append((e - s) / 1e6)
    if mix is None:
        mix = {k: len(v) / len(ops) for k, v in by_kind.items()}
    if set(by_kind) != set(mix):
        raise ValueError(f"run covered op kinds {sorted(by_kind)}, mix has {sorted(mix)}")
    pairs = [(ms, mix[k] / len(v)) for k, v in by_kind.items() for ms in v]
    mean_ms = sum(ms * w for ms, w in pairs) / sum(w for _, w in pairs)
    ok = sum(1 for o in ops if o[3])
    return {
        "setup_s": statistics.median(setup_reps_s),
        "ops_per_s": clients * 1000.0 / mean_ms if clients else ok / window_s,
        "op_p50_ms": weighted_percentile(pairs, 50),
        "op_p95_ms": weighted_percentile(pairs, 95),
        "live_heap_mb": live_heap_mb,
    }


def op_counts(ops):
    """Timed operations per run, overall and by kind, split by traced half:
    the sample each percentile rests on."""
    out = {}
    for traced, key in ((False, "timed_ops"), (True, "traced_ops")):
        kinds = [o[0] for o in ops if o[4] == traced]
        out[key] = len(kinds)
        out[key + "_by_kind"] = {k: kinds.count(k) for k in sorted(set(kinds))}
    return out
