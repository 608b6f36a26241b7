"""Seeded inputs for each workload: request schedules, synthetic table
layouts, and the answer each request must get.

Everything here is a pure function of the seed, so the same seed gives a
byte-identical schedule (checked by test_perfbench.py). Expected answers are
computed from the generator's own description of the table, never from the
program under test.
"""
import bisect
import datetime as dt
import json
import math
import random

SNAPSHOT_CACHE_SIZE = 10  # graft.log.GraftCatalog.SNAPSHOT_CACHE_SIZE
DATE0 = dt.date(2026, 1, 1)


def ds(i):
    return (DATE0 + dt.timedelta(days=i)).isoformat()


def synth_files(rng, n_files, commits, dates, first_version=0):
    """AddFiles of a synthetic table: id ranges tile the key space in file
    order, so an id-range predicate keeps a known, contiguous run of files.
    Each row is (version, path, ds, lo, hi, rows, category)."""
    per = n_files // commits
    out, lo = [], 0
    for i in range(n_files):
        rows = rng.randrange(2_000_000, 8_000_001)
        d = rng.randrange(dates)
        out.append((first_version + i // per, f"ds={ds(d)}/part-{i:06d}.parquet",
                    ds(d), lo, lo + rows - 1, rows, rng.randrange(7)))
        lo += rows
    return out


def write_tsv(path, files):
    with open(path, "w", encoding="utf-8") as f:
        for r in files:
            f.write("\t".join(str(x) for x in r) + "\n")


def id_range_hint(lo, hi_excl, column="id"):
    leaf = lambda op, v: {"op": op, "children": [
        {"op": "column", "name": column, "valueType": "long"},
        {"op": "literal", "value": str(v), "valueType": "long"}]}
    return json.dumps({"op": "and", "children": [
        leaf("greaterThanOrEqual", lo), leaf("lessThan", hi_excl)]},
        separators=(",", ":"))


def zipf_draw(rng, n, s, count):
    weights = [1.0 / (r + 1) ** s for r in range(n)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    return [bisect.bisect_left(cum, rng.random() * acc) for _ in range(count)]


PQ_FILES, PQ_COMMITS, PQ_DATES = 100_000, 40, 200
PQ_ZIPF_S = 1.1
# one deck of requests per client round: every round holds exactly this mix,
# so a run's composition does not depend on the seed
PQ_DECK = [("range", 13), ("timetravel", 6), ("walk", 6), ("date", 6), ("limit", 4),
           ("metadata", 2), ("version", 2), ("changes", 1)]
PQ_SHAPES_PER_SLOT = 6  # distinct shapes per deck slot of a kind (212 in all)
PQ_CLIENTS = 4


def provider_query(seed, rounds=250):
    """Synthetic 10^5-file table plus each client's request schedule: rounds
    of PQ_DECK in seeded order, each request's shape drawn Zipf-skewed from
    its kind's shapes."""
    rng = random.Random(seed)
    files = synth_files(rng, PQ_FILES, PQ_COMMITS, PQ_DATES)
    per = PQ_FILES // PQ_COMMITS
    latest = PQ_COMMITS - 1
    by_path = sorted(range(PQ_FILES), key=lambda i: files[i][1])
    per_date = {}
    for f in files:
        per_date[f[2]] = per_date.get(f[2], 0) + 1

    def n_active(v):
        return min(PQ_FILES, (v + 1) * per)

    def id_run(v, q):
        """A run of 0.1-1% of the files active at v (share set by q), as an
        id-range hint at a seeded position."""
        act = n_active(v)
        k = max(1, int(act * (0.001 + 0.009 * q)))
        j = rng.randrange(0, act - k + 1)
        return id_range_hint(files[j][3], files[j + k - 1][4] + 1), k

    def shape(sid, kind, q, q2):
        """Shape `sid`; q and q2 in [0, 1) set its size (files kept,
        version, dates, pages), so each Zipf rank costs the same under
        every seed."""
        s = {"id": sid, "kind": kind, "version": None, "pages": 1}
        v = latest
        if kind == "range":
            s["json"], s["expect"] = id_run(v, q)
        elif kind == "timetravel":
            v = int(q * (PQ_COMMITS - 1))
            s["version"] = v
            s["json"], s["expect"] = id_run(v, q2)
        elif kind == "walk":
            s["json"], k = id_run(v, q2)
            s["max_files"] = max(1, math.ceil(k / (2 + q)))
            s["expect"], s["pages"] = k, math.ceil(k / s["max_files"])
        elif kind == "date":
            d0 = rng.randrange(PQ_DATES - 5)
            d1 = d0 + int(q * 5)
            s["sql"] = [f"ds >= '{ds(d0)}' AND ds <= '{ds(d1)}'"]
            s["expect"] = sum(per_date.get(ds(d), 0) for d in range(d0, d1 + 1))
        elif kind == "limit":
            limit = int(20 + 380 * q) * 5_000_000
            s["limit"] = limit
            cum = n = 0
            for i in by_path:
                if cum >= limit:
                    break
                cum += files[i][5]
                n += 1
            s["expect"] = n
        elif kind == "version":
            s["expect"] = latest
        elif kind == "metadata":
            s["expect"] = 0
        elif kind == "changes":
            start = rng.randrange(1, PQ_COMMITS - 5)
            s["start"], s["end"] = start, start + 4
            s["expect"] = 5 * per
        if kind not in ("metadata", "version", "changes"):
            s["active"] = n_active(v)
        return s

    shapes, by_kind = [], {}
    for kind, slots in PQ_DECK:
        n = 1 if kind in ("metadata", "version") else slots * PQ_SHAPES_PER_SLOT
        ids = list(range(len(shapes), len(shapes) + n))  # index = Zipf rank
        # rank r gets size quantiles frac((r + 0.5) * a) for two irrational
        # a: hot and cold ranks both spread over the whole size range
        shapes.extend(shape(i, kind, ((r + 0.5) * 0.6180339887) % 1.0,
                            ((r + 0.5) * 0.4142135624) % 1.0)
                      for r, i in enumerate(ids))
        by_kind[kind] = ids
    deck = [k for k, w in PQ_DECK for _ in range(w)]
    clients = []
    for _ in range(PQ_CLIENTS):
        seq = []
        for _ in range(rounds):
            rng.shuffle(deck)
            seq.extend(by_kind[k][zipf_draw(rng, len(by_kind[k]), PQ_ZIPF_S, 1)[0]]
                       for k in deck)
        clients.append(seq)
    probe_json, _ = id_run(latest, 0.5)
    return files, {
        "shapes": shapes, "clients": clients, "probe_json": probe_json,
        "probe_sql": f"ds >= '{ds(10)}' AND ds <= '{ds(14)}'"}


CH_FILES, CH_VERSIONS, CH_DATES = 20_000, 200, 200
CH_ADDS, CH_REMOVES, CH_COMMITS = 50, 10, 1200
CH_RATE = 5.0  # writer commits per second, open loop


def provider_churn(seed):
    """Initial table (20k files over 200 versions) and the writer's commit
    sequence: each commit adds 50 new files and removes 10 live ones."""
    rng = random.Random(seed)
    files = synth_files(rng, CH_FILES, CH_VERSIONS, CH_DATES)
    live = [f[1] for f in files]
    lo = files[-1][4] + 1
    commits = []
    for c in range(CH_COMMITS):
        adds = []
        for j in range(CH_ADDS):
            rows = rng.randrange(2_000_000, 8_000_001)
            d = rng.randrange(CH_DATES)
            adds.append([f"ds={ds(d)}/churn-{c:05d}-{j:02d}.parquet", ds(d), lo,
                         lo + rows - 1, rows, rng.randrange(7)])
            lo += rows
        removes = []
        for _ in range(CH_REMOVES):
            i = rng.randrange(len(live))
            live[i], live[-1] = live[-1], live[i]
            removes.append(live.pop())
        live.extend(a[0] for a in adds)
        commits.append({"adds": adds, "removes": removes})
    return files, {"commits": commits, "rate": CH_RATE}


RR_MIX = [("scan", 2), ("range_agg", 3), ("partition", 2), ("limit", 2),
          ("timetravel", 2), ("cdf", 1), ("dv", 2), ("stream", 1)]
RR_VARIANTS = 3


def recipient_read(seed, n_orders, schedule_len=2_000):
    """Seeded mix of recipient reads; each op references one of a few
    parameter variants per kind, whose answers run.py precomputes."""
    rng = random.Random(seed)
    population = []
    for kind, _ in RR_MIX:
        for _ in range(RR_VARIANTS):
            op = {"id": f"{kind}{len(population)}", "kind": kind}
            if kind == "range_agg":
                width = rng.randrange(n_orders // 100, n_orders // 10)
                op["lo"] = rng.randrange(n_orders - width)
                op["hi"] = op["lo"] + width
            elif kind == "partition":
                op["year"] = rng.randrange(1995, 2002)
            elif kind == "limit":
                op["n"] = rng.randrange(100, 10_000)
            elif kind == "timetravel":
                op["version"] = rng.randrange(3)
            population.append(op)
    by_kind = {k: [p for p in population if p["kind"] == k] for k, _ in RR_MIX}
    kinds = [k for k, w in RR_MIX for _ in range(w)]
    ops = []
    while len(ops) < schedule_len:
        rng.shuffle(kinds)
        ops.extend(rng.choice(by_kind[k]) for k in kinds)
    return population, [{"id": o["id"]} for o in ops[:schedule_len]]


SUITE = ["q35_ngram_jaccard_dedup", "q186_lsh_recall",
         "q191_kn_trigram", "q168_adamic_adar", "q136_triangle_count",
         "q133_domain_classify", "q93_minhash_lsh_near_dup", "q210_gopher_repetition"]


def operator_suite(seed):
    """The suite's query order, shuffled from the seed."""
    order = list(SUITE)
    random.Random(seed).shuffle(order)
    return order


def _shares(deck):
    total = sum(w for _, w in deck)
    return {k: w / total for k, w in deck}


# op kind shares and closed-loop client count per workload (None: open loop)
MIX = {
    "provider_query": {"mix": _shares(PQ_DECK), "clients": PQ_CLIENTS},
    "recipient_read": {"mix": _shares(RR_MIX), "clients": 1},
    "provider_churn": {"mix": {"source_trigger": 2 / 3, "cdf_trigger": 1 / 3},
                       "clients": None},
}
