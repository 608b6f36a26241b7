"""Output checks computed outside the program under test.

recipient_read answers come from DuckDB over the same local parquet the
shared tables were built from; operator-suite outputs are compared with each
query's oracle SQL result by the repository's tools/check.py.
"""
import hashlib
import json
import os
import subprocess
import sys

import duckdb

BEFORE, AFTER, EARLY = "TIMESTAMP '1997-01-01'", "TIMESTAMP '1999-01-01'", "TIMESTAMP '1996-01-01'"


def _recipient_sql(op):
    k = op["kind"]
    if k == "scan":
        return "SELECT count(*), sum(l_orderkey), sum(l_extendedprice) FROM lineitem"
    if k == "range_agg":
        return (f"SELECT count(*), sum(l_quantity) FROM lineitem WHERE l_orderkey >= {op['lo']} "
                f"AND l_orderkey < {op['hi']} AND l_discount > 0.05")
    if k == "partition":
        return (f"SELECT count(*), sum(o_totalprice) FROM orders "
                f"WHERE year(o_orderdate) = {op['year']}")
    if k == "limit":
        return f"SELECT least(count(*), {op['n']}) FROM lineitem"
    if k == "timetravel":
        cut = [BEFORE, AFTER, "TIMESTAMP '9999-01-01'"][op["version"]]
        return f"SELECT count(*), sum(o_orderkey) FROM orders WHERE o_orderdate < {cut}"
    if k == "dv":
        return "SELECT count(*), sum(n_nationkey) FROM nation WHERE n_regionkey <> 2"
    # orders_cdf history: insert (< 1997), insert (1997-1998), delete F
    # orders before 1996, update orders over 400,000 still present
    deleted = f"(o_orderstatus = 'F' AND o_orderdate < {EARLY})"
    counts = (f"SELECT count(*) FILTER (o_orderdate < {AFTER}), "
              f"count(*) FILTER (o_orderdate < {AFTER} AND {deleted}), "
              f"count(*) FILTER (o_orderdate < {AFTER} AND NOT {deleted} "
              f"AND o_totalprice > 400000) FROM orders")
    return counts


def _connect(data_dir, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, t + '.parquet')}'")
    return con


def recipient_expected(data_dir, population):
    """Expected numbers for each op variant, keyed by op id."""
    con = _connect(data_dir, ("lineitem", "orders", "nation"))
    out = {}
    for op in population:
        row = [float(x) if x is not None else 0.0
               for x in con.execute(_recipient_sql(op)).fetchone()]
        if op["kind"] == "cdf":
            row = [row[0], row[1], row[2], row[2]]
        elif op["kind"] == "stream":
            row = [row[0] + row[1] + 2 * row[2]]
        out[op["id"]] = row
    return out


def _oracle_cache(data_dir, outputs_dir, cache_dir):
    """Replace each oracle in outputs_dir/oracle_sql.json with a read of its
    DuckDB result, computed once per (fixtures, SQL) into cache_dir: some
    oracles are all-pairs joins that take tens of seconds."""
    path = os.path.join(outputs_dir, "oracle_sql.json")
    with open(path) as f:
        oracles = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    reads = {}
    for q, sql in oracles.items():
        key = hashlib.sha256((os.path.basename(data_dir) + sql).encode()).hexdigest()[:16]
        result = os.path.join(cache_dir, f"{q}-{key}.parquet")
        if not os.path.exists(result):
            if con is None:
                con = _connect(data_dir, [p[:-8] for p in os.listdir(data_dir)
                                          if p.endswith(".parquet")])
            tmp = f"{result}.tmp{os.getpid()}"
            con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            os.replace(tmp, result)
        reads[q] = f"SELECT * FROM '{result}'"
    with open(path, "w") as f:
        json.dump(reads, f)


def suite_outputs(data_dir, outputs_dir, root, cache_dir):
    """Compare the suite's outputs with their oracles using tools/check.py;
    returns (checked, failures)."""
    _oracle_cache(data_dir, outputs_dir, cache_dir)
    checker = os.path.join(root, "tools", "check.py")
    p = subprocess.run([sys.executable, checker, data_dir, outputs_dir],
                       capture_output=True, text=True, timeout=120)
    lines = p.stdout.splitlines()
    passed = [l for l in lines if l.startswith("PASS")]
    failed = [l for l in lines if l.startswith("FAIL")]
    if p.returncode != 0 and not failed:
        failed = [f"tools/check.py exited {p.returncode}: {p.stderr[-500:]}"]
    return len(passed) + len(failed), failed
