"""Output checks for the graft benchmark.

Every result the JVM dumped (one JSON line per distinct call) is compared
with a reference computed independently: DuckDB SQL over the same parquet
tables for `snapshot_mix`, the registry's own oracle SQL (replayed in
DuckDB) for the graph and corpus queries, and a Python replay of the
base rows plus every CDC batch for `ivm_ingest`. A mismatching entry is
charged to every timed op it stands for.
"""
import datetime
import decimal
import json
import math
import os

import duckdb

import datagen

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EVENT_TYPES = ", ".join(f"'{t}'" for t in datagen.EVENT_TYPES)
FLAGSHIP = ("SELECT custkey, c_name, order_cnt, total_spent FROM "
            "(SELECT o_custkey AS custkey, count(*) AS order_cnt, sum(o_totalprice) AS total_spent "
            "FROM orders GROUP BY o_custkey) j JOIN customer ON custkey = c_custkey "
            "ORDER BY order_cnt DESC, custkey LIMIT {k}")
TOPK = "SELECT o_custkey, count(*) AS order_cnt FROM orders GROUP BY o_custkey ORDER BY order_cnt DESC, o_custkey LIMIT {k}"
ASOF = ("SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY user_id "
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events "
        "WHERE ts <= TIMESTAMP '2024-01-{day:02d} 00:00:00') t WHERE rn = 1")

# shape -> (reference SQL template, whether the result order is part of the contract)
SNAPSHOT_SQL = {
    "scan_projection": ("SELECT o_orderkey, {col} FROM orders", False),
    "filter_eq": ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders "
                  "WHERE o_custkey = {key}", False),
    "filter_range": ("SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
                     "WHERE l_quantity >= {lb} AND l_quantity < {lb} + {width}", False),
    "filter_notnull": ("SELECT event_type, count(*) AS cnt FROM events WHERE props IS NOT NULL "
                       "AND value >= {lb} AND value < {lb} + 100.0 GROUP BY event_type", False),
    "index_point": ("SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM lineitem "
                    "WHERE l_partkey = {key}", False),
    "index_range": ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice >= {lb} "
                    "AND o_totalprice < {lb} + 20000.0 ORDER BY o_totalprice", "o_totalprice"),
    "topk": (TOPK, True),
    "sum_groupby": ("SELECT user_id, sum(value) AS value_sum FROM events "
                    "WHERE event_type = '{event_type}' GROUP BY user_id", False),
    "join_2way": ("SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_nationkey FROM orders "
                  "JOIN customer ON o_custkey = c_custkey "
                  "WHERE o_totalprice >= {lb} AND o_totalprice < {lb} + 50000.0", False),
    "flagship": (FLAGSHIP, True),
    "router": ("SELECT event_id, user_id, event_type, value FROM events WHERE value >= {lb} "
               f"AND value < {{lb}} + 50.0 AND event_type IN ({EVENT_TYPES})", False),
    "cache_topk": (TOPK, True),
    "sql": ("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O' "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}", True),
    "point_lookup": ("SELECT * FROM customer WHERE c_custkey = {key}", False),
    "asof_snapshot": (ASOF.replace("{cols}", "user_id, event_id, event_type, value"), False),
    "index_asof": ("SELECT user_id, event_id, value FROM (" + ASOF.replace("{cols}", "user_id, event_id, value")
                   + ") s WHERE value >= {lb} AND value < {lb} + 100.0 ORDER BY value", "value"),
    "graph_config": (FLAGSHIP, True),
}

EPOCH = datetime.datetime(1970, 1, 1)


def norm(v):
    """The JVM dump's value convention: timestamps as epoch micros,
    decimals as doubles, lists as lists."""
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [norm(x) for x in v]
    if isinstance(v, dict):
        return {k: norm(x) for k, x in v.items()}
    return v


def same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            if math.isnan(a) or math.isnan(b):
                return math.isnan(a) and math.isnan(b)
            return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    return a == b


def sort_key(row):
    def k(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return json.dumps(v, sort_keys=True, default=str)
    return tuple(k(v) for v in row)


def compare(got_cols, got_rows, want_cols, want_rows, ordered=False):
    """None when equal, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {got_cols} != {want_cols}"
    order = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
    worder = [want_cols.index(got_cols[i]) for i in order]
    g = [[norm(r[i]) for i in order] for r in got_rows]
    w = [[norm(r[i]) for i in worder] for r in want_rows]
    if len(g) != len(w):
        return f"{len(g)} rows, want {len(w)}"
    if isinstance(ordered, str):  # order on one column; ties in any order
        col = sorted(got_cols).index(ordered)
        vals = [r[col] for r in g]
        if any(x is not None and y is not None and x > y for x, y in zip(vals, vals[1:])):
            return f"rows not ordered by {ordered}"
    if ordered is not True:
        g, w = sorted(g, key=sort_key), sorted(w, key=sort_key)
    for x, y in zip(g, w):
        if not same(x, y):
            return f"row {x} != {y}"
    return None


class Checker:
    def __init__(self, data_dir):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")

    def sql(self, q):
        rel = self.con.sql(q)
        return list(rel.columns), [list(r) for r in rel.fetchall()]

    def snapshot(self, e):
        tmpl, ordered = SNAPSHOT_SQL[e["shape"]]
        cols, rows = self.sql(tmpl.format(**e["params"]))
        return compare(e["columns"], e["rows"], cols, rows, ordered)

    def registry(self, e):
        if e["oracle"] is None:  # checked only against its own earlier runs, in the JVM
            return None
        cols, rows = self.sql(e["oracle"])
        return compare(e["columns"], e["rows"], cols, rows)


def ivm_replay(data_dir, seed, batches):
    """Rows after each batch, replayed from the base rows and deltas alone."""
    rows = dict(datagen.ivm_base(data_dir))
    states = []
    for i, (_, changes) in enumerate(datagen.ivm_batches(data_dir, seed)):
        if i >= batches:
            break
        for k, c, b, p, st, op in changes:
            if op == "D":
                del rows[k]
            else:
                rows[k] = (k, c, b, p, st)
        states.append(dict(rows))
    return rows, states


def group_state(rows):
    g = {}
    for k, c, b, p, st in rows.values():
        s, n = g.get((b, c), (0.0, 0))
        g[(b, c)] = (s + p, n + 1)
    return [[b, c, s, n] for (b, c), (s, n) in g.items()]


STATE_COLS = ["cust_bucket", "o_custkey", "sum_o_totalprice", "n_rows"]
KEYED_COLS = ["o_orderkey", "o_custkey", "cust_bucket", "o_totalprice", "o_orderstatus"]


def check_ivm(entries, data_dir, seed):
    """Yield (entry, reason) for the ivm_ingest entries."""
    n = max([e.get("batches", 0) for e in entries if e["kind"] == "ivm_state"] or [0])
    final, states = ivm_replay(data_dir, seed, n)
    for e in entries:
        if e["kind"] == "ivm_state":
            yield e, compare(e["columns"], e["rows"], STATE_COLS, group_state(final))
        elif e["kind"] == "ivm_keyed":
            yield e, compare(e["columns"], e["rows"], KEYED_COLS, [list(r) for r in final.values()])
        elif e["kind"] in ("ivm_topk", "ivm_point"):
            state = group_state(states[e["batch"]])
            if e["kind"] == "ivm_topk":
                want = sorted(state, key=lambda r: (-r[2], r[1]))[: e["k"]]
                yield e, compare(e["columns"], e["rows"], STATE_COLS, want, ordered=True)
            else:
                want = [r for r in state if r[1] == e["key"]]
                yield e, compare(e["columns"], e["rows"], STATE_COLS, want)


def run_checks(checks_path, data_dir, seed):
    """Returns (entries checked, failed ops, list of failure reasons)."""
    with open(checks_path) as f:
        entries = [json.loads(line) for line in f if line.strip()]
    checker = Checker(data_dir)
    results = []
    for e in entries:
        if e["kind"] == "snapshot":
            results.append((e, checker.snapshot(e)))
        elif e["kind"] == "registry":
            results.append((e, checker.registry(e)))
    results.extend(check_ivm([e for e in entries if e["kind"].startswith("ivm_")], data_dir, seed))
    failed, reasons = 0, []
    for e, why in results:
        if why is not None:
            failed += max(1, e.get("ops", 1))
            label = e.get("shape") or e.get("name") or e["kind"]
            reasons.append(f"{label} {e.get('params', e.get('batch', ''))}: {why}")
    return len(results), failed, reasons
