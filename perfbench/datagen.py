"""Deterministic inputs for the graft benchmark.

`write_tables` builds the fixed star-schema dataset every workload reads:
the same ten tables as graft's `Tables.names` (TPC-H-ish dimensions and
facts, an `events` stream, `documents` and `embeddings`), one parquet
file each. The dataset is generated from a fixed seed so job, task and
shuffle counts repeat exactly across runs; the workload seed varies
only what a client sends (query parameters, CDC deltas, pass order).

`write_ivm_inputs` builds the `ivm_ingest` inputs from the workload
seed: the base rows and a sequence of CDC batches over them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATASET_SEED = 42
# Rows per table. Small on purpose: the graph family is bound by job
# count, not data size, and every workload must finish a run within a
# few tens of seconds on 4 cores.
SIZES = {
    "customer": 300, "supplier": 20, "part": 400, "orders": 3000,
    "events": 2000, "users": 150, "documents": 500, "embeddings": 500,
}
DATASET_VERSION = "v1-" + ",".join(f"{k}={v}" for k, v in sorted(SIZES.items()))

# IVM layout: the state is partitioned by `cust_bucket` (o_custkey mod
# IVM_BUCKETS), the keyed table hashed into IVM_KEYED_BUCKETS; a batch of
# 6 changes touches 7 state buckets, a minority.
IVM_BUCKETS = 32
IVM_KEYED_BUCKETS = 64
IVM_BATCHES = 200

WORDS = ("key agg row scan slow fast table value part hash a the and of to in is it "
         "data window spark order column join small line customer query batch merge "
         "filter index node edge graph rank sort shuffle stage task el la de los que y").split()
ZH = "数据查询表格索引连接排序"
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "old", "small", "large", "shiny", "dark"]
NOUNS = ["bolt", "widget", "ring", "anvil", "gear", "spring", "valve", "nut"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"]

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(base, offsets_us):
    return pa.array(base + np.asarray(offsets_us, dtype="int64").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _round2(x):
    return np.round(x, 2)


def _orders(rng, n, ncust):
    return {
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, ncust, n).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _round2(rng.uniform(1000.0, 500000.0, n)),
        "o_orderdate_days": rng.integers(0, 2404, n),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    }


def _documents(rng, n):
    texts, langs = [], []
    for i in range(n):
        if i >= 40 and rng.random() < 0.25:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(toks))
            langs.append(langs[-1] if langs else "en")
            continue
        ntok = int(rng.integers(8, 90))
        toks = [WORDS[k] for k in rng.integers(0, len(WORDS), ntok)]
        lang = rng.choice(["en", "en", "en", "fr", "es", "de", "zh"])
        if lang == "zh":
            toks[0] = "".join(rng.choice(list(ZH), 3))
        if rng.random() < 0.3:
            toks.append(f"{int(rng.integers(0, 10000))}!")
        texts.append(" ".join(toks))
        langs.append(str(lang))
    return texts, langs


def write_tables(out_dir):
    """Write the fixed dataset into `out_dir` (idempotent per version)."""
    stamp = os.path.join(out_dir, "VERSION")
    if os.path.exists(stamp) and open(stamp).read() == DATASET_VERSION:
        return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATASET_SEED)
    s = SIZES
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = s["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, nc)),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = s["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, ns))})
    npart = s["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype="int64"),
        "p_name": [f"{COLORS[int(a)]} {NOUNS[int(b)]}" for a, b in
                   zip(rng.integers(0, len(COLORS), npart), rng.integers(0, len(NOUNS), npart))],
        "p_brand": [f"Brand#{int(b)}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": _round2(900.0 + (np.arange(npart) % 1000) * 0.1)})
    o = _orders(rng, s["orders"], nc)
    tables["orders"] = pa.table({
        "o_orderkey": o["o_orderkey"], "o_custkey": o["o_custkey"],
        "o_orderstatus": o["o_orderstatus"], "o_totalprice": o["o_totalprice"],
        "o_orderdate": _ts(EPOCH_1995, o["o_orderdate_days"] * US_PER_DAY),
        "o_orderpriority": o["o_orderpriority"]})
    lines = rng.integers(1, 8, s["orders"])
    lok = np.repeat(o["o_orderkey"], lines)
    nl = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    qty = rng.integers(1, 51, nl).astype("float64")
    ship = np.repeat(o["o_orderdate_days"], lines) + rng.integers(1, 121, nl)
    perm = rng.permutation(nl)
    tables["lineitem"] = pa.table({
        "l_orderkey": lok[perm],
        "l_partkey": rng.integers(0, npart, nl).astype("int64")[perm],
        "l_suppkey": rng.integers(0, ns, nl).astype("int64")[perm],
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": qty[perm],
        "l_extendedprice": _round2(qty * rng.uniform(900.0, 2000.0, nl))[perm],
        "l_discount": _round2(rng.integers(0, 11, nl) / 100.0)[perm],
        "l_tax": _round2(rng.integers(0, 9, nl) / 100.0)[perm],
        "l_returnflag": rng.choice(["A", "N", "R"], nl)[perm],
        "l_linestatus": rng.choice(["O", "F"], nl)[perm],
        "l_shipdate": _ts(EPOCH_1995, ship[perm] * US_PER_DAY)})
    ne = s["events"]
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, ne))
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(EPOCH_2024, ts),
        "user_id": rng.integers(0, s["users"], ne).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": _round2(rng.uniform(0.0, 500.0, ne)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)]})
    texts, langs = _documents(rng, s["documents"])
    nd = len(texts)
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"), "text": texts, "lang": langs,
        "source": [f"src{int(k)}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    nv = s["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype="int64"),
        "embedding": pa.array([v.astype("float32") for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(DATASET_VERSION)


IVM_COLUMNS = ["o_orderkey", "o_custkey", "cust_bucket", "o_totalprice", "o_orderstatus"]


def ivm_base(data_dir):
    """The base rows `ivm_ingest` materializes: orders plus the bucket column."""
    t = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                      columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"])
    rows = {}
    for k, c, p, st in zip(*(t.column(n).to_pylist() for n in t.column_names)):
        rows[k] = (k, c, c % IVM_BUCKETS, p, st)
    return rows


def ivm_batches(data_dir, seed):
    """Seeded CDC batches over `ivm_base`. Every batch has the same shape:
    3 price updates, 1 update that moves an order to another customer
    (each update is a D+I pair in the group delta and one upsert in the
    keyed changes), 1 insert and 1 delete, on distinct orders whose
    state buckets are all distinct, so every batch touches exactly 7 of
    the IVM_BUCKETS state buckets. Yields
    (group_delta_rows, keyed_change_rows), rows as IVM_COLUMNS + op."""
    rng = np.random.default_rng([seed, 7])
    rows = ivm_base(data_dir)
    live = sorted(rows)
    next_key = max(live) + 1
    ncust = SIZES["customer"]

    def price():
        return float(_round2(rng.uniform(1000, 500000)))

    def customer(buckets):
        while True:
            c = int(rng.integers(0, ncust))
            if c % IVM_BUCKETS not in buckets:
                buckets.add(c % IVM_BUCKETS)
                return c

    def existing(buckets):
        while True:
            i = int(rng.integers(0, len(live)))
            if rows[live[i]][2] not in buckets:
                buckets.add(rows[live[i]][2])
                return i

    for _ in range(IVM_BATCHES):
        gdelta, kchanges, buckets = [], [], set()
        for kind in ("price", "price", "price", "move", "insert", "delete"):
            if kind == "insert":
                c = customer(buckets)
                k, next_key = next_key, next_key + 1
                new = (k, c, c % IVM_BUCKETS, price(), "O")
                rows[k] = new
                live.append(k)
                gdelta.append(new + ("I",))
                kchanges.append(new + ("I",))
                continue
            i = existing(buckets)
            old = rows[live[i]]
            if kind == "delete":
                del rows[old[0]]
                live[i] = live[-1]
                live.pop()
                gdelta.append(old + ("D",))
                kchanges.append(old + ("D",))
                continue
            c = customer(buckets) if kind == "move" else old[1]
            new = (old[0], c, c % IVM_BUCKETS, price(), "F")
            rows[old[0]] = new
            gdelta += [old + ("D",), new + ("I",)]
            kchanges.append(new + ("I",))
        yield gdelta, kchanges


def _ivm_table(rows):
    cols = list(zip(*rows))
    return pa.table({
        "o_orderkey": pa.array(cols[0], pa.int64()), "o_custkey": pa.array(cols[1], pa.int64()),
        "cust_bucket": pa.array(cols[2], pa.int64()), "o_totalprice": pa.array(cols[3], pa.float64()),
        "o_orderstatus": pa.array(cols[4], pa.string()), "op": pa.array(cols[5], pa.string())})


def write_ivm_inputs(data_dir, out_dir, seed):
    """Write the seeded `ivm_ingest` inputs: layout.json (bucket counts),
    base.parquet and, per batch i, g<i>.parquet (group delta) and
    k<i>.parquet (keyed changes)."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "layout.json"), "w") as f:
        json.dump({"state_buckets": IVM_BUCKETS, "keyed_buckets": IVM_KEYED_BUCKETS}, f)
    base = [r + ("I",) for r in ivm_base(data_dir).values()]
    pq.write_table(_ivm_table(base).drop(["op"]), os.path.join(out_dir, "base.parquet"))
    for i, (g, k) in enumerate(ivm_batches(data_dir, seed)):
        pq.write_table(_ivm_table(g), os.path.join(out_dir, f"g{i:04d}.parquet"))
        pq.write_table(_ivm_table(k), os.path.join(out_dir, f"k{i:04d}.parquet"))
