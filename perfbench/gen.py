"""Seeded input generator for the benchmark.

Writes the ten batch tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) with the schemas of
the shipped test data and the distributions of ``graft.tools.GenData``,
but drawn from ``numpy.random`` seeded by ``--seed``: the same seed
always gives the same bytes. The batch tables are written at scale
factor BATCH_SF. It also writes an above-gate directory holding a
lineitem-shaped table (plus its supplier dimension) at GATE_SF, where
the part<->supplier graph has more than 2M raw edge rows, the size
above which the graph loops leave their driver finish for the
distributed branch. run.py calls generate(); the program receives only
the directories.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
BATCH_SF = 0.002
# raw rows of the symmetrized supply graph must exceed this gate
GATE_EDGES = 2_000_000
GATE_SF = 0.175


def _ts(start, offsets_us):
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def counts(sf):
    return dict(
        customer=max(1, int(150000 * sf)), supplier=max(1, int(10000 * sf)),
        part=max(1, int(200000 * sf)), orders=max(1, int(1500000 * sf)),
        events=max(1, int(1000000 * sf)), users=max(1, int(15000 * sf)),
        docs=max(500, int(50000 * sf)), vecs=max(500, int(20000 * sf)))


def supplier(rng, n):
    ids = np.arange(n, dtype=np.int64)
    return {"s_suppkey": pa.array(ids),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in ids]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(np.round(-1000.0 + rng.random(n) * 11000.0, 2))}


def lineitem(rng, n_orders, n_part, n_supp):
    """Poisson(4) lines per order (0-line orders absent), rows shuffled."""
    lines = np.minimum(rng.poisson(4.0, n_orders), 18)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n) - starts + 1).astype(np.int32)
    perm = rng.permutation(n)
    return {
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
        "l_linenumber": pa.array(lnum[perm]),
        "l_quantity": pa.array((rng.integers(0, 50, n) + 1).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(900.0 + rng.random(n) * 104100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n) * 86_400_000_000),
    }


def batch_tables(rng, out):
    c = counts(BATCH_SF)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n = c["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(-1000.0 + rng.random(n) * 11000.0, 2)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    _write(out, "supplier", supplier(rng, c["supplier"]))
    n = c["part"]
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    a, b = rng.integers(0, 8, n), rng.integers(0, 8, n)
    ids = np.arange(n, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(ids),
        "p_name": pa.array([f"{adjs[i]} {nouns[j]}" for i, j in zip(a, b)]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (ids % 1000) / 10.0, 1))})
    n = c["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": pa.array(np.round(1000.0 + rng.random(n) * 499000.0, 2)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n) * 86_400_000_000),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    _write(out, "lineitem", lineitem(rng, n, c["part"], c["supplier"]))
    # events: ids ascend with ts (one stride per id plus jitter inside
    # it) over 30 days; exponential(mean 50) values
    n = c["events"]
    stride = max(1, 30 * 24 * 3600 * 1_000_000 // n)
    off = np.arange(n, dtype=np.int64) * stride + rng.integers(0, stride, n)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01", off),
        "user_id": pa.array(rng.integers(0, c["users"], n)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": pa.array(np.round(-np.log(1.0 - rng.random(n)) * 50.0, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])})
    # documents: 10-100 vocabulary words; 5% of rows past the first 20
    # are near-duplicates, an earlier doc's text with " dup" appended
    n = c["docs"]
    base = [" ".join(VOCAB[w] for w in rng.integers(0, 30, k))
            for k in rng.integers(10, 101, n)]
    dup = (rng.random(n) < 0.05) & (np.arange(n) >= 20)
    src = [int(rng.integers(0, i)) if d else i for i, d in enumerate(dup)]
    text = [base[g] + " dup" if d else base[g] for g, d in zip(src, dup)]
    langs = np.where(rng.random(n) < 0.41, "en",
                     np.array(["de", "es", "fr", "zh"])[rng.integers(0, 4, n)])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text), "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64))})
    # embeddings: unit-norm 64-dim float vectors (Irwin-Hall gaussians);
    # 5% are near-copies of an earlier vector plus small noise
    n = c["vecs"]

    def gauss(m):
        return rng.integers(0, 1000, (m, 64, 4)).sum(axis=2) / 1000.0 - 2.0
    raw = gauss(n)
    dup = (rng.random(n) < 0.05) & (np.arange(n) >= 20)
    for i in np.nonzero(dup)[0]:
        raw[i] = raw[int(rng.integers(0, i))] + gauss(1)[0] * 0.03
    vec = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32))})


def gate_tables(rng, out):
    """lineitem + supplier at the size where the supply graph crosses
    the driver-finish gate (2 raw edge rows per lineitem row). As in
    TPC-H, each part has four suppliers (dbgen's partsupp formula) and a
    line's supplier is one of them, so the graph has ~4 distinct edges
    per part and the BFS takes several hops to cover it."""
    c = counts(GATE_SF)
    n_supp = c["supplier"]
    _write(out, "supplier", supplier(rng, n_supp))
    li = lineitem(rng, c["orders"], c["part"], n_supp)
    pk = np.asarray(li["l_partkey"])
    j = rng.integers(0, 4, len(pk))
    li["l_suppkey"] = pa.array((pk + j * (n_supp // 4 + pk // n_supp)) % n_supp)
    assert 2 * len(li["l_orderkey"]) > GATE_EDGES, "gate input below the gate"
    _write(out, "lineitem", li)


def generate(seed, out, which):
    """Writes input set ``which`` (batch or gate) under ``out`` unless it
    is already there; returns its directory."""
    path = os.path.join(out, which)
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 0 if which == "batch" else 1])
    if which == "batch":
        batch_tables(rng, tmp)
    else:
        gate_tables(rng, tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path

