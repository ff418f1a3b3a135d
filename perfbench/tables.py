"""Seeded input tables for the batch_gates workload, and the DuckDB oracle
check of the gates' outputs.

The tables have the shapes and value ranges of the registry's sf0.1 test
tables: documents (5,000), part (20,000), events (100,000) and embeddings
(2,000 × 64). The same seed always gives the same tables.
"""
import decimal
import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream", "value",
         "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
         "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query",
         "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]


def documents(rng, n=5000):
    texts = [" ".join(rng.choice(VOCAB, size=rng.integers(10, 101)))
             for _ in range(n)]
    # near-duplicates (an earlier text plus one token) and a few exact copies,
    # so the dedup and near-dup gates have work to do
    for i in rng.choice(np.arange(100, n), size=n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(100, n), size=8, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def part(rng, n=20000):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(ADJ, n), rng.choice(NOUN, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(TYPES, n).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
    })


def events(rng, n=100000):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def embeddings(rng, n=2000, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + rng.normal(scale=0.8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True) * 0.9).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for k, (name, fn) in enumerate([("documents", documents), ("part", part),
                                    ("events", events), ("embeddings", embeddings)]):
        rng = np.random.default_rng([seed, k])
        pq.write_table(fn(rng), os.path.join(out_dir, f"{name}.parquet"))


def _norm(v):
    # strict: floats bit-exact, decimals scale-exact (a str-level compare)
    if isinstance(v, float):
        return v.hex()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def _canon(tbl):
    cols = sorted(tbl.column_names)
    return cols, sorted((tuple(_norm(r[c]) for c in cols) for r in tbl.select(cols).to_pylist()),
                       key=repr)


def check_gates(run_dir, rep):
    """compare every pass's output of every gate with the gate's DuckDB
    oracle; each mismatch counts as one failed gate call"""
    import duckdb
    con = duckdb.connect()
    data = os.path.join(run_dir, "data")
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    with open(os.path.join(run_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    passes = sorted(os.listdir(os.path.join(run_dir, "out")))
    for gate, sql in sorted(oracle.items()):
        expect = _canon(con.execute(sql).fetch_arrow_table())
        for p in passes:
            files = sorted(glob.glob(os.path.join(run_dir, "out", p, gate, "*.parquet")))
            if not files:
                continue  # the gate threw; already counted
            got = _canon(pa.concat_tables([pq.read_table(f) for f in files]))
            if got != expect:
                key = f"gate.{gate}.oracle_mismatch"
                rep["failures"][key] = rep["failures"].get(key, 0) + 1
                rep["failed"] += 1
