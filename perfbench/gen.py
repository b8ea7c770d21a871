"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's gates read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, in the schemas of the engine's reference testdata
(TESTDATA.md) at scale factor `sf`. Row counts, key ranges, distinct
counts and the shapes below follow that data as measured at sf0.01
(perfbench/BASELINE.md, "Inputs"): keys drawn uniformly (line items per
order are Poisson(4), line numbers uniform 1..7, line items unsorted),
event values exponential with mean 50, about 5% of documents a copy of
another document plus " dup", embeddings random unit vectors whose label
is independent of the vector. The same (seed, sf) always gives
byte-identical tables.
"""
import datetime as dt
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64


def _ts(start, offsets_us):
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    day_us = 86_400_000_000

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, i64),
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, i64),
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * day_us)})
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, 30 * day_us, n_ev))),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # ~5% of documents are near-duplicates: another document's text plus " dup"
    base = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)]
    dup = rng.random(n_docs) < 0.05
    originals = np.flatnonzero(~dup)
    texts = [base[int(rng.choice(originals))] + " dup" if d else t for t, d in zip(base, dup)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_vec)
    vecs = rng.normal(0, 1, (n_vec, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def write(dst, seed, sf):
    """Write every table to `<dst>/<name>.parquet`; return total input bytes."""
    dst = Path(dst)
    dst.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, dst / f"{name}.parquet", compression="snappy")
    return sum(p.stat().st_size for p in dst.glob("*.parquet"))


if __name__ == "__main__":
    import sys
    print(write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
