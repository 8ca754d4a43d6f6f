"""Seeded synthetic corpus with the graft test-data schema.

`generate(seed, out_dir)` writes the ten parquet tables the engine's query
keys read (`region nation customer supplier part orders lineitem events
documents embeddings`). The same seed always gives byte-identical rows; the
sizes are fixed so that runs with different seeds do the same amount of work.

Shapes follow the sf0.1 test-data corpus, measured column by column (figures
in perfbench/README.md): every table's row count is its sf0.1 count times
one factor, SCALE; fixed-size tables (region, nation) keep their size.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# row counts of the sf0.1 corpus, and the one factor applied to all of them
SF01_ROWS = {
    "documents": 5000, "embeddings": 2000, "events": 100000, "customer": 15000,
    "supplier": 1000, "part": 20000, "orders": 150000, "lineitem": 600000,
}
SCALE = 0.1
SIZES = {t: round(n * SCALE) for t, n in SF01_ROWS.items()}
WORDS = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "small", "old", "red", "new", "cold"]
NOUN = ["ring", "bolt", "gear", "anvil", "widget", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
US = pa.timestamp("us")


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # 5% near-duplicates: another document's text plus one marker word
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P).tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n, dim=64, labels=10):
    # isotropic unit vectors with labels independent of them: in sf0.1 each
    # label's centroid has the norm of a mean of random unit vectors
    label = rng.integers(0, labels, n)
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), US),
        "user_id": pa.array(rng.integers(0, max(10, round(n * 0.015)), n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _dates(rng, n, lo, hi):
    lo, hi = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days.astype("timedelta64[D]")).astype("datetime64[us]")


def generate(seed, out_dir):
    rng = np.random.default_rng(seed)
    n = SIZES
    nation = np.arange(25)
    odates = _dates(rng, n["orders"], "1995-01-01", "2001-08-01")
    lorder = rng.integers(0, n["orders"], n["lineitem"])
    # ship dates are independent of order dates, as in sf0.1
    ship = _dates(rng, n["lineitem"], "1995-01-02", "2001-11-04")
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(nation, pa.int32()),
            "n_name": [f"NATION_{i}" for i in nation],
            "n_regionkey": pa.array(nation % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist()}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n["part"]),
                                                  rng.choice(NOUN, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(PTYPES, n["part"]).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
            "o_orderdate": pa.array(odates, US),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist()}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(lorder, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n["lineitem"]), 2),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": rng.choice(["R", "A", "N"], n["lineitem"]).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n["lineitem"]).tolist(),
            "l_shipdate": pa.array(ship, US)}),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
