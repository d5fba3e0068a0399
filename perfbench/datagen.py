"""Seeded generator for the benchmark's TPC-H-style tables.

Writes region, nation, customer, supplier, part, orders, lineitem and
documents as parquet, with the column names and types the engine's
`graft.model.GraphStore` and `SparkEntry` queries expect. Keys are dense
(0 until n). The same (scale factor, seed) always gives the same files.

The columns serve_mixed's reference model needs are also written
raw under `raw/` (`<table>.<column>.i32|i64|f64` little-endian arrays,
`.txt` one value per line), so the harness builds its reference from
the generated values without going through the engine's reader.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"]
WORDS = ("key agg row scan slow fast table value part hash a merge batch spark "
         "the line sort window data column join small customer query order "
         "group stream big filter vector index").split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _dates(rng, days, n):
    return EPOCH_1995 + rng.integers(0, days, n) * DAY_US


def _write(out, name, cols, raw=()):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    for col in raw:
        v = cols[col]
        base = os.path.join(out, "raw", f"{name}.{col}")
        if pa.types.is_string(v.type):
            with open(base + ".txt", "w") as f:
                f.write("\n".join(v.to_numpy(zero_copy_only=False)))
        else:
            a = v.to_numpy()
            ext = {"int32": "i32", "int64": "i64", "float64": "f64"}.get(
                str(a.dtype), "i64")
            a.astype({"i32": "<i4", "i64": "<i8", "f64": "<f8"}[ext]).tofile(
                f"{base}.{ext}")


def _documents(rng, n):
    docs = []
    for i in range(n):
        if i > 10 and rng.random() < 0.15:
            # near-duplicate of an earlier document: a few words swapped
            words = docs[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(_pick(rng, WORDS, int(rng.integers(8, 90))))
        docs.append(" ".join(words))
    return docs


def generate(out, sf, seed):
    """Write every table for scale factor `sf` into directory `out`."""
    os.makedirs(os.path.join(out, "raw"), exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_doc = 4 * n_ord, max(500, int(50_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())},
        raw=("c_name", "c_nationkey", "c_acctbal", "c_mktsegment"))
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_dates(rng, 2400, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string())},
        raw=("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"))
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(_dates(rng, 2500, n_line), pa.timestamp("us"))})
    texts = _documents(rng, n_doc)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(_pick(rng, LANGS, n_doc), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
