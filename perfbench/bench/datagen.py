"""Deterministic TPC-H-shaped input tables for the benchmark.

The tables follow the column names and types graft's `TpchGraph` and the
document pipeline read (region, nation, customer, supplier, part, orders,
lineitem, documents). They are a pure function of the size constants
below and a fixed generator seed, so every checkout builds identical
bytes; the workload seed only chooses operations and parameters.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20260417
CUSTOMERS = 300
SUPPLIERS = 20
PARTS = 400
ORDERS = 3000
DOCUMENTS = 1000
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
VOCAB = ("row the query stream fast spark line small customer group value hash "
         "batch sort data big filter dup key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents"]


def customer_name(k):
    return "Customer#%09d" % k


def supplier_name(k):
    return "Supplier#%09d" % k


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + off


def _docs(rng):
    texts = []
    for i in range(DOCUMENTS):
        r = rng.random()
        if i > 50 and r < 0.01:
            texts.append(texts[rng.integers(0, i)])
        elif i > 50 and r < 0.08:
            toks = texts[rng.integers(0, i)].split()
            for _ in range(max(1, len(toks) // 12)):
                toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = [LANGS[j] for j in rng.integers(0, len(LANGS), DOCUMENTS)]
    sources = ["src%d" % j for j in rng.integers(0, 20, DOCUMENTS)]
    return pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def tables():
    """Return {name: pyarrow.Table} for every input table."""
    rng = np.random.default_rng(GEN_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": pa.array(["NATION_%d" % i for i in range(NATIONS)], pa.string()),
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(NATIONS)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": pa.array([customer_name(k) for k in range(CUSTOMERS)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, NATIONS, CUSTOMERS), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, CUSTOMERS), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, CUSTOMERS)],
                                 pa.string())})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": pa.array([supplier_name(k) for k in range(SUPPLIERS)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, NATIONS, SUPPLIERS), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, SUPPLIERS), pa.float64())})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": pa.array(["%s %s" % (PART_ADJ[a], PART_NOUN[b]) for a, b in
                            zip(rng.integers(0, 8, PARTS), rng.integers(0, 8, PARTS))],
                           pa.string()),
        "p_brand": pa.array(["Brand#%d" % j for j in rng.integers(1, 26, PARTS)], pa.string()),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, PARTS)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(PARTS) % 1000) / 10.0, 2),
                                  pa.float64())})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": pa.array([STATUSES[j] for j in rng.integers(0, 3, ORDERS)],
                                  pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, ORDERS), pa.float64()),
        "o_orderdate": pa.array(_ts(rng, ORDERS), pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, ORDERS)],
                                    pa.string())})
    lines = rng.integers(1, 8, ORDERS)
    n = int(lines.sum())
    okey = np.repeat(np.arange(ORDERS), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900, 95000, n), pa.float64()),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2), pa.float64()),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2), pa.float64()),
        "l_returnflag": pa.array([["A", "N", "R"][j] for j in rng.integers(0, 3, n)],
                                 pa.string()),
        "l_linestatus": pa.array([["F", "O"][j] for j in rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": pa.array(_ts(rng, n), pa.timestamp("us"))})
    out["documents"] = _docs(rng)
    return out


def write(dest):
    """Write every table as `<dest>/<name>.parquet` (one file each)."""
    os.makedirs(dest, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(dest, name + ".parquet"))
