"""Seeded corpus generator for the warehouse benchmark.

Writes the ten testdata tables (region nation customer supplier part
orders lineitem events documents embeddings), one parquet file each,
with the column names, types and value distributions of the shipped
testdata corpora. Sizes scale linearly with `sf` the way the testdata
does (sf 0.1: 100k events, 150k orders, 600k lineitems).

The same (seed, sf) gives byte-identical files: every table draws from
its own numpy stream keyed by (seed, table), and the parquet writer is
given fixed settings and no pandas metadata.

Event timestamps are whole milliseconds: the streaming mirrors compare
gaps in milliseconds and the batch operators in microseconds, so a
sub-millisecond timestamp could make the two disagree at the exact
session-gap boundary.
"""
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "hot", "large", "small", "red", "green", "cold", "steel",
         "bright", "dark", "light", "round", "flat"]
P_NOUN = ["ring", "bolt", "anvil", "widget", "gear"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rng(seed, table):
    return np.random.default_rng([seed & (2**64 - 1), sum(map(ord, table))])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days_us):
    return pa.array(days_us, type=pa.timestamp("us"))


def _strings(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx], type=pa.string())


def tables(seed, sf):
    """Returns {table name: pyarrow.Table} for one corpus."""
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _strings(SEGMENTS, r.integers(0, 5, n_cust))})

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp))})

    r = _rng(seed, "part")
    adj = np.asarray(P_ADJ, dtype=object)[r.integers(0, len(P_ADJ), n_part)]
    noun = np.asarray(P_NOUN, dtype=object)[r.integers(0, len(P_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], r.integers(0, 25, n_part)),
        "p_type": _strings(P_TYPES, r.integers(0, len(P_TYPES), n_part)),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1))})

    r = _rng(seed, "orders")
    order_days = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _strings(["F", "O", "P"], r.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(EPOCH_1995 + order_days * DAY_US),
        "o_orderpriority": _strings(PRIORITIES, r.integers(0, 5, n_ord))})

    r = _rng(seed, "lineitem")
    ship_days = r.integers(1, 2499, n_li)  # 1995-01-02 .. 2001-11-04
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(r.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _strings(["A", "N", "R"], r.integers(0, 3, n_li)),
        "l_linestatus": _strings(["F", "O"], r.integers(0, 2, n_li)),
        "l_shipdate": _ts(EPOCH_1995 + ship_days * DAY_US)})

    # events: ids ascend with time, like the shipped event log
    r = _rng(seed, "events")
    ts_ms = np.sort(r.integers(0, 30 * 86_400_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + ts_ms * 1000),
        "user_id": pa.array(r.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": _strings(EVENT_TYPES, r.integers(0, 5, n_ev)),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)], pa.string())})

    r = _rng(seed, "documents")
    lens = r.integers(8, 100, n_doc)
    words = np.asarray(WORDS, dtype=object)[r.integers(0, len(WORDS), int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _strings(LANGS, r.choice(len(LANGS), n_doc, p=LANG_P)),
        "source": _strings([f"src{i}" for i in range(20)], r.integers(0, 20, n_doc)),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    r = _rng(seed, "embeddings")
    emb = r.standard_normal((n_emb, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb, dtype=np.int32))})
    return out


def generate(out_dir, seed, sf):
    """Writes the corpus to `out_dir` unless a complete one is there.
    Writes into a sibling temp directory and renames it into place, so
    an interrupted run never leaves a half-written corpus behind."""
    if os.path.isdir(out_dir):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", use_dictionary=True,
                       write_statistics=True, row_group_size=1 << 22)
    os.rename(tmp, out_dir)
    return out_dir
