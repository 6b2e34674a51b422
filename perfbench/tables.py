"""Seeded generator of the tables the batch_ops queries read.

Same layout and value families as the repository's test data
(``tools/gen_testdata.py``: TPC-H-ish star schema and vocabulary
documents), but every table is drawn from the benchmark's ``--seed``
instead of a fixed per-table seed, and only the tables the batch_ops
queries read are written.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
MKTSEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.412, 0.150, 0.148, 0.148, 0.142]
DAY_US = 86_400_000_000


def _ts_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _tscol(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    # small row groups keep a single file splittable across tasks
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=65536)


def generate(sf: float, seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rngs = iter(np.random.default_rng(np.random.SeedSequence([seed, 7]))
                .spawn(5))
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_doc = int(50_000 * sf)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    rng = next(rngs)
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(MKTSEGS)[rng.integers(0, 5, n_cust)])}))

    rng = next(rngs)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)}))

    rng = next(rngs)
    d0, d1 = _ts_us("1995-01-01"), _ts_us("2001-08-02")
    odate = d0 + rng.integers(0, (d1 - d0) // DAY_US, n_ord) * DAY_US
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _tscol(odate),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])}))

    rng = next(rngs)
    okey = rng.integers(0, n_ord, n_li)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _tscol(odate[okey] + rng.integers(1, 96, n_li) * DAY_US)}))

    rng = next(rngs)
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n_doc)
    texts: list[str] = []
    for i in range(n_doc):
        # planted exact duplicates, denser among low ids
        p_dup = 0.01 if i < 2000 else 0.0016
        if i > 100 and rng.random() < p_dup:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
