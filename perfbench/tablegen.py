"""Seeded generator of the sf-scaled parquet tables the headline queries read.

The benchmark's headline queries (``workloads.HEADLINE``, taken from
``__spark_entry__.queries()``) read five tables: customer, orders,
lineitem, documents and embeddings.  This module writes them with the
schemas and value ranges of the repository's fixed sf0.1 test tables
(one parquet file per table, one row group), from a seed, so the
benchmark needs no data from outside its checkout.
Documents carry planted exact-prefix and near duplicates so the dedup
queries return pairs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from zeekgen import cached

TABLES = ["customer", "orders", "lineitem", "documents", "embeddings"]

_VOCAB = np.array(
    "a the data spark table query scan filter join group agg sort order "
    "hash key value row column batch stream window merge vector part line "
    "customer small big fast slow".split())
_DAY_US = 86_400_000_000
_Y1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(root: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"),
                   row_group_size=1 << 30)


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 101, size=n)
    words = rng.choice(_VOCAB, size=int(lens.sum()))
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # ~5% near-duplicates (a copy plus one trailing token) and ~5%
    # exact 8-token-prefix duplicates with a different tail
    for i in rng.choice(np.arange(1, n), size=n // 10, replace=False):
        src = int(rng.integers(0, i))
        if i % 2:
            texts[i] = texts[src] + " dup"
        else:
            tail = " ".join(rng.choice(_VOCAB, size=int(rng.integers(2, 40))))
            texts[i] = " ".join(texts[src].split()[:8]) + " " + tail
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(np.array(["en", "en", "de", "fr", "es",
                                              "zh"]), size=n)),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, size=n)
                                       .astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def headline_tables(cache_dir: str, seed: int, sf: float) -> tuple[str, dict]:
    """Write the tables at scale factor ``sf`` (0.1 gives 600k
    lineitem rows); returns (root, meta) with each table's uncompressed
    byte size from the parquet footers."""
    key = f"tables-s{seed}-sf{sf}"

    def build(root):
        rng = np.random.default_rng([seed, 3])
        n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
        n_li = int(6_000_000 * sf)
        n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
        _write(root, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                 "MACHINERY"]), size=n_cust))})
        _write(root, "orders", {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]),
                                                 size=n_ord)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
            "o_orderdate": _ts(_Y1995_US + rng.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": pa.array(rng.choice(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
                size=n_ord))})
        qty = rng.integers(1, 51, size=n_li).astype("float64")
        _write(root, "lineitem", {
            "l_orderkey": pa.array(rng.integers(0, n_ord, size=n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 20_000, size=n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 1_000, size=n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(
                qty * rng.uniform(900, 2100, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]),
                                                size=n_li)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), size=n_li)),
            "l_shipdate": _ts(_Y1995_US + rng.integers(1, 2500, n_li) * _DAY_US)})
        _write(root, "documents", _documents(rng, n_doc))
        emb = rng.normal(0, 0.15, size=(n_emb, 64)).astype("float32")
        _write(root, "embeddings", {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, size=n_emb), pa.int32())})
        sizes = {}
        for t in TABLES:
            md = pq.ParquetFile(os.path.join(root, f"{t}.parquet")).metadata
            sizes[t] = sum(md.row_group(i).total_byte_size
                           for i in range(md.num_row_groups))
        return {"uncompressed_bytes": sizes}

    return cached(cache_dir, key, build)
