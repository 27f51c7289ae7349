"""Seeded input generation for the benchmark. Nothing here is timed.

Two kinds of input:

- the crawl corpus: ``CorpusSpec`` pages rows from the program's own
  generator (``sources/datagen.py``), built in a small process pool because
  one page costs about 1 ms of pure Python;
- the analytics tables: the ten driver-contract tables (``region`` ..
  ``embeddings``) with the column types and value distributions of the
  sf0.1 fixture set, written as one parquet file each, so the queries and
  their DuckDB oracles read the same files.

The same seed always gives the same inputs.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from crusty_core_spark.sources.datagen import (
    CorpusSpec,
    gen_page_row,
    gen_robots_row,
    page_url,
)

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# ----------------------------------------------------------------- corpus


def _gen_hosts(spec: CorpusSpec, lo: int, hi: int) -> list[dict]:
    rows: list[dict] = []
    for h in range(lo, hi):
        rows.append(gen_robots_row(spec, h))
        for p in range(spec.pages_per_host(h)):
            rows.extend(gen_page_row(spec, h, p))
    return rows


def gen_corpus(spec: CorpusSpec, workers: int) -> tuple[list[dict], list]:
    """``datagen.gen_corpus(spec)`` split over ``workers`` processes.

    Chunks are contiguous host ranges concatenated in order, so the rows
    equal the serial generator's, in the same order. The pool forks, which
    is safe only while this process has no other thread: it runs before
    the JVM, its py4j threads and the memory sampler exist. (A spawn pool
    would leave multiprocessing's resource tracker running after the
    benchmark.)"""
    if threading.active_count() != 1:
        raise RuntimeError("corpus generation must run before any thread")
    n_chunks = max(1, min(spec.n_hosts, workers * 4))
    bounds = np.linspace(0, spec.n_hosts, n_chunks + 1).astype(int)
    args = [(spec, int(a), int(b)) for a, b in zip(bounds[:-1], bounds[1:])]
    with mp.get_context("fork").Pool(workers) as pool:
        parts = pool.starmap(_gen_hosts, args)
    rows = [r for part in parts for r in part]
    seeds = [(j, page_url(spec, j, 0)) for j in range(spec.n_hosts)]
    return rows, seeds


# ----------------------------------------------------------------- tables

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY = np.timedelta64(1, "D")


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo), np.datetime64(hi)
    span = int((hi_d - lo_d) / _DAY)
    return (lo_d + rng.integers(0, span + 1, n) * _DAY).astype("datetime64[us]")


def gen_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The ten analytics tables at scale factor ``sf`` (sf0.1 ≈ 600k
    lineitem rows), every column drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = np.array(["blue", "cold", "hot", "large", "old", "red", "small", "tiny"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
                     "widget"])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                              rng.choice(noun, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(1000, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random text over a small vocabulary (so shingle/LSH joins
    # find real candidate pairs), 5% near-duplicates ("<other doc> dup")
    # and a few exact duplicates. The texts come from one fixed pool and
    # the seed only permutes them over doc ids: the candidate-pair count
    # of q16/q17 would otherwise move ±20% from seed to seed.
    pool = np.random.default_rng(0)
    vocab = np.array(_VOCAB)
    lens = pool.integers(10, 101, n_doc)
    texts = [" ".join(vocab[pool.integers(0, len(vocab), k)]) for k in lens]
    for i in pool.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(pool.integers(0, n_doc))] + " dup"
    for i in pool.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(pool.integers(0, n_doc))]
    text = [texts[i] for i in rng.permutation(n_doc)]
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": text,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in text], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.01, (10, 64))
    vecs = rng.normal(0, 0.125, (n_emb, 64)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": list(vecs),
        "label": labels.astype("int32"),
    })
    return t


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-row-group parquet file per table, like the fixture set."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            tbl = tbl.set_column(
                1, "embedding",
                pa.array(df["embedding"].tolist(), type=pa.list_(pa.float32())))
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(df) or 1)

