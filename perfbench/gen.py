"""Seeded input tables for the benchmark.

The engine's queries read a TPC-H-shaped star schema plus three
curation tables (``documents``, ``embeddings``, ``events``). This module
writes them as one parquet file per table with the shapes of
``tools/gen_sf_upscale.py``, which reproduces the distributions measured
on the engine's sf0.1 test data (its vocabulary and language mix are
imported from there). The one difference is the random stream: here it
is numpy's PCG64 seeded with ``--seed``, one stream per table, so the
same seed and scale give byte-identical inputs.

Row counts per scale factor ``sf`` (``gen_sf_upscale``'s per-sf0.1
counts, scaled):

=============  ==================  =======================================
table          rows                make-up
=============  ==================  =======================================
customer       150,000 · sf        nation uniform over 25
supplier       10,000 · sf         nation uniform over 25
orders         1,500,000 · sf      keys 0..n-1, customer uniform
lineitem       6,000,000 · sf      each line a uniform orderkey (Poisson
                                   lines per order), part / supplier
                                   uniform over 200,000 · sf / 10,000 · sf
documents      50,000 · sf         10-100 words from a 31-word vocabulary;
                                   0.16 % exact duplicates
embeddings     2,000 · 4^log10(sf/0.1)  64-d, 10 clusters: 0.7 · unit
                                   centre + N(0, 0.35), normalised
events         1,000,000 · sf      30 days, 15,000 · sf users
=============  ==================  =======================================
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_sf_upscale import LANG_P, LANGS, VOCAB  # noqa: E402

TABLES = ("customer", "supplier", "orders", "lineitem", "documents",
          "embeddings", "events")

SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
DAY_US = 86_400_000_000
DAY_1995 = 9_131           # 1995-01-01, days since the epoch
DAY_2024 = 19_723          # 2024-01-01


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((days * DAY_US).astype("int64"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[
        rng.integers(0, len(choices), n)], pa.string())


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_li = max(1, int(6_000_000 * sf))

    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10_000, n_cust), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10_000, n_supp), 2)),
    })
    odate = DAY_1995 + rng.integers(0, 2405, n_ord).astype(float)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("P", "O", "F"), n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    okey = np.sort(rng.integers(0, n_ord, n_li))
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) * 0.01, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) * 0.01, 2)),
        "l_returnflag": _pick(rng, ("N", "R", "A"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 96, n_li)),
    })
    return {"customer": customer, "supplier": supplier, "orders": orders,
            "lineitem": lineitem}


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(8, int(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    n_dup = max(1, int(0.0016 * n))
    for a, b in zip(rng.choice(n, n_dup, replace=False),
                    rng.choice(n, n_dup, replace=False)):
        texts[a] = texts[b]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[
            rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, sf: float) -> pa.Table:
    n, dim, k = max(16, int(2_000 * 4 ** np.log10(sf / 0.1))), 64, 10
    centers = rng.normal(0, 1, (k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    vecs = centers[label] * 0.7 + rng.normal(0, 0.35, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = max(16, int(1_000_000 * sf))
    n_users = max(2, int(15_000 * sf))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(DAY_2024 + np.sort(rng.uniform(0, 30, n))),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.uniform(0, 561, n)
                                   * rng.uniform(0, 1, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n)]),
    })


def write_tables(out_dir: str, seed: int, sf: float,
                 tables: tuple[str, ...] = TABLES) -> dict[str, int]:
    """Write ``tables`` as ``<out_dir>/<name>.parquet``; → row counts.
    Each table draws from its own stream, so the choice of tables does
    not change any table's content."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"documents": _documents, "embeddings": _embeddings,
              "events": _events}
    streams = {name: np.random.default_rng([seed, i])
               for i, name in enumerate(TABLES)}
    built: dict[str, pa.Table] = {}
    if any(t in tables for t in ("customer", "supplier", "orders", "lineitem")):
        built.update(_tpch(streams["orders"], sf))
    for name in tables:
        if name in makers:
            built[name] = makers[name](streams[name], sf)
    counts = {}
    for name in tables:
        pq.write_table(built[name], os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
        counts[name] = built[name].num_rows
    return counts
