"""Seeded benchmark inputs.

``make_inputs(out_dir, seed, unit, mult)`` writes one parquet directory in
the layout ``sources/tpch.py`` loads (documents, embeddings, events and the
TPC-H-ish star schema). It runs in two steps, both drawing from one
``np.random.default_rng(seed)``:

1. ``_write_base`` draws a small *base* directory (``BASE_ROWS`` times
   ``unit`` rows per table) from the corpus distributions the engine is
   graded on: the closed 31-word document vocabulary, 10 weakly separated
   embedding labels, 5 event types over a 30-day window, TPC-H
   enumerations. It stands in for the source directory, so nothing
   outside the checkout is read.
2. ``tools/make_scale_data.py``'s ``gen_documents``, ``gen_embeddings``,
   ``gen_events`` and ``gen_tpch`` re-sample the base ``mult`` times over;
   the dimension tables are copied, as that tool does.

The same (seed, unit, mult) always gives the same tables.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools import make_scale_data as msd

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EMB_DIM = 64
EMB_LABELS = 10

# Base row counts per table for unit=1; every count scales with ``unit``.
# The ratios follow the sf0.1 test directory (5k documents, 2k
# embeddings, 100k events, 15k/150k/600k customer/orders/lineitem,
# 20k parts, 1k suppliers), divided by 100.
BASE_ROWS = {
    "documents": 50,
    "embeddings": 20,
    "events": 1000,
    "customer": 150,
    "orders": 1500,
    "part": 200,
    "supplier": 10,
}


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


def _write_base(out: str, unit: int, rng) -> None:
    n = {k: v * unit for k, v in BASE_ROWS.items()}

    nd = n["documents"]
    counts = rng.integers(10, 101, nd)
    # pin the source word-count range to the corpus' 10..100 words
    counts[:2] = (10, 100)
    va = np.array(VOCAB)
    docs = [" ".join(va[rng.integers(0, len(VOCAB), c)]) for c in counts]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(docs, pa.string()),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })

    ne = n["embeddings"]
    cents = rng.normal(0.0, 0.07 / np.sqrt(EMB_DIM), (EMB_LABELS, EMB_DIM))
    lab = np.arange(ne) % EMB_LABELS
    x = cents[lab] + rng.normal(0.0, 0.125, (ne, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(lab.astype(np.int32), pa.int32()),
    })

    nv = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span, nv))
    ts[0], ts[-1] = 0, span - 1
    users = max(2, nv // 66)
    _write(out, "events", {
        "event_id": pa.array(np.arange(nv), pa.int64()),
        "ts": pa.array(t0 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(np.arange(nv) % users, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i % 5] for i in range(nv)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, nv), 2), pa.float64()),
        "props": pa.array(['{"k": 0}'] * nv, pa.string()),
    })

    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_mktsegment": pa.array(
            [SEGMENTS[i % 5] for i in range(n["customer"])], pa.string()
        ),
    })
    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i % 3] for i in range(no)], pa.string()),
        "o_orderpriority": pa.array(
            [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[i % 5]
             for i in range(no)],
            pa.string(),
        ),
    })
    # gen_tpch reads only the key ranges and flag enumerations of lineitem
    _write(out, "lineitem", {
        "l_partkey": pa.array([0, n["part"] - 1, 0], pa.int64()),
        "l_suppkey": pa.array([0, n["supplier"] - 1, 0], pa.int64()),
        "l_returnflag": pa.array(["A", "N", "R"], pa.string()),
        "l_linestatus": pa.array(["F", "O", "F"], pa.string()),
    })

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5, pa.int32()),
    })
    npart = n["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": pa.array(
            [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
            pa.string(),
        ),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
        ),
        "p_type": pa.array(
            [PART_TYPES[t] for t in rng.integers(0, 6, npart)], pa.string()
        ),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2), pa.float64()
        ),
    })
    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), pa.float64()),
    })


def make_inputs(out_dir: str, seed: int, unit: int, mult: int) -> None:
    """Write the seeded input directory ``out_dir`` (replaced if present)."""
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    base = f"{out_dir}.base"
    os.makedirs(base, exist_ok=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    _write_base(base, unit, rng)
    # the generators report row counts on stdout, which carries the result
    with contextlib.redirect_stdout(io.StringIO()):
        msd.gen_documents(base, out_dir, mult, rng)
        msd.gen_embeddings(base, out_dir, mult, rng)
        msd.gen_events(base, out_dir, mult, rng)
        msd.gen_tpch(base, out_dir, mult, rng)
    for dim in ("region", "nation", "part", "supplier"):
        shutil.copyfile(f"{base}/{dim}.parquet", f"{out_dir}/{dim}.parquet")
    shutil.rmtree(base)
