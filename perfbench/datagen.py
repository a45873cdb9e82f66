"""Seeded input tables for the benchmark, built inside the checkout.

The engine's registry keys read ten parquet tables (a TPC-H-shaped
star schema, an ``events`` stream table, ``documents`` and
``embeddings``). The benchmark generates them itself with numpy and
pyarrow, so that a run needs nothing outside its checkout. They follow
the engine's sf0.1 benchmark tables: the same row counts, column types
(every timestamp TIMESTAMP(MICROS)) and value domains, including the
``documents`` corpus shape (10-100 words drawn from the same 30-word
vocabulary, 5 % near-duplicates made by appending " dup", a few
verbatim copies, a 41 % ``en`` share) and unit-norm 64-dimensional
``embeddings`` with ten labels.

The tables depend only on ``DATA_SEED`` and this file: they are built
once per checkout into ``.perfbench_cache/`` and reused by every run.
A run's ``--seed`` varies the op order, the survey batches and the read
ranges, never these tables, so every run checks against the same
oracle results.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EVENT_USERS = 1_500        # events reference the first 10% of customers
EMBED_DIM = 64
NEARDUP_DOCS = 250         # 5% of documents are edited copies
EXACTDUP_DOCS = 8

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
NOUNS = ["ring", "widget", "bolt", "gear", "anvil", "plate", "gizmo", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = ("a the join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream window "
         "spark part group big sort query fast").split()

DAY_MS = 86_400_000
ORDER_EPOCH_MS = 788_918_400_000        # 1995-01-01T00:00:00
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int,
          p: list[float] | None = None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def build_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables, deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": _names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": _names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    parts = np.arange(n["part"])
    out["part"] = pa.table({
        "p_partkey": pa.array(parts, pa.int64()),
        "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(ADJECTIVES), n["part"]),
            rng.integers(0, len(NOUNS), n["part"]))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                            pa.string()),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (parts % 1000) / 10.0, 2),
    })

    n_orders = n["orders"]
    order_day = rng.integers(0, 2404, n_orders)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_orders), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array((ORDER_EPOCH_MS + order_day * DAY_MS) * 1000,
                                pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders), lines)
    l_number = np.concatenate([np.arange(1, k + 1) for k in lines])
    perm = rng.permutation(len(l_order))
    l_order, l_number = l_order[perm], l_number[perm]
    n_lines = len(l_order)
    ship_day = order_day[l_order] + rng.integers(1, 96, n_lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_lines), pa.int64()),
        "l_linenumber": pa.array(l_number, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_lines),
        "l_linestatus": _pick(rng, ["F", "O"], n_lines),
        "l_shipdate": pa.array((ORDER_EPOCH_MS + ship_day * DAY_MS) * 1000,
                               pa.timestamp("us")),
    })

    n_ev = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * DAY_MS * 1000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EVENT_EPOCH_US + ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
                          pa.string()),
    })

    n_docs = n["documents"]
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 100, n_docs)]
    # near-duplicates: later docs become edited copies of earlier ones
    # (one word appended), plus a few verbatim copies, so the dedup,
    # clustering and curation keys have real work to find
    copies = rng.choice(np.arange(n_docs // 2, n_docs),
                        NEARDUP_DOCS + EXACTDUP_DOCS, replace=False)
    for j, dst in enumerate(copies):
        src = texts[int(rng.integers(0, n_docs // 2))]
        texts[dst] = src if j < EXACTDUP_DOCS else f"{src} dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n_vec = n["embeddings"]
    mat = rng.standard_normal((n_vec, EMBED_DIM)).astype(np.float32)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(mat), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return out


def fingerprint() -> str:
    """Identity of the generated data: this file's source and the seed."""
    with open(__file__, "rb") as fh:
        src = fh.read()
    return hashlib.sha256(src + str(DATA_SEED).encode()).hexdigest()[:16]


def ensure_tables(cache_root: str) -> tuple[str, bool]:
    """Directory holding ``<table>.parquet`` for every table, and whether
    this call built it (on first use). Written to a temporary sibling and
    renamed into place, so an interrupted build never leaves a
    half-written data dir."""
    final = os.path.join(cache_root, f"data-{fingerprint()}")
    if os.path.isdir(final):
        return final, False
    os.makedirs(cache_root, exist_ok=True)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables().items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
    return final, True
