"""Seeded input generators for the benchmark workloads.

Everything here is plain numpy/pyarrow (no Spark): the program under test only
ever sees the files these functions write.

- ``write_tables``: the tables the ``corpus_query`` mix reads (TPC-H-style
  star schema, an ``events`` stream, a ``documents`` corpus with planted
  near-duplicates, an ``embeddings`` table), sized by a scale factor, with
  the schemas the ``kgx.ops`` queries expect. Row counts, value ranges, date
  granularity, document shape and embedding distribution follow the
  repository's test-data tables at the same scale factor (figures in
  perfbench/README.md, "Input shape").
- ``write_pages`` / ``ingest_files``: page files from
  ``kgx.fixtures.gen_pages``; the ingest arrivals carry content mirrors (an
  earlier page's html at a new url, always in a later file than the
  original).
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
N_SOURCES = 20
NEAR_DUP_SHARE = 0.05
EMB_DIM = 64
EMB_LABELS = 10


def _ts(rng: np.random.Generator, n: int, start: datetime, days: float) -> pa.Array:
    base = (start - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    us = base + rng.integers(0, int(days * 86_400 * 1_000_000), n)
    return pa.array(us, pa.timestamp("us"))


def _dates(rng: np.random.Generator, n: int, start: datetime, days: int) -> pa.Array:
    """Whole-day timestamps (order and ship dates carry no time of day)."""
    base = (start - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    return pa.array(base + rng.integers(0, days, n) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents of 10-100 tokens drawn uniformly from a 31-word vocabulary;
    ~5% are near-duplicates of an earlier document (its text plus " dup").
    A planted pair's token 3-gram Jaccard is (k-2)/(k-1) for a k-token
    original, 0.89 or more; unrelated documents share almost no 3-grams."""
    py = random.Random(int(rng.integers(0, 2**31)))
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and py.random() < NEAR_DUP_SHARE:
            texts.append(texts[py.randrange(i)] + " dup")
        else:
            texts.append(" ".join(py.choice(VOCAB) for _ in range(py.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [py.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors in random directions; the labels carry no geometry."""
    labels = rng.integers(0, EMB_LABELS, n)
    v = rng.normal(0.0, 1.0, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the corpus_query tables at scale factor ``sf``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, datetime(1995, 1, 1), 2405),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, max(1, int(200_000 * sf)), n_li),
                                  pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _dates(rng, n_li, datetime(1995, 1, 2), 2499),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(np.sort(np.asarray(_ts(rng, n_ev, datetime(2024, 1, 1), 30)
                                              .cast(pa.int64()))), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
        "documents": _documents(rng, max(500, int(50_000 * sf))),
        "embeddings": _embeddings(rng, max(500, int(20_000 * sf))),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1024, -(-t.num_rows // 16)))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------- #
# page corpora for kg_build / kg_ingest
# --------------------------------------------------------------------------- #
MIRROR_HOST = "mirror.example.net"
MIRROR_SHARE = 0.2  # of every arriving file after the first


def write_pages(path: str, rows: list[dict]) -> None:
    from kgx.fixtures import _pages_table, row_group_size

    pq.write_table(_pages_table(rows), path, row_group_size=row_group_size(len(rows)))


def ingest_files(out_dir: str, n_files: int, per_file: int, seed: int) -> list[dict]:
    """``n_files`` page files of ``per_file`` rows each. From the second file
    on, ``MIRROR_SHARE`` of every file re-publishes an earlier file's page
    (same html and text) at a new url on MIRROR_HOST; the rest are new pages
    from ``kgx.fixtures.gen_pages``."""
    from kgx.fixtures import gen_pages

    n_mirror = int(round(per_file * MIRROR_SHARE))
    pool = gen_pages(per_file + (n_files - 1) * (per_file - n_mirror), seed)
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    files, used = [], 0
    for i in range(n_files):
        k = per_file if i == 0 else per_file - n_mirror
        rows = pool[used:used + k]
        for j in range(per_file - k):
            src = pool[rng.randrange(used)]
            rows.append({**src, "url": f"https://{MIRROR_HOST}/m/{i:04d}/{j:04d}"})
        rng.shuffle(rows)
        used += k
        path = os.path.join(out_dir, f"pages-{i:04d}.parquet")
        write_pages(path, rows)
        files.append({"path": path, "pages": len(rows), "mirrors": per_file - k})
    return files
