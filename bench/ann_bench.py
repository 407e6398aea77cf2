"""ANN scale point: brute-force vs hyperplane-LSH vs IVF at 100k vectors.

Builds a synthetic embeddings table (same schema as the driver testdata:
vec_id long, embedding array<float>, label string) with planted near-neighbor
structure — each of the N_QUERIES query vectors gets a handful of true
neighbors at cosine ~0.9, the rest of the corpus is random — then measures
wall time and recall@K of each method against the brute-force truth.

Usage: python bench/ann_bench.py [n_vectors] [cpus]
       python bench/ann_bench.py sweep [n_vectors] [cpus]   # IVF operating curve
Writes BENCH/ann_result.json (or BENCH/ann_sweep.json); BENCH/BASELINE.md is
curated by hand.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
PLANTED_PER_QUERY = 5


def _make_corpus(path: str, n: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kgx.ops.simsearch import N_QUERIES

    rng = np.random.default_rng(1234)
    V = rng.standard_normal((n, DIM)).astype(np.float32)
    V /= np.linalg.norm(V, axis=1, keepdims=True)
    # plant neighbors: for query q (rows 0..N_QUERIES-1), rows q*P..q*P+P-1 of
    # the candidate region become 0.9*q + 0.1*noise (cosine ~0.9)
    for q in range(N_QUERIES):
        for j in range(PLANTED_PER_QUERY):
            i = N_QUERIES + q * PLANTED_PER_QUERY + j
            v = 0.95 * V[q] + 0.15 * rng.standard_normal(DIM).astype(np.float32)
            V[i] = v / np.linalg.norm(v)
    t = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array([row for row in V.tolist()],
                                  pa.list_(pa.float32())),
            "label": pa.array([f"l{i % 20}" for i in range(n)], pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(t, f"{path}/embeddings.parquet",
                   row_group_size=max(256, n // 64))


def _setup(n: int, cpus: int):
    from kgx.session import get_spark

    sf_dir = f"/tmp/kgx_ann_{n}"
    if not os.path.exists(f"{sf_dir}/embeddings.parquet"):
        _make_corpus(sf_dir, n)

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
                      app_name="kgx-ann-bench")
    from bench import warm_workers

    warm_workers(spark, cpus)
    return spark, sf_dir


def sweep() -> None:
    """IVF operating-point curve: recall@K + per-query-pass wall time across
    (k_cells, n_probe) at one corpus size, against brute-force truth — the
    table a user needs to pick an operating point (the analog of the
    reference's k=ceil(n/2) retrieval-depth rule, context_extractor.py:126)."""
    from kgx.ops import simsearch as S

    n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark, sf_dir = _setup(n, cpus)

    t0 = time.perf_counter()
    exact = S.s01_cosine_topk(spark, sf_dir).collect()
    brute_sec = round(time.perf_counter() - t0, 2)
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r.query_id, set()).add(r.cand_id)
    total = sum(len(t) for t in truth.values())

    q, c = S._split(spark, sf_dir)
    points = []
    for kc in (8, 16, 32):
        t0 = time.perf_counter()
        index = S.ivf_build(c, k_cells=kc)
        build_sec = round(time.perf_counter() - t0, 2)
        for n_probe in (1, 2, 4, 8):
            if n_probe > kc:
                continue
            t0 = time.perf_counter()
            rows = S.ivf_query(q, index, n_probe=n_probe).collect()
            qsec = round(time.perf_counter() - t0, 2)
            got: dict[int, set] = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.cand_id)
            hits = sum(len(got.get(qid, set()) & t) for qid, t in truth.items())
            points.append({
                "k_cells": kc, "n_probe": n_probe, "build_sec": build_sec,
                "query_sec": qsec, "recall_at_k": round(hits / total, 3),
            })
            print(points[-1])
    out = {"n_vectors": n, "dim": DIM, "cpus": cpus, "k": S.K,
           "brute_force_sec": brute_sec, "points": points}
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/ann_sweep.json", "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(json.dumps(out))
    spark.stop()


def main() -> None:
    from kgx.ops import simsearch as S

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    spark, sf_dir = _setup(n, cpus)

    results: dict[str, dict] = {}
    truth: dict[int, set] = {}

    def run(name, fn):
        t0 = time.perf_counter()
        rows = fn(spark, sf_dir).collect()
        sec = round(time.perf_counter() - t0, 2)
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.cand_id)
        rec = None
        if truth:
            hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
            total = sum(len(t) for t in truth.values())
            rec = round(hits / total, 3)
        results[name] = {"sec": sec, "recall_at_k": rec}
        return got

    exact = run("s01_bruteforce", S.s01_cosine_topk)
    truth.update(exact)
    run("s03_lsh", S.s03_ann_lsh)
    run("s04_ivf_cold", S.s04_ann_ivf)  # includes quantizer training

    # build-once / query-many: train outside the timer, query amortized
    q, c = S._split(spark, sf_dir)
    t0 = time.perf_counter()
    index = S.ivf_build(c)
    build_sec = round(time.perf_counter() - t0, 2)

    def _query_only(spark_, sf_):
        return S.ivf_query(q, index)

    run("s04_ivf_query", _query_only)
    results["s04_ivf_query"]["build_sec"] = build_sec

    out = {"n_vectors": n, "dim": DIM, "cpus": cpus, "k": S.K,
           "methods": results}
    print(json.dumps(out))
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/ann_result.json", "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "sweep":
        sweep()
    else:
        main()
