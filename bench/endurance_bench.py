"""Epoch-loop endurance: does per-epoch cost stay flat as the store grows?

Round-4 review flagged the streaming epoch loop's per-batch probes as
O(store): every micro-batch re-read all content sidecars and entity dirs,
and re-ran the full entity canonicalization. Round 5 made the probes
cached-and-incremental and skips canonicalization for batches that
introduce no new surfaces. This harness is the runtime witness: it drives
N consecutive epochs of equal-sized batches through the factored epoch
function (the exact code foreachBatch runs, minus Spark's stream plumbing)
against ONE growing store, times each epoch, and reports the first-K vs
last-K average — a ratio near 1.0 means the loop does not slow down as the
store accumulates units.

Usage: python bench/endurance_bench.py [n_epochs] [pages_per_epoch] [cpus]
                                       [phases]
Writes BENCH/endurance_result.json; BENCH/BASELINE.md is curated by hand.

Pass a 4th arg 'phases' to record per-phase wall (guard / dedup / extract /
canon / commit) per epoch and the per-phase average — the
attribution of the per-epoch fixed-cost floor on small micro-batches
(VERDICT r5 #4). Phase mode forces one extra facts count per epoch to pin
the extract/canon boundary, so run it separately from the headline ratio.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import pandas as pd

    from kgx import fixtures, streaming
    from kgx.checkpoint import TripleStore
    from kgx.session import get_spark

    n_epochs = int(sys.argv[1]) if len(sys.argv) > 1 else 30
    per = int(sys.argv[2]) if len(sys.argv) > 2 else 400
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    phases = len(sys.argv) > 4 and sys.argv[4] == "phases"

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=2 * cpus,
                      app_name="kgx-endurance-bench")
    from bench import warm_workers

    warm_workers(spark, cpus)

    pages = fixtures.gen_pages(n_epochs * per)
    work = "/tmp/kgx_endurance_store"
    shutil.rmtree(work, ignore_errors=True)
    store = TripleStore(work, n_buckets=8)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()

    walls: list[float] = []
    phase_rows: list[dict] = []
    for ep in range(n_epochs):
        batch = spark.createDataFrame(
            pd.DataFrame(pages[ep * per:(ep + 1) * per]))
        tm: dict | None = {} if phases else None
        t0 = time.perf_counter()
        unit = streaming._process_epoch(
            spark, store, batch, ep, True, stream_id="endurance",
            caches=caches, timings=tm)
        walls.append(round(time.perf_counter() - t0, 3))
        assert unit is not None, f"epoch {ep} committed nothing"
        if tm is not None:
            phase_rows.append(tm)
    caches.release()

    k = max(3, n_epochs // 6)
    first_k = sum(walls[:k]) / k
    last_k = sum(walls[-k:]) / k
    ent_dirs = len([d for d in os.listdir(os.path.join(work, "entities"))
                    if not d.startswith("_")])
    result = {
        "n_epochs": n_epochs,
        "pages_per_epoch": per,
        "cpus": cpus,
        "per_epoch_sec": walls,
        "first_k_avg": round(first_k, 3),
        "last_k_avg": round(last_k, 3),
        "last_over_first": round(last_k / first_k, 3),
        "entity_dirs_final": ent_dirs,
        "units_final": len(store.manifests()),
    }
    if phase_rows:
        import statistics

        keys = sorted({k for r in phase_rows for k in r})
        result["phase_avg_sec"] = {
            k: round(sum(r.get(k, 0.0) for r in phase_rows) / len(phase_rows), 3)
            for k in keys
        }
        # median is the noise-resistant per-phase number (epoch 0 pays
        # session warmup; contended-box outliers inflate single epochs)
        result["phase_median_sec"] = {
            k: round(statistics.median(r.get(k, 0.0) for r in phase_rows), 3)
            for k in keys
        }
        result["phase_per_epoch"] = phase_rows
    print(json.dumps(result))
    os.makedirs("BENCH", exist_ok=True)
    out = "BENCH/endurance_phases.json" if phases else "BENCH/endurance_result.json"
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
