"""Driver regime vs distributed fallback, per operator, at growing sizes.

pagerank (g05), the IVF index (s04), resolve_sameas (g08) and
dedup_clusters (t07) run small relations on the driver and fall back to
Spark passes over the driver budget (kgx.util.fits_driver). This times both
forms of one operator on the same synthetic input at each size and checks
they return the same rows, so each operator's driver cap can be set where
the driver form stops winning or its memory stops being small:

- g05: N = size / 10 nodes, ``size`` weighted edges (hash-drawn src/dst,
  grouped like g05's trade flows); the size is nodes + edges rows.
- s04: ``size`` corpus vectors of dim 64 plus 10 queries, default index
  (8 cells, 2 Lloyd rounds, 2 probes).
- g08: ``size`` sameAs edges in chains of 10 plus 2 x size triples.
- t07: ``size`` documents for dedup_clusters (t07's settings: token
  3-grams, 32 bands, bucket cap 1000), 10-100 tokens drawn from a 31-word
  vocabulary, 5% of them near-duplicates (an earlier text plus " dup"), the
  shape of perfbench's generated corpus.

Inputs are pinned before timing. Each form runs ``reps`` times (after one
untimed warm-up call at the smallest size); the driver form runs with every
cap lifted, the fallback with the shared budget zeroed. ``rss_mb`` is the
driver process's peak resident set after the size's driver runs (it only
grows, so sizes run ascending).

Usage: python bench/driver_regime_bench.py g05|s04|g08|t07 SIZE [SIZE ...]
       [--cpus 4] [--reps 3]
Prints one JSON line per size.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _hash_unit(col_id, seed):
    """Deterministic double in [-1, 1) from a row id."""
    from pyspark.sql import functions as F

    return (F.pmod(F.xxhash64(col_id, F.lit(seed)), F.lit(2_000_000)) - 1_000_000) / 1e6


def _g05(spark, size):
    from pyspark.sql import functions as F

    from kgx.ops import graph

    n = max(2, size // 10)
    ids = spark.range(size - n)
    node = lambda seed: F.format_string(  # noqa: E731
        "n%08d", F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n))
    )
    edges = (
        ids.groupBy(node(1).alias("src"), node(2).alias("dst"))
        .agg(F.count("*").cast("double").alias("weight"))
        .localCheckpoint()
    )
    nodes = spark.range(n).select(F.format_string("n%08d", "id").alias("node"))
    nodes = nodes.localCheckpoint()
    return lambda: sorted(tuple(r) for r in graph.pagerank(nodes, edges).collect())


def _s04(spark, size):
    from pyspark.sql import functions as F

    from kgx.ops import simsearch

    def vecs(n, offset, id_name, v_name):
        return (
            spark.range(n)
            .select(
                (F.col("id") + offset).alias(id_name),
                F.array(*[_hash_unit("id", offset * 100 + j) for j in range(64)]).alias(
                    v_name
                ),
            )
            .localCheckpoint()
        )

    q = vecs(simsearch.N_QUERIES, 0, "query_id", "qv")
    c = vecs(size, simsearch.N_QUERIES, "cand_id", "cv")
    return lambda: sorted(
        tuple(r) for r in simsearch.ivf_query(q, simsearch.ivf_build(c)).collect()
    )


def _g08(spark, size):
    from pyspark.sql import functions as F

    from kgx.ops import graph

    g = 10
    nodes = size + size // (g - 1)
    ids = spark.range(nodes)
    edges = (
        ids.filter(F.col("id") % g != g - 1)
        .select(
            F.format_string("e%09d", "id").alias("a"),
            F.format_string("e%09d", F.col("id") + 1).alias("b"),
        )
        .localCheckpoint()
    )
    pick = lambda seed: F.format_string(  # noqa: E731
        "e%09d", F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(2 * nodes))
    )
    triples = (
        spark.range(2 * size)
        .select(pick(1).alias("subj"), F.lit("p").alias("pred"), pick(2).alias("obj"))
        .localCheckpoint()
    )

    def run():
        out = graph.resolve_sameas(triples, edges)
        row = out.agg(
            F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64("subj", "pred", "obj"), F.lit(2**31))),
        ).first()
        return tuple(row)

    return run


def _t07(spark, size):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kgx import canon

    vocab = F.array(*[F.lit(f"w{i:02d}") for i in range(31)])
    word = lambda k: F.element_at(  # noqa: E731
        vocab, (F.pmod(F.xxhash64("id", k), F.lit(31)) + 1).cast("int")
    )
    ntok = 10 + F.pmod(F.xxhash64("id", F.lit(1)), F.lit(91))
    text = F.concat_ws(" ", F.transform(F.sequence(F.lit(1), ntok), word))
    n_dup, n_base = size // 20, size - size // 20
    base = spark.range(n_base).select(F.col("id").alias("doc_id"), text.alias("text"))
    dups = spark.range(n_dup).select(
        (F.col("id") + n_base).alias("doc_id"),
        F.pmod(F.xxhash64("id", F.lit(2)), F.lit(n_base)).alias("of"),
    )
    docs = base.unionByName(
        dups.join(base.withColumnRenamed("doc_id", "of"), "of")
        .select("doc_id", F.concat("text", F.lit(" dup")).alias("text"))
    ).localCheckpoint()

    def run():
        comp = canon.dedup_clusters(docs, shingle="token", bucket_cap=1000, n_bands=32)
        doc = F.col("doc_id").cast("long")
        first = F.min(doc).over(Window.partitionBy("component"))
        row = comp.select(doc.alias("doc_id"), first.alias("first")).agg(
            F.count(F.lit(1)),
            F.sum((F.col("doc_id") != F.col("first")).cast("long")),
            F.sum(F.pmod(F.xxhash64("doc_id", "first"), F.lit(2**31))),
        ).first()
        return tuple(row)

    return run


OPS = {"g05": _g05, "s04": _s04, "g08": _g08, "t07": _t07}


def _lift(monkey, forced_fallback):
    """Module budgets for one form: all caps lifted, or the shared one zeroed.
    Lifting the shared budget lifts every broadcast ceiling with it (g08's
    sameAs rewrite broadcasts its mapping at any size in the driver form)."""
    from kgx import util
    from kgx.ops import graph, simsearch

    big = 10**12
    for mod, name in [
        (util, "DRIVER_MAX_ROWS"), (util, "DRIVER_MAX_BYTES"),
        (graph, "PR_DRIVER_MAX_ROWS"), (simsearch, "IVF_DRIVER_MAX_VECTORS"),
    ]:
        monkey.setdefault((mod, name), getattr(mod, name))
        setattr(mod, name, big)
    if forced_fallback:
        util.DRIVER_MAX_ROWS = 0
        util.DRIVER_MAX_BYTES = 0


def main() -> None:
    from kgx.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("op", choices=sorted(OPS))
    ap.add_argument("sizes", type=int, nargs="+")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--reps", type=int, default=3)
    a = ap.parse_args()

    spark = get_spark(master=f"local[{a.cpus}]", app_name="kgx-driver-regime-bench")
    spark.sparkContext.setLogLevel("ERROR")
    saved: dict = {}
    _lift(saved, False)
    OPS[a.op](spark, min(a.sizes))()  # warm-up
    for size in sorted(a.sizes):
        run = OPS[a.op](spark, size)
        walls = {"driver": [], "fallback": []}
        results = {}
        for _ in range(a.reps):
            for form in ("fallback", "driver"):
                _lift(saved, form == "fallback")
                t0 = time.perf_counter()
                results[form] = run()
                walls[form].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        print(json.dumps({
            "op": a.op, "size": size,
            "driver_s": round(statistics.median(walls["driver"]), 3),
            "fallback_s": round(statistics.median(walls["fallback"]), 3),
            "driver_all_s": [round(x, 3) for x in walls["driver"]],
            "fallback_all_s": [round(x, 3) for x in walls["fallback"]],
            "same_rows": results["driver"] == results["fallback"],
            "rss_mb": round(rss),
        }), flush=True)
    for (mod, name), v in saved.items():
        setattr(mod, name, v)
    spark.stop()


if __name__ == "__main__":
    main()
