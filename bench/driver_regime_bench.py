"""Driver regime vs distributed fallback, per operator, at growing sizes.

pagerank (g05), LSH ANN (s03), the IVF index (s04), resolve_sameas (g08)
and dedup_clusters (t07) run small relations on the driver and fall back to
Spark passes over the driver budget (kgx.util.fits_driver). This times both
forms of one operator on the same synthetic input at each size and checks
they return the same rows, so each operator's driver cap can be set where
the driver form stops winning or its memory stops being small:

- g05: N = size / 10 nodes, ``size`` weighted edges (hash-drawn src/dst,
  grouped like g05's trade flows); the size is nodes + edges rows.
- s03: ``size`` corpus vectors of dim 64 plus 10 queries through
  ``simsearch.ann_lsh`` (s03's banding, top 3).
- s04: ``size`` corpus vectors of dim 64 plus 10 queries, default index
  (8 cells, 2 Lloyd rounds, 2 probes).
- g08: ``size`` sameAs edges in chains of 10 plus 2 x size triples.
- t07: ``size`` documents for dedup_clusters (t07's settings: token
  3-grams, 32 bands, bucket cap 1000), 10-100 tokens drawn from a 31-word
  vocabulary, 5% of them near-duplicates (an earlier text plus " dup"), the
  shape of perfbench's generated corpus. t07 has a third form,
  ``driver_clusters``: the signatures on the executors and the clustering
  on the driver (canon.DEDUP_DRIVER_MAX_BYTES zeroed), between its
  driver-signature form and the fallback.
- mapping: a dictionary of ``size`` distinct surfaces for
  canon.canonical_mapping: noisy variants (0-3 random character edits)
  of about size / 4 two-to-three-word org names with a legal suffix, and
  5% punctuation-only surfaces. ``gate_bytes`` is what the mapping's
  driver regime counts against canon.DEDUP_DRIVER_MAX_BYTES and
  ``band_pairs`` what its driver LSH counts against the shared budget's
  rows (a pair once per band it collides in).

Inputs are pinned before timing. Each form runs ``reps`` times (after one
untimed warm-up call at the smallest size); the driver form runs with every
cap lifted, the fallback with the shared budget zeroed. ``rss_mb`` is the
driver process's peak resident set after the size's driver runs (it only
grows, so sizes run ascending).

Usage: python bench/driver_regime_bench.py g05|s03|s04|g08|t07|mapping SIZE [SIZE ...]
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


def _vecs(spark, n, offset, id_name, v_name):
    """``n`` pinned dim-64 vectors with ids from ``offset``."""
    from pyspark.sql import functions as F

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


def _s03(spark, size):
    from kgx.ops import simsearch

    n = simsearch.N_QUERIES
    e = _vecs(spark, n, 0, "vec_id", "v").unionByName(
        _vecs(spark, size, n, "vec_id", "v")
    ).localCheckpoint()
    return lambda: sorted(tuple(r) for r in simsearch.ann_lsh(e).collect())


def _s04(spark, size):
    from kgx.ops import simsearch

    q = _vecs(spark, simsearch.N_QUERIES, 0, "query_id", "qv")
    c = _vecs(spark, size, simsearch.N_QUERIES, "cand_id", "cv")
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
        comp = canon.dedup_clusters(
            docs, shingle="token", bucket_cap=1000, n_bands=32
        ).df
        doc = F.col("doc_id").cast("long")
        first = F.min(doc).over(Window.partitionBy("component"))
        row = comp.select(doc.alias("doc_id"), first.alias("first")).agg(
            F.count(F.lit(1)),
            F.sum((F.col("doc_id") != F.col("first")).cast("long")),
            F.sum(F.pmod(F.xxhash64("doc_id", "first"), F.lit(2**31))),
        ).first()
        return tuple(row)

    return run


def _mapping(spark, size):
    import random

    import pyarrow as pa
    from pyspark.sql import functions as F

    from kgx import canon, kernel
    from kgx.util import local_frame

    rng = random.Random(size)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = ["".join(rng.choice(letters) for _ in range(rng.randint(4, 9))).title()
             for _ in range(400)]
    suffixes = ["Ltd", "Ltd.", "Inc", "Group", "S.A.", "LLC", "Co.", "Holdings"]
    names: set[str] = set()
    while len(names) < size:
        if rng.random() < 0.05:
            names.add("".join(rng.choice("-.!*# ") for _ in range(rng.randint(1, 12))))
            continue
        base = " ".join(rng.sample(words, rng.randint(2, 3))) + " " + rng.choice(suffixes)
        for _ in range(4):
            v = base
            for _ in range(rng.randint(0, 3)):
                i = rng.randrange(len(v))
                c = rng.choice(letters + " .")
                v = rng.choice([v[:i] + c + v[i + 1:], v[:i] + c + v[i:], v[:i] + v[i + 1:]])
            names.add(v)
    names = sorted(names)[:size]
    mentions = local_frame(spark, [(s,) for s in names], "surface string").localCheckpoint()

    def run():
        m = canon.canonical_mapping(mentions).df
        return tuple(m.agg(
            F.count(F.lit(1)),
            F.sum((F.col("surface") != F.col("rep")).cast("long")),
            F.sum(F.pmod(F.xxhash64("surface", "rep"), F.lit(2**31))),
        ).first())

    banded = [s for s in names if kernel.normalize_surface(s)]
    counted = []
    canon._lsh_on_driver(
        pa.Table.from_batches([canon._keyed_sigs(banded, banded, "char", 3, {})]),
        None, canon.N_BANDS, 0.0, canon.JACCARD_THRESHOLD,
        fits=lambda n_pairs, _: counted.append(n_pairs) or True,
    )
    run.info = {"gate_bytes": sum(2 * len(s.encode()) + 8 for s in names),
                "band_pairs": counted[-1]}
    return run


OPS = {"g05": _g05, "s03": _s03, "s04": _s04, "g08": _g08, "t07": _t07,
       "mapping": _mapping}


def _lift(monkey, form):
    """Module budgets for one form: all caps lifted (``driver``), t07's
    driver-signature cap zeroed (``driver_clusters``), or the shared budget
    zeroed (``fallback``). Lifting the shared budget lifts every broadcast
    ceiling with it (g08's sameAs rewrite broadcasts its mapping at any size
    in the driver form)."""
    from kgx import canon, util
    from kgx.ops import graph, simsearch

    big = 2**31 - 2  # lifted, and still a valid limit() row count
    for mod, name in [
        (util, "DRIVER_MAX_ROWS"), (util, "DRIVER_MAX_BYTES"),
        (graph, "PR_DRIVER_MAX_ROWS"), (simsearch, "IVF_DRIVER_MAX_VECTORS"),
        (canon, "DEDUP_DRIVER_MAX_BYTES"),
    ]:
        monkey.setdefault((mod, name), getattr(mod, name))
        setattr(mod, name, big)
    if form == "driver_clusters":
        canon.DEDUP_DRIVER_MAX_BYTES = 0
    if form == "fallback":
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
    forms = ("fallback", "driver_clusters", "driver") if a.op == "t07" else (
        "fallback", "driver")
    saved: dict = {}
    _lift(saved, "driver")
    OPS[a.op](spark, min(a.sizes))()  # warm-up
    for size in sorted(a.sizes):
        run = OPS[a.op](spark, size)
        walls = {form: [] for form in forms}
        results = {}
        for _ in range(a.reps):
            for form in forms:
                _lift(saved, form)
                t0 = time.perf_counter()
                results[form] = run()
                walls[form].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
        rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        line = {"op": a.op, "size": size, **getattr(run, "info", {})}
        line.update({f"{f}_s": round(statistics.median(walls[f]), 3) for f in forms})
        line.update({f"{f}_all_s": [round(x, 3) for x in walls[f]] for f in forms})
        line["same_rows"] = all(results[f] == results["fallback"] for f in forms)
        line["rss_mb"] = round(rss)
        print(json.dumps(line), flush=True)
    for (mod, name), v in saved.items():
        setattr(mod, name, v)
    spark.stop()


if __name__ == "__main__":
    main()
