"""Round-7 optimization profiling harness (bench.py is frozen — extras live here).

Usage:
  python bench_extra.py t07_phases   # phase-level wall attribution for t07
  python bench_extra.py queries q07 q16 ...   # noop-sink min-of-2 per query
  python bench_extra.py plans        # dump .explain(formatted) for headline queries

Same session shape as bench.py (local[$SPARK_GRAFT_CPUS], 2*cpus shuffle
partitions, warm worker pool), data dir from $SPARK_GRAFT_SF_DIR.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _load_bench_py():
    """Import bench.py by path (a bench/ package shadows the module name)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_frozen", os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def get_session():
    from kgx.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS, app_name="kgx-bench-extra"
    )
    import pandas as pd

    def _ident(bs):
        for b in bs:
            yield pd.DataFrame({"x": b["x"]})

    spark.range(2 * CPUS).selectExpr("CAST(id AS STRING) x").repartition(
        2 * CPUS
    ).mapInPandas(_ident, "x string").count()
    spark.read.parquet(f"{SF}/region.parquet").count()
    return spark


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    t0 = time.perf_counter()
    out = fn()
    dt = time.perf_counter() - t0
    print(f"  {label:42s} {dt:7.3f} s")
    return out


def t07_phases():
    """Re-run dedup_clusters' body step by step with timers (mirrors
    kgx/canon.py dedup_clusters + t07's window tail)."""
    from pyspark.sql import functions as F, Window

    from kgx import canon
    from kgx.ops import load

    spark = get_session()
    for p in range(2):
        print(f"pass {p}: t07 phase walls at {SF}")
        d = load(spark, SF, "documents")
        keyed = d.select(
            F.col("doc_id").cast("string").alias("surface"), F.col("text").alias("_text")
        )
        t_all = time.perf_counter()
        surf = timed(
            "sig pass (mapInArrow + localCheckpoint)",
            lambda: keyed.mapInArrow(
                canon._keyed_sig_gen("token", 3), schema=canon._KEYED_SCHEMA
            ).localCheckpoint(),
        )
        erep = timed(
            "erep aggregate (+localCheckpoint)",
            lambda: surf.select("surface", "h")
            .groupBy("h")
            .agg(F.min("surface").alias("erep"))
            .localCheckpoint(),
        )
        members = surf.select("surface", "h").join(erep, "h").select("surface", "erep")
        reps = timed(
            "reps semi-join (+localCheckpoint)",
            lambda: surf.join(
                erep.select("h", F.col("erep").alias("surface")),
                ["h", "surface"],
                "left_semi",
            )
            .select("surface", "sh_hash", "sig")
            .localCheckpoint(),
        )
        cand = canon.candidate_pairs(
            reps, bucket_cap=1000, n_bands=32, est_gate=max(0.0, 0.4 - 0.25)
        )
        edges = canon.verified_edges(cand, threshold=0.4)
        edges = timed("cand+verify edges (localCheckpoint)", lambda: edges.localCheckpoint())
        n_edges = timed("edges count", lambda: edges.count())
        comp = timed(
            "connected components",
            lambda: canon.connected_components(reps.select("surface"), edges),
        )
        out = members.join(comp.withColumnRenamed("surface", "erep"), "erep").select(
            F.col("surface").alias("doc_id_s"), "component"
        )
        comp2 = out.select(F.col("doc_id_s").alias("doc_id"), "component")
        wc = Window.partitionBy("component")
        keyed2 = comp2.withColumn(
            "rep_id",
            F.min(F.col("doc_id").cast("long")).over(
                wc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            ),
        ).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.md5(F.col("rep_id").cast("string")).alias("cluster_key"),
        )
        wk = Window.partitionBy("cluster_key")
        final = keyed2.withColumn("cluster_size", F.count("*").over(wk)).select(
            "doc_id", "cluster_key", "cluster_size"
        )
        timed("final window tail + count", lambda: final.count())
        print(f"  {'TOTAL':42s} {time.perf_counter() - t_all:7.3f} s   edges={n_edges}")
        spark.catalog.clearCache()


def queries(names):
    import __spark_entry__ as entry_mod

    spark = get_session()
    qs = entry_mod.queries()
    for p in range(2):
        for name in names:
            t0 = time.perf_counter()
            qs[name](spark, SF).count()
            print(f"pass{p} {name:24s} {time.perf_counter() - t0:7.3f} s")
        spark.catalog.clearCache()


def plans(names):
    import __spark_entry__ as entry_mod

    spark = get_session()
    qs = entry_mod.queries()
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF)
        p = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out = f"plans/r07/{name}_after.txt"
        with open(out, "w") as f:
            f.write(p)
        print(out)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "t07_phases"
    if cmd == "t07_phases":
        t07_phases()
    elif cmd == "queries":
        queries(sys.argv[2:])
    elif cmd == "plans":
        plans(sys.argv[2:] or _load_bench_py().HEADLINE)
