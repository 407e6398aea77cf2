"""Small relations on the driver: local_frame, and the driver regimes of g05,
s04, g08 and t07 against their distributed fallbacks."""

from __future__ import annotations

import pytest

from test_graph import SF  # the sf0.001 driver tables test_graph reads

from kgx import util
from kgx.ops import graph, simsearch, textops

REGIME_QUERIES = {
    "g05_nation_pagerank": graph.g05_nation_pagerank,
    "s04_ann_ivf": simsearch.s04_ann_ivf,
    "g08_sameas_resolution": graph.g08_sameas_resolution,
    "t07_minhash_clusters": textops.t07_minhash_clusters,
}


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` submitted), counted with the scheduler's
    next-job-id window (perfbench/trace.py's attribution)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    lo = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - lo


def test_local_frame_round_trips_values(spark):
    """Column-by-column Arrow build: no pandas float64 detour for an int
    column holding a null, no precision loss above 2**53, multi-byte text
    and arrays intact."""
    big = 2**53 + 1
    rows = [
        ("日本語テキスト", big, [big, -(2**62)]),
        ("emoji 🎉👩‍💻", None, []),
        (None, -big, None),
    ]
    df = util.local_frame(spark, rows, "s string, n long, a array<long>")
    assert [tuple(r) for r in df.collect()] == rows
    assert df.dtypes == [("s", "string"), ("n", "bigint"), ("a", "array<bigint>")]


def test_local_frame_zero_rows_keeps_schema(spark):
    from kgx.schema import TRIPLES

    df = util.local_frame(spark, [], TRIPLES)
    assert df.schema == TRIPLES
    assert df.collect() == []


def test_local_frame_is_a_local_scan_with_no_job(spark):
    df = util.local_frame(spark, [(i, str(i)) for i in range(40)], "k int, v string")
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    rows, jobs = _jobs(spark, df.collect)
    assert len(rows) == 40
    assert jobs == 0


def _empty_after_exchange(spark):
    """An (a, b) edge frame that is empty only once its shuffle stage has
    run: no group reaches the count the filter asks for."""
    from pyspark.sql import functions as F

    keys = spark.range(100).select((F.col("id") % 10).cast("string").alias("a"))
    return (
        keys.groupBy("a").count().filter("count > 1000")
        .select("a", F.col("a").alias("b"))
    )


def test_driver_rows_sizes_a_frame_empty_only_at_runtime(spark):
    """With AQE on, a gated frame that comes out empty after an exchange
    still reports its size (0 rows, 0 bytes) on the pin's own pass and
    takes the driver regime; the operators that gate such frames return
    their no-edge answers."""
    from pyspark.sql import functions as F

    from kgx import canon

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    edges = _empty_after_exchange(spark)
    pinned, rows = util.driver_rows(edges, F.octet_length("a"))
    assert rows == []
    assert pinned.collect() == []

    # near-duplicate clustering over documents that share no shingle: the
    # verified edge frame is empty after the band shuffle
    texts = [f"alpha{i} beta{i * 7} gamma{i * 13} delta{i * 31}" for i in range(12)]
    docs = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], "doc_id string, text string"
    )
    comp = canon.dedup_clusters(docs).collect()
    assert len(comp) == 12
    assert len({r["component"] for r in comp}) == 12

    triples = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b")], "subj string, pred string, obj string"
    )
    out = graph.resolve_sameas(triples, edges.distinct()).collect()
    assert [tuple(r) for r in out] == [("a", "p", "b")]


def test_driver_rows_counts_the_pin_without_observed_metrics(spark, monkeypatch):
    """When the observed metrics row does not reach the driver (no "n"
    key), the gate counts the pin instead and decides the same way."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    monkeypatch.setattr(Observation, "get", property(lambda self: {}))
    df = spark.range(5).select(F.col("id").cast("string").alias("a"))
    _, rows = util.driver_rows(df, F.octet_length("a"))
    assert sorted(r["a"] for r in rows) == ["0", "1", "2", "3", "4"]
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 4)
    _, rows = util.driver_rows(df, F.octet_length("a"))
    assert rows is None
    _, rows = util.driver_rows(_empty_after_exchange(spark), F.octet_length("a"))
    assert rows == []


@pytest.mark.parametrize("name", sorted(REGIME_QUERIES))
def test_driver_regime_matches_forced_fallback(spark, monkeypatch, name):
    """Zeroing the shared driver budget sends the query down its
    distributed form (g08: distributed CC and mapping as well); rows and
    schema must be identical to the driver regime's."""
    fn = REGIME_QUERIES[name]
    driver = fn(spark, SF)
    want = sorted(tuple(r) for r in driver.collect())
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    fallback = fn(spark, SF)
    assert fallback.schema == driver.schema
    assert sorted(tuple(r) for r in fallback.collect()) == want
    assert want


def test_driver_regime_job_counts(spark):
    """Fixed cost of the driver regimes and of t13, pinned as Spark jobs
    per call on sf0.001 (the second call; the first warms the session):
    s04 3, g05 7, g08 5, t07 7, t13 5.

    Before the tables were read with declared schemas (kgx.ops.TABLES)
    every load submitted one parquet schema-inference job, and the same
    calls took s04 4, g05 12, g08 8 (one, five and three table loads
    more); t07 took 14 jobs with its blocking, verification and CC as
    distributed joins, and t13 13 with a separate corpus count, an avgdl
    aggregate and df/doclen joins. Before the driver regimes the
    distributed forms took s04 13, g05 30, g08 15: s04 pinned the
    quantized corpus, ran two Lloyd rounds as UDF passes plus
    centroid-sum aggregates and a final assignment pass, then probed and
    re-ranked under two windows; g05 ran three unrolled join+sum rounds, a
    node count and a final pin; g08 ran CC with a separate size probe,
    then the mapping aggregate, its pin and a second size probe. What is
    left is the edge build's stages, one pin per gate and one collect (t07:
    the signature pin, the reps' collect and the cluster window; t13: the
    corpus-scalar aggregate, the tf aggregate and the shared window
    exchange)."""
    queries = {**REGIME_QUERIES, "t13_bm25_topk": textops.t13_bm25_topk}
    counts = {}
    for name, fn in queries.items():
        fn(spark, SF).collect()
        _, counts[name] = _jobs(spark, lambda: fn(spark, SF).collect())
        spark.catalog.clearCache()
    assert counts == {
        "s04_ann_ivf": 3,
        "g05_nation_pagerank": 7,
        "g08_sameas_resolution": 5,
        "t07_minhash_clusters": 7,
        "t13_bm25_topk": 5,
    }


@pytest.mark.parametrize("zero_budget", [False, True])
def test_pagerank_on_no_nodes_returns_no_rows(spark, monkeypatch, zero_budget):
    """A node frame filtered to nothing gives zero ranks with pagerank's
    (node string, rank double) schema, in the driver regime and in the
    distributed fallback alike (the uniform start 1/N has no N)."""
    from pyspark.sql import functions as F

    if zero_budget:
        monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
        monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    nodes = spark.createDataFrame([("a",), ("b",)], "node string").filter(
        F.col("node") == "none"
    )
    edges = spark.createDataFrame([("a", "b", 1.0)], "src string, dst string, weight double")
    out = graph.pagerank(nodes, edges)
    assert out.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("node", "string"), ("rank", "double"),
    ]
