"""Small relations on the driver: local_frame, and the driver regimes of g05,
s04 and g08 against their distributed fallbacks."""

from __future__ import annotations

import pytest

from test_graph import SF  # the sf0.001 driver tables test_graph reads

from kgx import util
from kgx.ops import graph, simsearch

REGIME_QUERIES = {
    "g05_nation_pagerank": graph.g05_nation_pagerank,
    "s04_ann_ivf": simsearch.s04_ann_ivf,
    "g08_sameas_resolution": graph.g08_sameas_resolution,
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
    _, rows = util.driver_rows(df, F.octet_length("a"), max_bytes=4)
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
    """Fixed cost of the three driver regimes, pinned as Spark jobs per call
    on sf0.001 (the second call; the first warms the session): s04 4, g05
    12, g08 8. The distributed forms they replace submitted 13, 30 and 15
    jobs for the same calls: s04 pinned the quantized corpus, ran two
    Lloyd rounds as UDF passes plus centroid-sum aggregates and a final
    assignment pass, then probed and re-ranked under two windows; g05 ran
    three unrolled join+sum rounds, a node count and a final pin; g08 ran
    CC with a separate size probe, then the mapping aggregate, its pin and
    a second size probe. What is left is one parquet schema job per table
    load, the edge build's stages, one pin per gate and one collect."""
    counts = {}
    for name, fn in REGIME_QUERIES.items():
        fn(spark, SF).collect()
        _, counts[name] = _jobs(spark, lambda: fn(spark, SF).collect())
        spark.catalog.clearCache()
    assert counts == {
        "s04_ann_ivf": 4,
        "g05_nation_pagerank": 12,
        "g08_sameas_resolution": 8,
    }
