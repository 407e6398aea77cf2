"""Small relations on the driver: local_frame, and the driver regimes of g05,
s03, s04, g08 and t07 against their distributed fallbacks."""

from __future__ import annotations

import pytest

from test_graph import SF  # the sf0.001 driver tables test_graph reads

from kgx import util
from kgx.ops import graph, simsearch, textops

REGIME_QUERIES = {
    "g05_nation_pagerank": graph.g05_nation_pagerank,
    "s03_ann_lsh": simsearch.s03_ann_lsh,
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
    comp = canon.dedup_clusters(docs).df.collect()
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
    s03 2, s04 3, g05 7, g08 5, t07 2, t13 5.

    t07 took 5 jobs while its signatures ran as a mapInArrow pass over the
    executors (the spread exchange, the signature pin and its collect, and
    t07's own two-stage cluster window over the driver labels); it now
    signs a corpus within canon.DEDUP_DRIVER_MAX_BYTES on the driver from
    one collect of (id, text), after one bounded size probe, and computes
    its cluster window from the driver rows. It took 7 while its exact
    duplicates were an h-window over the signature rows and its members a
    join to the driver labels. s03 took 6 as band joins, a query collect
    and a re-rank window, against 2 now (the pin and its collect). Before
    the tables were read with declared schemas (kgx.ops.TABLES) every load
    submitted one parquet schema-inference job, and the same calls took
    s04 4, g05 12, g08 8 (one, five and three table loads more); t07 took
    14 jobs with its blocking, verification and CC as distributed joins,
    and t13 13 with a separate corpus count, an avgdl aggregate and
    df/doclen joins. Before the driver regimes the distributed forms took
    s04 13, g05 30, g08 15: s04 pinned the quantized corpus, ran two Lloyd
    rounds as UDF passes plus centroid-sum aggregates and a final
    assignment pass, then probed and re-ranked under two windows; g05 ran
    three unrolled join+sum rounds, a node count and a final pin; g08 ran
    CC with a separate size probe, then the mapping aggregate, its pin and
    a second size probe. What is left is the edge build's stages, one pin
    per gate and one collect (t07: the size probe and the collect; t13:
    the corpus-scalar aggregate, the tf aggregate and the shared window
    exchange)."""
    queries = {**REGIME_QUERIES, "t13_bm25_topk": textops.t13_bm25_topk}
    counts = {}
    for name, fn in queries.items():
        fn(spark, SF).collect()
        _, counts[name] = _jobs(spark, lambda: fn(spark, SF).collect())
        spark.catalog.clearCache()
    assert counts == {
        "s03_ann_lsh": 2,
        "s04_ann_ivf": 3,
        "g05_nation_pagerank": 7,
        "g08_sameas_resolution": 5,
        "t07_minhash_clusters": 2,
        "t13_bm25_topk": 5,
    }


def _dedup_corpus(spark):
    """Exact-duplicate groups, a near-duplicate, an id repeated with the
    same text and with a second text, and docs with no grams (empty,
    punctuation-only and null text)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark shuffles and parquet files"
    rows = [
        ("1", base), ("2", base), ("3", base),
        ("4", other), ("5", other),
        ("6", base + " tomorrow"),
        ("7", "a lone document on arrow batches"),
        ("7", "a lone document on arrow batches"),
        ("8", "windows and watermarks in structured streaming"),
        ("8", other + " again"),
        ("9", ""), ("10", "!!!"), ("11", None),
        ("12", "yet another unrelated text about hash joins"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _groups(rows):
    out: dict = {}
    for doc, comp in rows:
        out.setdefault(comp, set()).add(doc)
    return sorted(map(sorted, out.values()))


def test_dedup_clusters_driver_rows_match_forced_fallback(spark, monkeypatch):
    """dedup_clusters' driver regime gives the distributed form's rows,
    label for label, on a corpus with the shapes its exact-duplicate step
    must resolve the same way. A row cap under the corpus's 14 signature
    rows but over its 3 verified edges forces the distributed form and
    leaves connected_components on its driver union-find, whose labels
    are the driver regime's; with the budget zeroed the distributed CC
    labels differ ('h:' hashes) but the groups are the same."""
    from kgx import canon

    docs = _dedup_corpus(spark)
    driver = sorted(tuple(r) for r in canon.dedup_clusters(docs).df.collect())
    assert len(driver) == 14
    assert _groups(driver) == sorted(
        [["1", "2", "3", "6"], ["4", "5", "8"], ["7"], ["10", "11", "9"], ["12"]]
    )
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 10)
    members = canon.dedup_clusters(docs).df
    assert "Join" in members._jdf.queryExecution().executedPlan().toString()
    assert sorted(tuple(r) for r in members.collect()) == driver
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    fallback = sorted(tuple(r) for r in canon.dedup_clusters(docs).df.collect())
    assert [d for d, _ in fallback] == [d for d, _ in driver]
    assert _groups(fallback) == _groups(driver)


def test_dedup_clusters_driver_regime_is_a_local_scan(spark):
    """Within the budget dedup_clusters returns its labels as a local
    frame: the output plans as a LocalTableScan and collects with no job."""
    from kgx import canon

    out = canon.dedup_clusters(_dedup_corpus(spark)).df
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    rows, jobs = _jobs(spark, out.collect)
    assert len(rows) == 14
    assert jobs == 0


def test_dedup_clusters_three_regimes_same_rows(spark, monkeypatch):
    """The corpus through dedup_clusters' three regimes: driver
    signatures, executor signatures with the driver clustering
    (canon.DEDUP_DRIVER_MAX_BYTES zeroed) and the distributed form (the
    shared budget zeroed). Both driver regimes return the same rows, label
    for label, as a frame and as driver rows; the distributed CC labels
    differ ('h:' hashes), so there the id groups are compared."""
    from kgx import canon

    docs = _dedup_corpus(spark)
    signed = canon.dedup_clusters(docs)
    want = sorted(signed.rows, key=str)
    assert sorted(tuple(r) for r in signed.df.collect()) == sorted(want)
    assert len(want) == 14
    monkeypatch.setattr(canon, "DEDUP_DRIVER_MAX_BYTES", 0)
    pinned = canon.dedup_clusters(docs)
    assert sorted(pinned.rows, key=str) == want
    assert sorted(tuple(r) for r in pinned.df.collect()) == sorted(want)
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    distributed = canon.dedup_clusters(docs)
    assert distributed.rows is None
    got = sorted(tuple(r) for r in distributed.df.collect())
    assert [d for d, _ in got] == [d for d, _ in sorted(want)]
    assert _groups(got) == _groups(want)


def test_dedup_clusters_over_cap_pins_and_collects_no_text(spark, monkeypatch):
    """Over canon.DEDUP_DRIVER_MAX_BYTES the corpus text is neither pinned
    nor collected: the size probe brings only row sizes to the driver, and
    the signature pin holds ids and hashes. Within the cap the one frame
    holding the text that reaches the driver is the (id, text) collect."""
    from kgx import canon

    docs = _dedup_corpus(spark)
    cls = type(docs)
    seen: list = []

    def record(name):
        orig = getattr(cls, name)

        def wrapper(self, *args, **kwargs):
            seen.append((name, tuple(self.columns)))
            return orig(self, *args, **kwargs)

        monkeypatch.setattr(cls, name, wrapper)

    for name in ("localCheckpoint", "checkpoint", "persist", "cache", "collect",
                 "toArrow", "toPandas", "toLocalIterator", "take", "head", "first"):
        record(name)
    holds_text = lambda: [s for s in seen if "_text" in s[1] or "text" in s[1]]  # noqa: E731
    canon.dedup_clusters(docs)
    assert holds_text() == [("toArrow", ("surface", "_text"))]
    seen.clear()
    monkeypatch.setattr(canon, "DEDUP_DRIVER_MAX_BYTES", 0)
    out = canon.dedup_clusters(docs)
    assert out.rows is not None
    assert ("toArrow", ("nb",)) in seen
    assert ("localCheckpoint", ("surface", "h", "sh_hash", "sig")) in seen
    assert holds_text() == []


def _python_plans(spark, lo, hi):
    """(jobs in the id window [lo, hi) that no SQL execution ran, physical
    plans of the SQL executions that ran the others and name a Python
    operator)."""
    store = spark._jsparkSession.sharedState().statusStore()
    jobs, python = set(range(lo, hi)), []
    # the window's executions are among the latest
    execs = store.executionsList(max(0, store.executionsCount() - 100), 100)
    for i in range(execs.size()):
        ex = execs.apply(i)
        ids = {int(j) for j in ex.jobs().keys().mkString(",").split(",") if j}
        if not ids & jobs:
            continue
        jobs -= ids
        plan = ex.physicalPlanDescription()
        if any(op in plan for op in ("Python", "InArrow", "InPandas")):
            python.append(plan)
    return sorted(jobs), python


def test_t07_within_cap_runs_no_python_task(spark, monkeypatch):
    """A warm t07 call within canon.DEDUP_DRIVER_MAX_BYTES signs the
    corpus on the driver: every job it submits belongs to a SQL execution
    whose physical plan holds no Python operator (mapInArrow, Arrow or
    pandas UDFs), so no Python worker task runs. The executor signature
    pass does show up as one."""
    from kgx import canon

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    listener = spark.sparkContext._jsc.sc().listenerBus()

    def window(fn):
        lo = dag.nextJobId()
        fn()
        listener.waitUntilEmpty()
        return _python_plans(spark, lo, dag.nextJobId())

    run = lambda: textops.t07_minhash_clusters(spark, SF).collect()  # noqa: E731
    run()
    assert window(run) == ([], [])
    monkeypatch.setattr(canon, "DEDUP_DRIVER_MAX_BYTES", 0)
    stray, python = window(run)
    assert stray == [] and len(python) == 1 and "MapInArrow" in python[0]


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
