"""KG-query operators (kgx.ops.graph): hand-computed semantics pins.

Oracle parity (value hashes vs DuckDB at sf0.001/sf0.01) is covered by the
driver contract / tools/check_oracle.py; these tests pin the graph semantics
on graphs small enough to verify by hand or against numpy.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kgx.ops import graph

SF = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a string, b string")


def test_triangles_k4(spark):
    """K4 has 4 triangles; every node participates in exactly 3."""
    nodes = ["w", "x", "y", "z"]
    k4 = [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
    out = {r.node: r.tri_cnt for r in graph.count_triangles(_edges(spark, k4)).collect()}
    assert out == {n: 3 for n in nodes}


def test_triangles_path_graph_empty(spark):
    out = graph.count_triangles(_edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]))
    assert out.count() == 0


def test_triangles_hub_with_one_closure(spark):
    """A star (hub h, leaves l1..l4) plus one leaf-leaf edge: exactly one
    triangle (h, l1, l2) — the degree orientation must not lose or double it."""
    star = [("h", f"l{i}") for i in range(1, 5)] + [("l1", "l2")]
    out = {r.node: r.tri_cnt for r in graph.count_triangles(_edges(spark, star)).collect()}
    assert out == {"h": 1, "l1": 1, "l2": 1}


def test_pagerank_cycle_uniform(spark):
    """On a directed 3-cycle the uniform distribution is stationary: every
    iterate stays exactly 1/3."""
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "node string")
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src string, dst string, weight double",
    )
    out = {r.node: r.rank for r in graph.pagerank(nodes, edges, iters=4).collect()}
    assert out == {"a": round(1 / 3, 6), "b": round(1 / 3, 6), "c": round(1 / 3, 6)}


def test_pagerank_matches_numpy(spark):
    """Weighted digraph with a dangling node, checked against a literal numpy
    transcription of the same recurrence (dangling mass dropped)."""
    import numpy as np

    names = ["a", "b", "c", "d"]  # d is dangling
    w = np.zeros((4, 4))
    w[0, 1], w[0, 2], w[1, 2], w[2, 3], w[2, 0] = 3.0, 1.0, 2.0, 5.0, 1.0
    r = np.full(4, 0.25)
    for _ in range(graph.PR_ITERS):
        outw = w.sum(axis=1)
        share = np.divide(w, outw[:, None], out=np.zeros_like(w), where=outw[:, None] > 0)
        r = (1 - graph.PR_DAMPING) / 4 + graph.PR_DAMPING * (share.T @ r)
    nodes = spark.createDataFrame([(n,) for n in names], "node string")
    edges = spark.createDataFrame(
        [(names[i], names[j], float(w[i, j]))
         for i in range(4) for j in range(4) if w[i, j]],
        "src string, dst string, weight double",
    )
    got = {row.node: row.rank for row in graph.pagerank(nodes, edges).collect()}
    assert got == {n: round(float(r[i]), 6) for i, n in enumerate(names)}


def test_pagerank_mass_conserved_without_dangling(spark):
    """No dangling nodes -> ranks sum to exactly 1 (up to rounding)."""
    out = graph.g05_nation_pagerank(spark, SF)
    total = out.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-4


def test_two_hop_matches_direct_join(spark):
    """The triple-table traversal equals the same chain computed straight from
    the base tables."""
    got = {
        (r.supplier, r.customer)
        for r in graph.g02_two_hop_neighbors(spark, SF).collect()
    }
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    want = {
        (f"s:{r.l_suppkey}", f"c:{r.o_custkey}")
        for r in li.filter(F.col("l_suppkey").between(1, graph.N_SEED_SUPPLIERS))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
        .collect()
    }
    assert got == want


def test_degree_totals(spark):
    """sum(out) == sum(in) == |triples|; no node appears twice."""
    t_cnt = graph.kg_triples(spark, SF).count()
    deg = graph.g03_node_degree(spark, SF)
    row = deg.agg(
        F.sum("out_deg").alias("o"), F.sum("in_deg").alias("i"),
        F.count("*").alias("n"), F.count_distinct("node").alias("d"),
    ).first()
    assert row.o == t_cnt and row.i == t_cnt
    assert row.n == row.d


def test_ntriples_escaping(spark):
    df = spark.createDataFrame([('say "hi" \\ bye',)], "s_name string")
    out = df.select(graph.escape_literal("s_name").alias("e")).first().e
    assert out == 'say \\"hi\\" \\\\ bye'


def test_ntriples_export_shape(spark):
    lines = graph.g06_ntriples_export(spark, SF)
    bad = lines.filter(~F.col("line").rlike(r"^<urn:kgx:[^>]+> <urn:kgx:pred:[^>]+> .* \.$"))
    assert bad.count() == 0


@pytest.mark.parametrize("name", sorted(graph.QUERIES))
def test_graph_queries_return_rows(spark, name):
    fn, sql = graph.QUERIES[name]
    assert sql is not None
    assert fn(spark, SF).count() > 0


def test_bfs_path_graph_depths(spark):
    """Directed path a->b->c->d->e, seed a, max_depth 3: e is unreached."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.depth for r in graph.bfs_depths(edges, seeds, 3).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_min_depth_on_cycle(spark):
    """Undirected 4-cycle from one seed: the far node is at depth 2 via
    either arc — the visited anti-join must keep the MIN depth, and revisits
    must not re-emit nodes."""
    und = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.depth for r in graph.bfs_depths(edges, seeds, 3).collect()}
    assert out == {"a": 0, "b": 1, "d": 1, "c": 2}


def test_bfs_multi_seed(spark):
    """Two seeds: depth is distance to the NEAREST seed."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("z", "c")], "src string, dst string"
    )
    seeds = spark.createDataFrame([("a",), ("z",)], "node string")
    out = {r.node: r.depth for r in graph.bfs_depths(edges, seeds, 3).collect()}
    assert out == {"a": 0, "z": 0, "b": 1, "c": 1}


def test_graph_ops_compose_with_pipeline_triples(spark, tmp_path):
    """The KG-query surface works over the ENGINE'S own triples, not just the
    oracle tables: build the KG with kgx.pipeline, run degree + BFS over it,
    and export it through the N-Triples sink losslessly."""
    import pandas as pd

    from kgx import fixtures, pipeline, sources

    pages = spark.createDataFrame(pd.DataFrame(fixtures.gen_pages(30)))
    triples = pipeline.build_triples(spark, pages).cache()
    t_cnt = triples.count()
    assert t_cnt > 0

    edges = triples.select(
        F.col("subj").alias("src"),
        F.concat(F.col("pred"), F.lit("="), F.col("obj")).alias("dst"),
    )
    # degree over the engine KG: every subject's out-degree sums to |triples|
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("out_deg"))
    )
    assert deg.agg(F.sum("out_deg")).first()[0] == t_cnt

    # BFS from one real subject reaches exactly its own facts at depth 1
    seed = triples.select("subj").orderBy("subj").first().subj
    seeds = spark.createDataFrame([(seed,)], "node string")
    out = graph.bfs_depths(edges, seeds, 1)
    d1 = {r.node for r in out.filter(F.col("depth") == 1).collect()}
    want = {
        f"{r.pred}={r.obj}"
        for r in triples.filter(F.col("subj") == seed).collect()
    }
    assert d1 == want and want

    # and the KG exports/reimports through the N-Triples sink byte-exactly
    p = str(tmp_path / "kg_nt")
    sources.write_triples_ntriples(triples, p)
    back = sources.read_triples_ntriples(spark, p)
    assert {tuple(r) for r in back.collect()} == {
        tuple(r) for r in triples.select("subj", "pred", "obj").collect()
    }
    triples.unpersist()


def test_resolve_sameas_chain_merge(spark):
    """A 3-node sameAs chain (x1—x2—x3) must land every mention on ONE
    canonical id (the min surface), drop nothing but duplicates, and leave
    unrelated nodes untouched."""
    triples = spark.createDataFrame(
        [
            ("x2", "likes", "y"),   # alias form 2
            ("x3", "likes", "y"),   # alias form 3 -> duplicate after rewrite
            ("x1", "knows", "z"),   # alias form 1
            ("q", "likes", "x3"),   # alias in OBJECT position
        ],
        "subj string, pred string, obj string",
    )
    edges = _edges(spark, [("x1", "x2"), ("x2", "x3")])
    out = {tuple(r) for r in graph.resolve_sameas(triples, edges).collect()}
    assert out == {
        ("x1", "likes", "y"),
        ("x1", "knows", "z"),
        ("q", "likes", "x1"),
    }


def test_resolve_sameas_no_edges_identity(spark):
    """With no sameAs assertions the rewrite is the identity (modulo distinct)."""
    triples = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "b")],
        "subj string, pred string, obj string",
    )
    empty = spark.createDataFrame([], "a string, b string")
    out = {tuple(r) for r in graph.resolve_sameas(triples, empty).collect()}
    assert out == {("a", "p", "b"), ("b", "p", "c")}


def test_transitive_closure_two_chains(spark):
    """a->b->c->d plus an unrelated e->f: all 6 ancestor pairs on the chain,
    exactly 1 on the islet, nothing across."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")], "src string, dst string"
    )
    out = {tuple(r) for r in graph.transitive_closure(edges).collect()}
    assert out == {
        ("a", "b"), ("a", "c"), ("a", "d"),
        ("b", "c"), ("b", "d"), ("c", "d"), ("e", "f"),
    }


def test_transitive_closure_dag_diamond(spark):
    """Diamond a->{b,c}->d: (a,d) appears once (closure is a SET of pairs,
    not a bag of paths)."""
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")], "src string, dst string"
    )
    rows = graph.transitive_closure(edges).collect()
    assert len(rows) == len({tuple(r) for r in rows}) == 5


def test_transitive_closure_cycle_terminates_with_self_pairs(spark):
    """A 2-cycle's reachability set is finite — the anti-join must reach a
    fixpoint (including the (x, x) self-pairs a cycle induces), not loop."""
    out = {
        tuple(r)
        for r in graph.transitive_closure(
            spark.createDataFrame([("a", "b"), ("b", "a")], "src string, dst string"),
            max_iter=5,
        ).collect()
    }
    assert out == {("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")}


def test_transitive_closure_depth_budget_raises(spark):
    """A chain deeper than max_iter must raise, not silently truncate."""
    chain = [(f"v{i}", f"v{i+1}") for i in range(6)]
    with pytest.raises(RuntimeError, match="fixpoint"):
        graph.transitive_closure(
            spark.createDataFrame(chain, "src string, dst string"), max_iter=2
        )


def test_entity_docs_sorted_deterministic(spark):
    """g10's per-entity doc lists properties in sorted order regardless of
    input row order (the serving artifact must be byte-stable)."""
    df = graph.g10_entity_docs(spark, SF)
    row = df.orderBy("subj").first()
    parts = row.doc.split("|")
    assert parts == sorted(parts) and row.n_props == len(parts)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_resolve_sameas_matches_python_union_find(spark, seed):
    """Random alias graphs: the Spark rewrite must agree with a pure-Python
    union-find + dict-rewrite reference on every (subj, pred, obj)."""
    import random

    rng = random.Random(seed)
    nodes = [f"n{i}" for i in range(14)]
    triples = [
        (rng.choice(nodes), rng.choice("pq"), rng.choice(nodes)) for _ in range(25)
    ]
    edges = [tuple(rng.sample(nodes, 2)) for _ in range(7)]

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    members: dict[str, list[str]] = {}
    for n in nodes:
        members.setdefault(find(n), []).append(n)
    canon = {n: min(members[find(n)]) for n in nodes}
    want = {(canon[s], p, canon[o]) for s, p, o in triples}

    got = graph.resolve_sameas(
        spark.createDataFrame(triples, "subj string, pred string, obj string"),
        _edges(spark, edges),
    )
    assert {tuple(r) for r in got.collect()} == want


@pytest.mark.parametrize("seed", [3, 4, 5])
def test_transitive_closure_matches_python_reachability(spark, seed):
    """Random sparse digraphs (cycles allowed): closure must equal the
    brute-force >=1-edge reachability set."""
    import random

    rng = random.Random(seed)
    nodes = [f"v{i}" for i in range(10)]
    edges = {tuple(rng.sample(nodes, 2)) for _ in range(12)}

    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = set()
    for start in nodes:
        seen, stack = set(), list(adj.get(start, ()))
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            stack.extend(adj.get(x, ()))
        want |= {(start, x) for x in seen}

    got = graph.transitive_closure(
        spark.createDataFrame(sorted(edges), "src string, dst string")
    )
    assert {tuple(r) for r in got.collect()} == want


def _kg(spark, rows):
    return spark.createDataFrame(rows, "subj string, pred string, obj string")


def test_bgp_chain_binding(spark):
    t = _kg(spark, [
        ("a", "knows", "b"), ("b", "knows", "c"),
        ("a", "likes", "x"), ("c", "knows", "a"),
    ])
    out = graph.match_bgp(t, [("?u", "knows", "?v"), ("?v", "knows", "?w")])
    assert {tuple(r) for r in out.collect()} == {
        ("a", "b", "c"), ("b", "c", "a"), ("c", "a", "b"),
    }
    assert out.columns == ["u", "v", "w"]


def test_bgp_literal_constraints_and_star(spark):
    """Star pattern: two constraints on the same subject variable intersect."""
    t = _kg(spark, [
        ("p1", "type", "person"), ("p1", "lives_in", "rome"),
        ("p2", "type", "person"), ("p2", "lives_in", "oslo"),
        ("d1", "type", "dog"), ("d1", "lives_in", "rome"),
    ])
    out = graph.match_bgp(
        t, [("?p", "type", "person"), ("?p", "lives_in", "rome")]
    )
    assert [tuple(r) for r in out.collect()] == [("p1",)]


def test_bgp_repeated_var_within_pattern(spark):
    """(?x, p, ?x) matches only self-loops."""
    t = _kg(spark, [("a", "p", "a"), ("a", "p", "b"), ("c", "p", "c")])
    out = graph.match_bgp(t, [("?x", "p", "?x")])
    assert {r.x for r in out.collect()} == {"a", "c"}


def test_bgp_variable_predicate(spark):
    t = _kg(spark, [("a", "p", "b"), ("a", "q", "b"), ("a", "p", "c")])
    out = graph.match_bgp(t, [("a", "?rel", "b")])
    assert {r.rel for r in out.collect()} == {"p", "q"}


def test_bgp_disconnected_pattern_raises(spark):
    t = _kg(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="cartesian"):
        graph.match_bgp(t, [("?x", "p", "?y"), ("?u", "p", "?v")])


def test_bgp_no_variable_pattern_raises(spark):
    t = _kg(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="binds no variable"):
        graph.match_bgp(t, [("a", "p", "b")])


def test_bgp_question_prefixed_literal_constrains(spark):
    """A term starting with '?' that is NOT '?'+identifier (URL-ish values,
    bare '?') is a literal constraint, never a silently-bound variable."""
    t = _kg(spark, [
        ("a", "links_to", "?page=1"), ("b", "links_to", "other"),
        ("c", "links_to", "?"),
    ])
    out = graph.match_bgp(t, [("?d", "links_to", "?page=1")])
    assert [tuple(r) for r in out.collect()] == [("a",)]
    out2 = graph.match_bgp(t, [("?d", "links_to", "?")])
    assert [tuple(r) for r in out2.collect()] == [("c",)]


def test_bgp_empty_pattern_raises(spark):
    t = _kg(spark, [("a", "p", "b")])
    with pytest.raises(ValueError, match="empty"):
        graph.match_bgp(t, [])


def test_resolve_sameas_distributed_cc_path_identical(spark, monkeypatch):
    """Force the large-star/small-star CC path (the 100 TB regime) by zeroing
    the driver-CC budget: the resolution must be identical to the fast path
    — component labels differ between strategies, but the canonical rewrite
    depends only on grouping + min(surface)."""
    from kgx import canon

    triples = spark.createDataFrame(
        [("x2", "likes", "y"), ("x3", "likes", "y"), ("q", "likes", "x3")],
        "subj string, pred string, obj string",
    )
    edges = _edges(spark, [("x1", "x2"), ("x2", "x3")])
    want = {tuple(r) for r in graph.resolve_sameas(triples, edges).collect()}
    monkeypatch.setattr(canon, "DRIVER_CC_MAX_EDGES", 0)
    got = {tuple(r) for r in graph.resolve_sameas(triples, edges).collect()}
    assert got == want == {("x1", "likes", "y"), ("q", "likes", "x1")}


def test_incremental_degree_matches_batch(spark):
    """Folding per-epoch degree deltas must equal the one-shot g03-style
    degree over the concatenated triples — the algebraic view-maintenance
    contract (no O(store) recompute per epoch)."""
    epochs = [
        [("a", "p", "b"), ("b", "p", "c")],
        [("a", "p", "c"), ("c", "q", "a")],
        [("d", "p", "a")],
    ]
    view = None
    for rows in epochs:
        view = graph.merge_degree_view(view, graph.degree_delta(_kg(spark, rows)))
    full = graph.merge_degree_view(
        None, graph.degree_delta(_kg(spark, [r for e in epochs for r in e]))
    )
    assert {tuple(r) for r in view.collect()} == {tuple(r) for r in full.collect()}


def test_degree_view_fold_pins_lineage(spark):
    """Each fold localCheckpoints the merged frame, so evaluating the view
    after N epochs executes ONE union+agg over the pinned previous view —
    not N nested unions re-deriving every prior delta (the O(store)
    recompute the view exists to avoid)."""
    view = None
    for i in range(5):
        rows = [(f"n{i}", "p", f"n{i+1}")]
        view = graph.merge_degree_view(view, graph.degree_delta(_kg(spark, rows)))
    plan = view._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Union") <= 1, plan[:2000]
    assert "ExistingRDD" in plan  # prev side reads the pinned checkpoint
    # pin=False keeps full lineage (caller persists the merge itself)
    unpinned = None
    for i in range(3):
        rows = [(f"n{i}", "p", f"n{i+1}")]
        unpinned = graph.merge_degree_view(
            unpinned, graph.degree_delta(_kg(spark, rows)), pin=False
        )
    lazy_plan = unpinned._jdf.queryExecution().analyzed().toString()
    assert lazy_plan.count("Union") == 2


def test_incremental_degree_over_store_units(spark, tmp_path):
    """The same maintenance works over the engine's own TripleStore: one
    delta per committed unit, merged view equals the degree of the full
    store read."""
    import pandas as pd

    from kgx import fixtures, pipeline
    from kgx.checkpoint import TripleStore

    store = TripleStore(str(tmp_path / "deg_store"), n_buckets=2)
    view = None
    for lo, hi, bucket in ((0, 15, 0), (15, 30, 1)):
        pages = spark.createDataFrame(pd.DataFrame(fixtures.gen_pages(30)[lo:hi]))
        unit = pipeline.build_triples(spark, pages).localCheckpoint()
        store.commit(unit, buckets=[bucket])
        view = graph.merge_degree_view(view, graph.degree_delta(unit))
    full = graph.merge_degree_view(
        None, graph.degree_delta(store.read(spark).select("subj", "pred", "obj"))
    )
    assert {tuple(r) for r in view.collect()} == {tuple(r) for r in full.collect()}
