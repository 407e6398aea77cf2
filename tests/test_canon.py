"""Canonicalization: JVM shingle/normalize parity + LSH+CC vs golden grouping."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kgx import canon, fixtures, kernel, util


def test_normalize_and_shingles_jvm_parity(spark):
    """normalize_col is the distributed mapping's rep-rule norm, so it must
    equal kernel.normalize_surface on non-ASCII case mappings too: dotted
    capital I, the Kelvin sign, full-width letters, sharp s, a titlecase
    digraph and a final sigma."""
    surfaces = [v for o in fixtures.ORGS for v in o["variants"]] + [
        "  Weird--Name!! (X) ", "ab", "", "A.B.C. Holdings, S.A.",
        "\u0130stanbul Enerji", "\u212a Solar", "\uff21\uff23\uff2d\uff25 Corp",
        "STRASSE Stra\u00dfe \u1e9e", "\u01c4ivo Hydro", "\u039f\u0394\u039f\u03a3 \u03a3",
    ]
    df = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    got = {
        r.surface: (r.norm, list(r.sh))
        for r in df.select(
            "surface",
            canon.normalize_col(F.col("surface")).alias("norm"),
            canon.shingle_col(canon.normalize_col(F.col("surface"))).alias("sh"),
        ).collect()
    }
    for s in surfaces:
        assert got[s][0] == kernel.normalize_surface(s), s
        expected = kernel.shingles(s)
        if expected:
            assert got[s][1] == expected, s


def test_lsh_blocking_finds_variant_pairs(spark):
    surfaces = [v for o in fixtures.ORGS for v in o["variants"]]
    mentions = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    surf = mentions.select("surface", F.col("surface").alias("_text")).mapInArrow(
        canon._keyed_sig_gen("char", 3), schema=canon._KEYED_SCHEMA
    )
    edges = canon.verified_edges(canon.candidate_pairs(surf)).collect()
    edge_set = {(e.a, e.b) for e in edges}
    # every intra-org pair with exact Jaccard >= threshold must be blocked+kept
    missed = []
    for o in fixtures.ORGS:
        vs = o["variants"]
        for i in range(len(vs)):
            for j in range(i + 1, len(vs)):
                a, b = sorted((vs[i], vs[j]))
                if kernel.jaccard(kernel.shingles(a), kernel.shingles(b)) >= canon.JACCARD_THRESHOLD:
                    if (a, b) not in edge_set:
                        missed.append((a, b))
    assert not missed, missed
    # and no cross-org edges (pool names are distinct enough)
    by_org = {v: o["org_id"] for o in fixtures.ORGS for v in o["variants"]}
    cross = [(a, b) for a, b in edge_set if by_org[a] != by_org[b]]
    assert not cross, cross


def test_canonical_mapping_matches_golden(spark):
    pages = fixtures.gen_pages(200)
    gold = {e["surface"]: e["canonical"] for e in fixtures.golden_entities(pages)}
    mentions = spark.createDataFrame([(s,) for s in gold], "surface string")
    m = canon.canonical_mapping(mentions)
    got = {r.surface: r.rep for r in m.df.collect()}
    assert got == gold
    # the driver path carries the same rows driver-side
    assert dict(m.rows) == gold and len(m.rows) == m.count()


def test_canonical_mapping_distributed_matches_golden(spark, monkeypatch):
    """Force the distributed LSH path (the driver budget zeroed)."""
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    pages = fixtures.gen_pages(200)
    gold = {e["surface"]: e["canonical"] for e in fixtures.golden_entities(pages)}
    mentions = spark.createDataFrame([(s,) for s in gold], "surface string")
    m = canon.canonical_mapping(mentions)
    assert m.rows is None
    got = {r.surface: r.rep for r in m.df.collect()}
    assert got == gold


def _noisy_dictionary(seed):
    """The fixture's 12 orgs, every variant with 0-3 random character edits
    (substitute, insert or delete), next to surfaces whose normalized form
    is empty and one known (surface, rep) pair: a near-variant dictionary
    on which blocking is not trivially total."""
    import random

    rng = random.Random(seed)
    alphabet = "abcdefghijklmnopqrstuvwxyz .-"
    surfaces = set()
    for o in fixtures.ORGS:
        for v in o["variants"]:
            for _ in range(rng.randint(0, 3)):
                i = rng.randrange(len(v))
                op = rng.choice("sid")
                c = rng.choice(alphabet)
                v = v[:i] + c + v[i + 1:] if op == "s" else (
                    v[:i] + c + v[i:] if op == "i" else v[:i] + v[i + 1:])
            surfaces.add(v)
    empty_norm = ["", "---", "!!!", " . "]
    names = sorted(surfaces)
    known = [(names[0], names[1])]
    return sorted(surfaces | set(empty_norm)), empty_norm, known


def _mapping_rows(spark, monkeypatch, regime, surfaces, known):
    mentions = spark.createDataFrame([(s,) for s in surfaces], "surface string")
    known_map = canon.CanonicalMapping(
        util.local_frame(spark, known, "surface string, rep string"), known)
    names = {*surfaces, *(x for pair in known for x in pair)}
    nbytes = sum(2 * len(s.encode()) + 8 for s in names)
    with monkeypatch.context() as m:
        # the driver regime at exactly its cap, and one byte over it
        m.setattr(canon, "DEDUP_DRIVER_MAX_BYTES", nbytes - (regime == "over_cap"))
        if regime == "over_pairs":
            # the names fit the budget's rows, the bands' pairs do not
            m.setattr(util, "DRIVER_MAX_ROWS", len(names))
        elif regime == "distributed":
            m.setattr(util, "DRIVER_MAX_ROWS", 0)
            m.setattr(util, "DRIVER_MAX_BYTES", 0)
            known_map = known_map.df  # a known held only as a frame
        got = canon.canonical_mapping(mentions, known=known_map)
        assert (got.rows is None) == (regime != "driver")
        return sorted(tuple(r) for r in got.df.collect())


@pytest.mark.parametrize("seed", [3, 11])
def test_canonical_mapping_regimes_agree_on_noisy_variants(spark, monkeypatch, seed):
    """The driver regime at its cap gives the same (surface, rep) rows as
    the distributed form it falls back to: for a node set one byte over
    canon.DEDUP_DRIVER_MAX_BYTES, for band pairs over the driver budget's
    rows (the names within it), both with the known pairs on the driver,
    and over the whole driver budget (known held as a frame). Every
    surface maps, the empty-norm ones to themselves (the distributed form
    once dropped them: they got no mapping row and no snapshot row), and
    the known pair's rep stays the rep of its component."""
    surfaces, empty_norm, known = _noisy_dictionary(seed)
    regimes = ("driver", "over_cap", "over_pairs", "distributed")
    rows = {r: _mapping_rows(spark, monkeypatch, r, surfaces, known) for r in regimes}
    assert all(rows[r] == rows["driver"] for r in regimes)
    got = dict(rows["driver"])
    assert set(got) == set(surfaces) | {x for pair in known for x in pair}
    assert all(got[s] == s for s in empty_norm)
    (surface, rep), = known
    assert got[surface] == got[rep] == rep


@pytest.mark.parametrize("impl", [canon.connected_components, canon._distributed_cc])
def test_connected_components_chain(spark, impl):
    nodes = spark.createDataFrame([(s,) for s in "abcde"], "surface string")
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string"
    )
    comp = impl(nodes, edges)
    labels = {r.surface: r.component for r in comp.collect()}
    assert labels["a"] == labels["b"] == labels["c"]
    assert labels["d"] == labels["e"]
    assert labels["a"] != labels["d"]


def test_cc_byte_guard_forces_distributed_path(spark, monkeypatch):
    """Edge lists under the row cap but over the byte budget must take the
    distributed path (driver collect is gated on BOTH)."""
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    nodes = spark.createDataFrame([(s,) for s in "abcdef"], "surface string")
    edges = spark.createDataFrame([("a", "b"), ("c", "d")], "a string, b string")
    comp = canon.connected_components(nodes, edges)
    labels = {r.surface: r.component for r in comp.collect()}
    # distributed labels are 'h:'-prefixed; isolated nodes are 's:'-namespaced
    # (disjoint label spaces by construction)
    assert labels["a"] == labels["b"] and labels["a"].startswith("h:")
    assert labels["c"] == labels["d"] and labels["c"].startswith("h:")
    assert labels["e"] == "s:e" and labels["f"] == "s:f"


def test_cc_isolated_nodes_skip_the_graph(spark):
    """Nodes not touching any edge are their own component without entering
    CC (the anti-join path); grouping is complete."""
    nodes = spark.createDataFrame([(s,) for s in "abcz"], "surface string")
    edges = spark.createDataFrame([("a", "b")], "a string, b string")
    labels = {r.surface: r.component
              for r in canon.connected_components(nodes, edges).collect()}
    assert labels["a"] == labels["b"]
    assert labels["c"] == "s:c" and labels["z"] == "s:z"
    assert len(labels) == 4


@pytest.mark.parametrize("shingle_k", [3, 5])
def test_dedup_clusters_exact_and_near(spark, shingle_k):
    """Exact dups merge via the sha-prepass; near-dups via LSH+Jaccard; text
    never needs to be a join key (ids only in the output). shingle_k=5 is the
    boilerplate-resistant web setting (see dedup_clusters docstring)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base + " tomorrow"),  # near dup of 1/2
        (4, "completely different content about spark shuffles and parquet files"),
        (5, ""),  # empty docs cluster with each other only
        (6, "!!!"),  # normalizes to empty -> clusters with 5
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    comp = canon.dedup_clusters(docs, shingle_k=shingle_k, bucket_cap=100).df
    labels = {int(r.doc_id): r.component for r in comp.collect()}
    assert len(labels) == 6
    assert labels[1] == labels[2] == labels[3]
    assert labels[5] == labels[6]
    assert len({labels[1], labels[4], labels[5]}) == 3


def test_dedup_clusters_metrics_seam(spark):
    """metrics= fills blocking-stage counts WITHOUT changing the clustering:
    candidate pairs bound verified pairs, verified pairs are enough edges to
    produce the observed merges, and the labeled output is identical to the
    plain path's (the seam is diagnostics-only)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base + " tomorrow"),      # near dup of 1
        (3, base + " yesterday ok"),  # near dup of 1/2
        (4, "completely different content about spark shuffles and parquet"),
        (5, "another unrelated doc on arrow batches and window functions"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m: dict = {}
    with_m = canon.dedup_clusters(docs, bucket_cap=100, metrics=m).df
    plain = canon.dedup_clusters(docs, bucket_cap=100).df
    assert with_m.exceptAll(plain).count() == 0
    assert plain.exceptAll(with_m).count() == 0
    assert set(m) == {"n_reps", "candidate_pairs", "verified_pairs"}
    assert m["n_reps"] == 5
    assert m["candidate_pairs"] >= m["verified_pairs"] >= 1
    labels = {int(r.doc_id): r.component for r in with_m.collect()}
    n_components = len(set(labels.values()))
    # a clustering with C components over R reps needs >= R - C edges
    assert m["verified_pairs"] >= m["n_reps"] - n_components


def test_dedup_metrics_same_in_driver_and_distributed_regimes(spark, monkeypatch):
    """The driver regime counts n_reps, distinct gated candidate pairs and
    verified pairs as it makes them; the counts equal the distributed
    form's re-executed ones on the sf0.01 corpus (t07's settings), so the
    verify yield reads the same in either regime."""
    from test_graph import SF  # the sf0.001 driver tables; sf0.01 beside it

    from kgx import util

    docs = spark.read.parquet(f"{os.path.dirname(SF)}/sf0.01/documents.parquet")
    kw = dict(id_col="doc_id", text_col="text", shingle="token", bucket_cap=1000,
              n_bands=32)
    driver: dict = {}
    canon.dedup_clusters(docs, metrics=driver, **kw)
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    distributed: dict = {}
    canon.dedup_clusters(docs, metrics=distributed, **kw)
    assert driver == distributed
    assert driver["candidate_pairs"] >= driver["verified_pairs"] > 0


def test_distributed_cc_long_chain_converges(spark, monkeypatch):
    """Diameter-60 chain forced down the distributed path: star contraction
    must merge it into ONE component well inside the round budget — the exact
    shape (serially-mutated boilerplate A≈B≈C≈…) that silently split under
    the old min-label propagation once diameter exceeded max_iter."""
    n = 61
    nodes = spark.createDataFrame([(f"c{i:03d}",) for i in range(n)], "surface string")
    chain = [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(n - 1)]
    edges = spark.createDataFrame(chain, "a string, b string")
    labels = {r.surface: r.component for r in canon._distributed_cc(nodes, edges).collect()}
    assert len(set(labels.values())) == 1
    # and through the public entry point with the driver path disabled
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    labels2 = {
        r.surface: r.component
        for r in canon.connected_components(nodes, edges).collect()
    }
    assert len(set(labels2.values())) == 1
    assert all(c.startswith("h:") for c in labels2.values())


def test_distributed_cc_nonconvergence_raises(spark):
    """An exhausted round budget must raise, never return split components."""
    nodes = spark.createDataFrame([("a",), ("b",), ("c",)], "surface string")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "a string, b string")
    with pytest.raises(RuntimeError, match="did not converge"):
        canon._distributed_cc(nodes, edges, max_iter=0)


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_driver_and_distributed_cc_agree(spark, seed):
    import random

    rng = random.Random(seed)
    nodes = [(f"n{i:03d}",) for i in range(120)]
    edges = [(f"n{rng.randrange(120):03d}", f"n{rng.randrange(120):03d}")
             for _ in range(80)]
    ndf = spark.createDataFrame(nodes, "surface string")
    edf = spark.createDataFrame(edges, "a string, b string").filter("a <> b")
    g1 = canon.connected_components(ndf, edf).collect()  # driver regime
    g2 = canon._distributed_cc(ndf, edf).collect()

    def grouping(rows):
        by_comp = {}
        for r in rows:
            by_comp.setdefault(r.component, set()).add(r.surface)
        return {frozenset(v) for v in by_comp.values()}

    assert grouping(g1) == grouping(g2)


def test_token_shingles_jvm_parity(spark):
    """token_shingle_col is the JVM reference expression for the token-gram
    mode the numpy signature path implements (_py_grams_of_norm): pin the
    two against each other, including the <k-token whole-string fallback
    and the empty string."""
    texts = [
        "alpha beta gamma delta epsilon",
        "two words",
        "one",
        "",
        "  Spaced   Out  tokens, here! ",
    ]
    df = spark.createDataFrame([(s,) for s in texts], "t string")
    got = {
        r.t: list(r.sh)
        for r in df.select(
            "t",
            canon.token_shingle_col(canon.normalize_col(F.col("t"))).alias("sh"),
        ).collect()
    }
    for s in texts:
        norm = kernel.normalize_surface(s)
        py = canon._py_grams_of_norm(norm, "token")
        expected = py if len(norm.split()) < 3 else sorted(set(py))
        assert got[s] == expected, (s, got[s], expected)


def test_verified_edges_distinct_despite_multiband_candidates(spark):
    """Round 7: candidate_pairs no longer dedups its stream (a pair repeats
    once per colliding band); verified_edges must emit each surviving edge
    exactly once, since CC collects / shuffles that set."""
    from pyspark.sql import functions as F

    # two identical-ish docs collide in every band -> max pair multiplicity
    docs = spark.createDataFrame(
        [("a", "x y z w v u t s"), ("b", "x y z w v u t s r")],
        "doc_id string, text string",
    )
    keyed = docs.select(
        F.col("doc_id").alias("surface"), F.col("text").alias("_text")
    )
    surf = keyed.mapInArrow(
        canon._keyed_sig_gen("token", 3), schema=canon._KEYED_SCHEMA
    ).localCheckpoint()
    reps = surf.select("surface", "sh_hash", "sig")
    cand = canon.candidate_pairs(reps, est_gate=0.15)
    n_cand = cand.select("a", "b").count()
    assert n_cand > 1, "the pair should collide in several bands"
    edges = canon.verified_edges(cand, threshold=0.4).collect()
    assert [(r.a, r.b) for r in edges] == [("a", "b")]


def test_dedup_driver_budget_falls_back_to_shuffle(spark, monkeypatch):
    """The driver budget (checked against the signature job's accumulators)
    must route an oversized payload to the shuffled blocking and
    verification joins and produce identical clusters. Zeroing the row
    budget alone (a payload over it in rows but not in bytes) is enough;
    it sends the CC to its distributed form as well, whose labels differ,
    so the clusters are compared as groups of ids."""
    from kgx import util

    def groups():
        comps: dict = {}
        for r in canon.dedup_clusters(docs).df.collect():
            comps.setdefault(r.component, set()).add(int(r.doc_id))
        return {frozenset(g) for g in comps.values()}

    rows = [(i, f"doc number {i} says alpha beta gamma delta {i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    on_driver = groups()
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    assert groups() == on_driver
    assert len(on_driver) < 12
