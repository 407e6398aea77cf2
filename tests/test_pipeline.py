"""Spark pipeline vs the golden single-process reference-semantics extractor.

The P/R >= 0.95 gate of BASELINE.json:north_rule, plus the per-row
byte-identical text invariant and the schema constraint checks.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgx import extract, fixtures, kernel, pipeline, sections, textextract, util

N_PAGES = 200


@pytest.fixture(scope="module")
def pages_rows():
    return fixtures.gen_pages(N_PAGES)


@pytest.fixture(scope="module")
def pages_df(spark, pages_rows):
    return spark.createDataFrame(pd.DataFrame(pages_rows)).cache()


@pytest.fixture(scope="module")
def kernel_df(spark, pages_df):
    return textextract.kernel_pass(pages_df).cache()


def test_extracted_text_byte_identical_per_url(spark, pages_df, pages_rows):
    got = {r.url: r.text for r in textextract.extracted_text(pages_df).collect()}
    for p in pages_rows:
        assert got[p["url"]] == p["text"], p["url"]


def test_lead_window_spans_match_kernel(spark, pages_rows, kernel_df):
    spans = sections.section_spans(textextract.heading_rows(kernel_df))
    got = {
        (r.url, r.start_off): (r.end_off, r.body_off)
        for r in spans.collect()
    }
    n = 0
    for p in pages_rows:
        for s in kernel.sections_from_text(p["text"]):
            assert got[(p["url"], s["start_off"])] == (s["end_off"], s["body_off"])
            n += 1
    assert n == len(got) > 0


def test_contexts_match_golden(spark, pages_rows, kernel_df):
    ctx = sections.build_contexts(spark, kernel_df)
    got = {(r.url, r.category, r.context) for r in ctx.collect()}
    gold = {
        (c["url"], c["category"], c["context"])
        for c in fixtures.golden_contexts(pages_rows)
    }
    assert got == gold


def test_last_match_resolution_parity_and_differs_from_first(spark, pages_rows, kernel_df):
    """categorize_last_match (app.py:245-271 'second match wins') matches the
    kernel mirror on the whole fixture corpus, and on a duplicate-heading doc
    it picks the LATER heading where first-match picks the earlier one."""
    spans = sections.section_spans(textextract.heading_rows(kernel_df))
    got = {
        (r.url, r.category): r.start_off
        for r in sections.categorize_last_match(spans, sections.variant_dim(spark)).collect()
    }
    want = {}
    for p in pages_rows:
        for cat, s in kernel.resolve_sections_last_match(p["text"]).items():
            want[(p["url"], cat)] = s["start_off"]
    assert got == want and got

    html = (
        "<html><body>"
        "<h1>1. INTRO</h1>"
        "<h2>1.1 PROJECT PROPONENT (S)</h2><p>first occurrence</p>"
        "<h2>1.2 OTHER</h2><p>x</p>"
        "<h1>2. ANNEX</h1>"
        "<h2>2.1 PROJECT PROPONENT DETAILS</h2><p>second occurrence</p>"
        "</body></html>"
    ).encode()
    text = kernel.html_to_text(html)
    res = kernel.resolve_sections_last_match(text)
    secs = kernel.sections_from_text(text)
    firsts = {}
    for s in secs:
        cat = kernel.categorize_heading(s["title"])
        if cat:
            firsts.setdefault(cat, s)  # first document-order match
    assert res["project_proponents"]["number"] == "2.1"
    assert firsts["project_proponents"]["number"] == "1.1"
    import datetime
    pdf = pd.DataFrame([{
        "url": "https://t.example.com/proj/000002",
        "warc_ts": datetime.datetime(2024, 1, 1),
        "html": html, "text": text, "lang": "en",
    }])
    kdf = textextract.kernel_pass(spark.createDataFrame(pdf))
    spans2 = sections.section_spans(textextract.heading_rows(kdf))
    got2 = {
        r.category: r.number
        for r in sections.categorize_last_match(spans2, sections.variant_dim(spark)).collect()
    }
    assert got2["project_proponents"] == "2.1"


@pytest.mark.parametrize("mode", ["redundant", "best1"])
def test_contexts_refined_match_golden(spark, pages_rows, kernel_df, mode):
    ctx = sections.build_contexts_refined(spark, kernel_df, mode=mode)
    got = {(r.url, r.category, r.context) for r in ctx.collect()}
    gold = {
        (c["url"], c["category"], c["context"])
        for c in fixtures.golden_contexts_refined(pages_rows, mode=mode)
    }
    assert got == gold


def test_redundancy_filter_drops_duplicate_chunks(spark):
    """A section whose body repeats the same paragraph must lose the duplicate
    chunks in 'redundant' mode and keep exactly one chunk in 'best1' — checked
    both in the kernel and through the Spark path, byte-equal."""
    para = "the quick brown fox jumps over the lazy dog. " * 60  # ~2.7 KB
    body = ("\n".join(f"unique marker {i}. {para}" for i in range(4))).strip()
    cat = "sector"
    chunks = kernel.chunk_text(body)
    assert len(chunks) > 2, "fixture body must be multi-chunk"
    red = kernel.select_context_redundant(body, cat)
    best = kernel.select_context_best1(body, cat)
    topk = kernel.select_context(body, cat)
    assert len(red) < len(topk), "redundancy filter never fired"
    assert best in [c.strip() for c in chunks]

    html = (
        "<html><body><h1>1. PROJECT DETAILS</h1>"
        "<h2>1.1 SECTORAL SCOPE AND TYPE OF PROJECT</h2>"
        f"<p>{'</p><p>'.join(f'unique marker {i}. {para}' for i in range(4))}</p>"
        "</body></html>"
    ).encode()
    import datetime
    pdf = pd.DataFrame([{
        "url": "https://t.example.com/proj/000001",
        "warc_ts": datetime.datetime(2024, 1, 1),
        "html": html,
        "text": kernel.html_to_text(html),
        "lang": "en",
    }])
    kdf = textextract.kernel_pass(spark.createDataFrame(pdf))
    got_red = sections.build_contexts_refined(spark, kdf, mode="redundant").collect()
    got_best = sections.build_contexts_refined(spark, kdf, mode="best1").collect()
    page_text = pdf["text"][0]
    sec = [s for s in kernel.sections_from_text(page_text)
           if kernel.categorize_heading(s["title"]) == cat][0]
    sbody = page_text[sec["body_off"]:sec["end_off"]].strip()
    assert {(r.category, r.context) for r in got_red} == {
        (cat, kernel.select_context_redundant(sbody, cat))}
    assert {(r.category, r.context) for r in got_best} == {
        (cat, kernel.select_context_best1(sbody, cat))}


def test_triples_pr_vs_golden(spark, pages_df, pages_rows):
    tri = pipeline.build_triples(spark, pages_df)
    got = {(r.subj, r.pred, r.obj) for r in tri.collect()}
    gold = {
        (t["subj"], t["pred"], t["obj"]) for t in fixtures.golden_triples(pages_rows)
    }
    inter = got & gold
    precision = len(inter) / len(got)
    recall = len(inter) / len(gold)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"


def test_join_rewrite_byte_equal_to_broadcast(spark, pages_df, monkeypatch):
    """Entity dictionaries over the driver budget take the relational
    join rewrite; its triples must be byte-equal to the broadcast path (the
    cap is a physical-strategy switch, never a semantics switch)."""
    expected = sorted(tuple(r) for r in pipeline.build_triples(spark, pages_df).collect())
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    got = sorted(tuple(r) for r in pipeline.build_triples(spark, pages_df).collect())
    assert got == expected
    # the corpus genuinely exercises the rewrite: canonicalization changed
    # at least one proponent payload vs the raw extraction
    raw = sorted(
        tuple(r)
        for r in pipeline._to_triples(
            pipeline.extract_stage(spark, pages_df).select(
                "url", "warc_ts", "content_sha", "pred", "obj"
            )
        ).collect()
    )
    assert raw != expected


def test_fused_equals_relational(spark, pages_df):
    """The one-Arrow-pass hot path and the operator-by-operator relational
    decomposition must produce identical triples."""
    fused = pipeline.build_triples(spark, pages_df, mode="fused")
    rel = pipeline.build_triples(spark, pages_df, mode="relational")
    f = {(r.subj, r.pred, r.obj) for r in fused.collect()}
    r = {(r.subj, r.pred, r.obj) for r in rel.collect()}
    assert f == r


def test_constraint_checks_zero_violations(spark, pages_df):
    tri = pipeline.build_triples(spark, pages_df)
    flagged, metrics = extract.validate_triples(tri)
    assert metrics, "no metrics"
    for pred, m in metrics.items():
        assert m["violations"] == 0, (pred, m)
    assert flagged.filter(~F.col("valid")).count() == 0


def test_commit_accepts_zero_triple_unit(spark, tmp_path):
    """A unit with ZERO triples must commit cleanly with empty metrics — a
    non-duplicate batch whose pages yield no extractable facts is supported
    input (its content hashes still register). Pinned because a round-6
    attempt to ride the violation counters on the commit write via the
    Observation API crashed exactly here (AQE empty-relation propagation
    leaves no observed-metrics row) and was reverted; commit now counts
    them from the unit's (empty) written files."""
    from kgx.checkpoint import TripleStore
    from kgx.schema import TRIPLES

    empty = spark.createDataFrame([], TRIPLES)
    assert extract.validate_triples(empty)[1] == {}
    store = TripleStore(str(tmp_path / "zt"), n_buckets=2)
    sha = spark.createDataFrame([("a" * 64,)], "content_sha string")
    unit = store.commit(empty, buckets=[0], content=sha)
    (manifest,) = [m for m in store.manifests() if m["unit"] == unit]
    assert manifest["metrics"] == {}
    assert store.read(spark).count() == 0
    assert {r.content_sha for r in store.known_content(spark).collect()} \
        == {"a" * 64}


def _metrics(rows: dict, bad_pred: str) -> dict:
    return {p: {"rows": n, "violations": int(p == bad_pred)} for p, n in rows.items()}


EXPECTED_PROPONENT_UNIT_METRICS = _metrics(
    {"crediting_period": 5, "ghg_emission_reductions": 5, "methodology": 5,
     "project_location": 4, "project_proponents": 5, "sector": 4},
    "project_proponents",
)
EXPECTED_SECTOR_UNIT_METRICS = _metrics(
    {"crediting_period": 6, "ghg_emission_reductions": 6, "methodology": 6,
     "project_location": 6, "project_proponents": 6, "sector": 5},
    "sector",
)


def test_commit_counts_violations_from_written_unit(spark, tmp_path):
    """commit counts the manifest's violation counters from the files it
    wrote. One unit carries a project_proponents obj whose second proponent
    lacks organization_name, the other a sector outside the two-label
    domain; the expected dicts are what validate_triples reported for the
    same frames when it still counted them before the commit."""
    from kgx.checkpoint import TripleStore
    from kgx.schema import TRIPLES

    pages = fixtures.gen_pages(12)

    def unit_frame(lo, hi, pred, obj):
        bad = spark.createDataFrame(
            [("proj:bad", pred, obj, "https://bad.example/proj/bad", None, None)],
            TRIPLES,
        )
        tri = pipeline.build_triples(
            spark, spark.createDataFrame(pd.DataFrame(pages[lo:hi]))
        )
        return tri.unionByName(bad)

    units = [
        unit_frame(0, 6, "project_proponents",
                   '[{"organization_name":"Acme"},{"city":"Lima"}]'),
        unit_frame(6, 12, "sector", '"Mining"'),
    ]
    want = [EXPECTED_PROPONENT_UNIT_METRICS, EXPECTED_SECTOR_UNIT_METRICS]
    store = TripleStore(str(tmp_path / "viol"), n_buckets=2)
    for bucket, (frame, expected) in enumerate(zip(units, want)):
        assert extract.validate_triples(frame)[1] == expected
        unit = store.commit(frame, buckets=[bucket])
        (manifest,) = [m for m in store.manifests() if m["unit"] == unit]
        assert manifest["metrics"] == expected


def test_subj_col_matches_kernel(spark):
    urls = ["https://a.example.com/proj/000123", "https://b.example.org/x/proj9"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.s for r in df.select("url", pipeline.subj_col(F.col("url")).alias("s")).collect()}
    for u in urls:
        assert got[u] == kernel.page_id_from_url(u)


def test_fixture_row_groups_split_for_scan(tmp_path):
    """Small corpora must still produce >=16 parquet row groups — a single
    giant row group is unsplittable for Spark's scan and serialized the whole
    fused extract stage (the r2 kg_pipeline bench regression)."""
    import pyarrow.parquet as pq

    assert fixtures.row_group_size(1_000_000) == 4096
    assert fixtures.row_group_size(4000) == 250
    assert fixtures.row_group_size(10) == 64
    d = tmp_path / "rg"
    fixtures.write_fixture(str(d), n=400, golden=False)
    # 400 rows at the 64-row floor -> ceil(400/64) = 7 scan splits (>=16 holds
    # from n=1024 up, where the n/16 sizing takes over)
    assert pq.ParquetFile(str(d / "pages.parquet")).metadata.num_row_groups == 7


def test_fused_extract_guards_unsplittable_input(spark, tmp_path):
    """An input that arrives as fewer partitions than cores (giant row groups,
    one fat file) must be repartitioned before the CPU-bound Arrow pass — to
    one task per core, so the pass runs in one Python wave."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = fixtures.gen_pages(64)
    t = pa.table(
        {
            "url": [p["url"] for p in rows],
            "warc_ts": pa.array([p["warc_ts"] for p in rows], pa.timestamp("us")),
            "html": pa.array([p["html"] for p in rows], pa.binary()),
        }
    )
    path = str(tmp_path / "one_group.parquet")
    pq.write_table(t, path, row_group_size=10_000)  # single row group
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() == 1
    cores = spark.sparkContext.defaultParallelism
    out = extract.extract_facts_fused(pages)
    assert out.rdd.getNumPartitions() == cores


def test_join_rewrite_edge_shapes(spark, monkeypatch):
    """_rewrite_join on crafted shapes the fixture corpus may not cover:
    duplicate surfaces within one fact, an empty surfaces array (posexplode
    drops the row; the left join must bring it back unrewritten), multi-byte
    unicode surfaces, and a non-proponent row passing through — byte-equal
    to the broadcast regime on all of them."""
    from datetime import datetime

    from kgx.schema import FACTS

    def obj_of(names):
        return kernel.canonical_json([{"organization_name": n} for n in names])

    ts = datetime(2025, 1, 1)
    rows = [
        ("u1", ts, "s1", "project_proponents",
         obj_of(["Acme Corp", "ACME CORP", "Acme Corp"]), None,
         ["Acme Corp", "ACME CORP", "Acme Corp"]),
        ("u2", ts, "s2", "project_proponents", obj_of([]), None, []),
        ("u3", ts, "s3", "project_proponents",
         obj_of(["Ünïcode Äß GmbH"]), None, ["Ünïcode Äß GmbH"]),
        ("u4", ts, "s4", "project_location", '{"country": "X"}', None, None),
        # null warc_ts AND null content_sha: the natural-key rewrite join must
        # be null-safe or this row silently loses its reps (stays unrewritten)
        ("u5", None, None, "project_proponents",
         obj_of(["ACME CORP"]), None, ["ACME CORP"]),
    ]
    facts = spark.createDataFrame(rows, FACTS)
    mapping = spark.createDataFrame(
        [("ACME CORP", "Acme Corp"), ("Acme Corp", "Acme Corp"),
         ("Ünïcode Äß GmbH", "Ünïcode Äß GmbH e.V.")],
        "surface string, rep string",
    )
    expected = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    got = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    assert got == expected
    by_url = {t[0]: t[4] for t in got}
    assert "ACME CORP" not in by_url["u1"] and "Acme Corp" in by_url["u1"]
    assert by_url["u2"] == "[]"
    assert "e.V." in by_url["u3"]
    assert by_url["u4"] == '{"country": "X"}'
    assert by_url["u5"] == obj_of(["Acme Corp"])


def test_join_rewrite_duplicate_natural_key_rows(spark, monkeypatch):
    """Two proponent facts from the SAME crawl (a page with two sections that
    both categorize project_proponents — kernel.page_facts emits one fact per
    section): the join-path rewrite must keep each row's surfaces zipped to
    its OWN reps. A bare (url, warc_ts, content_sha, pred) row key merges the
    groups and rewrites organizations to unrelated names (round-5 review)."""
    from datetime import datetime

    from kgx.schema import FACTS

    def obj_of(names):
        return kernel.canonical_json([{"organization_name": n} for n in names])

    ts = datetime(2025, 1, 1)
    rows = [
        ("u1", ts, "s1", "project_proponents",
         obj_of(["Acme Corp"]), None, ["Acme Corp"]),
        ("u1", ts, "s1", "project_proponents",
         obj_of(["Beta LLC"]), None, ["Beta LLC"]),
        # and an EXACT duplicate pair (same obj too): must merge harmlessly
        ("u2", ts, "s2", "project_proponents",
         obj_of(["Acme Corp"]), None, ["Acme Corp"]),
        ("u2", ts, "s2", "project_proponents",
         obj_of(["Acme Corp"]), None, ["Acme Corp"]),
    ]
    facts = spark.createDataFrame(rows, FACTS)
    mapping = spark.createDataFrame(
        [("Acme Corp", "ACME CANONICAL"), ("Beta LLC", "BETA CANONICAL")],
        "surface string, rep string",
    )
    expected = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    got = sorted(
        tuple(r) for r in pipeline.canonicalize_proponents(facts, mapping).collect()
    )
    assert got == expected
    objs = sorted(t[4] for t in got if t[0] == "u1")
    assert objs == sorted([obj_of(["ACME CANONICAL"]), obj_of(["BETA CANONICAL"])])
    assert [t[4] for t in got if t[0] == "u2"] == [obj_of(["ACME CANONICAL"])] * 2


def test_broadcast_byte_budget_routes_to_join_path(spark, monkeypatch):
    """A dictionary under the row cap but over the BYTE budget must take the
    join path without a driver collect of the mapping."""
    from datetime import datetime

    from kgx.schema import FACTS

    rows = [("u1", datetime(2025, 1, 1), "s1", "project_proponents",
             kernel.canonical_json([{"organization_name": "Acme Corp"}]),
             None, ["Acme Corp"])]
    facts = spark.createDataFrame(rows, FACTS)
    mapping = spark.createDataFrame(
        [("Acme Corp", "ACME")], "surface string, rep string"
    )
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    out = {t["obj"] for t in
           pipeline.canonicalize_proponents(facts, mapping).collect()}
    assert out == {kernel.canonical_json([{"organization_name": "ACME"}])}


def test_duplicate_category_sections_stay_separate(spark):
    """Two sections of one document that categorize identically must emit TWO
    contexts (the golden path is per-section); a (url, category) grouping
    would merge and garble them."""
    import datetime

    html = (
        "<html><body>"
        "<h1>1. INTRO</h1>"
        "<h2>1.1 PROJECT PROPONENT (S)</h2><p>first body text here</p>"
        "<h1>2. ANNEX</h1>"
        "<h2>2.1 PROJECT PROPONENT DETAILS</h2><p>second body text here</p>"
        "</body></html>"
    ).encode()
    text = kernel.html_to_text(html)
    pdf = pd.DataFrame([{
        "url": "https://t.example.com/proj/000042",
        "warc_ts": datetime.datetime(2024, 1, 1),
        "html": html, "text": text, "lang": "en",
    }])
    kdf = textextract.kernel_pass(spark.createDataFrame(pdf))
    got = sorted(
        (r.category, r.context)
        for r in sections.build_contexts(spark, kdf).collect()
    )
    gold = sorted(
        (kernel.categorize_heading(s["title"]),
         kernel.select_context(text[s["body_off"]:s["end_off"]].strip(),
                               kernel.categorize_heading(s["title"])))
        for s in kernel.sections_from_text(text)
        if kernel.categorize_heading(s["title"]) is not None
    )
    assert got == gold
    assert len([c for c, _ in got if c == "project_proponents"]) == 2


def test_empty_body_section_emits_empty_context(spark):
    """A heading directly followed by the next heading (zero-length body)
    must still emit a context row ('' like the golden path), not vanish."""
    import datetime

    html = (
        "<html><body>"
        "<h1>1. PROJECT DETAILS</h1>"
        "<h2>1.1 PROJECT PROPONENT (S)</h2>"
        "<h2>1.2 SECTORAL SCOPE AND TYPE OF PROJECT</h2><p>real body</p>"
        "</body></html>"
    ).encode()
    text = kernel.html_to_text(html)
    pdf = pd.DataFrame([{
        "url": "https://t.example.com/proj/000043",
        "warc_ts": datetime.datetime(2024, 1, 1),
        "html": html, "text": text, "lang": "en",
    }])
    kdf = textextract.kernel_pass(spark.createDataFrame(pdf))
    got = {(r.category, r.context)
           for r in sections.build_contexts(spark, kdf).collect()}
    gold = {(c["category"], c["context"])
            for c in fixtures.golden_contexts(
                [{"url": "https://t.example.com/proj/000043", "text": text}])}
    assert got == gold
    assert any(ctx == "" for _, ctx in got)


@pytest.fixture(autouse=True)
def _release_ctx_caches():
    """Relational retrieval persists its chunk frame; drop it after each test
    so the suite never accumulates executor-memory caches."""
    yield
    sections.release_context_caches()


def test_recrawled_url_retrieval_keeps_crawls_separate(spark):
    """Two crawls of one url whose same-index section categorizes identically
    must emit one context per crawl, each computed only from its own chunks —
    through ALL THREE retrieval modes. A (url, category, sec_idx) window
    merges the crawls: n_chunks counts across both and top-ceil(n/2)
    interleaves chunks from different page versions (ADVICE r4)."""
    import datetime

    para_a = "alpha fact sentence about the project proponent entity. " * 50
    para_b = "bravo narrative with entirely different wording throughout. " * 50

    def page(marker, para):
        html = (
            "<html><body><h1>1. PROJECT DETAILS</h1>"
            "<h2>1.1 PROJECT PROPONENT (S)</h2>"
            f"<p>{'</p><p>'.join(f'{marker} chunk {i}. {para}' for i in range(4))}</p>"
            "</body></html>"
        ).encode()
        return html, kernel.html_to_text(html)

    url = "https://t.example.com/proj/000099"
    h1, t1 = page("first", para_a)
    h2, t2 = page("second", para_b)
    rows = [
        {"url": url, "warc_ts": datetime.datetime(2024, 1, 1), "html": h1,
         "text": t1, "lang": "en"},
        {"url": url, "warc_ts": datetime.datetime(2024, 6, 1), "html": h2,
         "text": t2, "lang": "en"},
    ]
    kdf = textextract.kernel_pass(spark.createDataFrame(pd.DataFrame(rows)))

    def gold(text, fn):
        sec = [s for s in kernel.sections_from_text(text)
               if kernel.categorize_heading(s["title"]) == "project_proponents"][0]
        body = text[sec["body_off"]:sec["end_off"]].strip()
        assert len(kernel.chunk_text(body)) > 2, "fixture must be multi-chunk"
        return fn(body, "project_proponents")

    for build, fn in [
        (lambda: sections.build_contexts(spark, kdf), kernel.select_context),
        (lambda: sections.build_contexts_refined(spark, kdf, mode="redundant"),
         kernel.select_context_redundant),
        (lambda: sections.build_contexts_refined(spark, kdf, mode="best1"),
         kernel.select_context_best1),
    ]:
        got = {(str(r.warc_ts), r.category, r.context) for r in build().collect()}
        want = {
            ("2024-01-01 00:00:00", "project_proponents", gold(t1, fn)),
            ("2024-06-01 00:00:00", "project_proponents", gold(t2, fn)),
        }
        assert got == want


def test_release_context_caches_unpersists(spark, kernel_df):
    """build_contexts_refined persists the exploded-chunk frame; after
    materialization + release_context_caches() no retrieval cache may remain
    in executor storage (VERDICT r4 #7)."""
    sections.release_context_caches()
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    before = len(storage())
    ctx = sections.build_contexts_refined(spark, kernel_df, mode="redundant")
    ctx.count()
    assert sections._CACHED_CHUNKS, "retrieval path no longer tracks its cache"
    sections.release_context_caches()
    assert not sections._CACHED_CHUNKS
    assert len(storage()) <= before


def test_recrawled_url_relational_equals_fused(spark):
    """The same url crawled twice (different content, different warc_ts):
    mode='relational' must produce the same facts as the row-local fused
    path — url-only windows/joins interleaved the two versions."""
    pages = fixtures.gen_pages(4)
    recrawl = {**pages[1], "url": pages[0]["url"],
               "warc_ts": pages[0]["warc_ts"] + __import__("datetime").timedelta(days=30)}
    df = spark.createDataFrame(pd.DataFrame(pages[:3] + [recrawl]))

    def key_set(facts):
        return {
            (r.url, str(r.warc_ts), r.content_sha, r.pred, r.obj)
            for r in facts.select("url", "warc_ts", "content_sha", "pred", "obj").collect()
        }

    fused = key_set(pipeline.extract_stage(spark, df, mode="fused"))
    relational = key_set(pipeline.extract_stage(spark, df, mode="relational"))
    assert relational == fused
