"""Checkpoint/resume: kill-and-rerun produces identical triples, no double work.

Mirrors the reference's processed-set exclusion (tools/utils.py:39-48) and
content-hash cache (initial_pipeline/app.py:70-81) semantics.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgx import fixtures, pipeline, util
from kgx.checkpoint import TripleStore


@pytest.fixture(scope="module")
def small_pages(spark):
    return spark.createDataFrame(pd.DataFrame(fixtures.gen_pages(60))).cache()


def _triple_set(df):
    return {(r.subj, r.pred, r.obj) for r in df.select("subj", "pred", "obj").collect()}


class _KillAfterNCommits(TripleStore):
    """Store that dies after its Nth successful snapshot commit —
    simulates a mid-phase-C crash through the REAL code path."""

    kill_after = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self._commits = 0

    def commit(self, *a, **kw):
        if self._commits >= self.kill_after:
            raise RuntimeError("simulated crash after commit")
        self._commits += 1
        return super().commit(*a, **kw)


def test_kill_and_resume_identical(spark, small_pages, tmp_path):
    oneshot = _triple_set(pipeline.build_triples(spark, small_pages))

    root = str(tmp_path / "store")
    crashing = _KillAfterNCommits(root, n_buckets=8)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipeline.run_checkpointed(spark, small_pages, crashing, groups=3)

    partial = _triple_set(crashing.read(spark))
    assert partial and partial < oneshot

    # resume with a fresh store handle: must finish the remaining units and
    # reproduce the one-shot output exactly (incl. canonical org names)
    store = TripleStore(root, n_buckets=8)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=3)
    assert units
    assert _triple_set(store.read(spark)) == oneshot

    # idempotent: a third run commits nothing
    assert pipeline.run_checkpointed(spark, small_pages, store, groups=3) == []


@pytest.mark.parametrize("kill_after", [1, 2])
def test_join_rewrite_kill_and_resume_identical(
    spark, small_pages, tmp_path, monkeypatch, kill_after
):
    """Mid-phase-C crash recovery on the >cap JOIN rewrite path (VERDICT r5
    #6): force the natural-key relational rewrite by zeroing the driver
    budget, kill after the 1st and after the 2nd commit, resume, and assert the
    store matches the plain one-shot (broadcast-path) triples exactly — the
    round-5 claim that _rewrite_join is fully lineage-recoverable with no
    non-replicated state, pinned through the real crash seam at two
    different phase-C progress points."""
    oneshot = _triple_set(pipeline.build_triples(spark, small_pages))

    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    root = str(tmp_path / f"jk{kill_after}")
    crashing = _KillAfterNCommits(root, n_buckets=8)
    crashing.kill_after = kill_after
    with pytest.raises(RuntimeError, match="simulated crash"):
        pipeline.run_checkpointed(spark, small_pages, crashing, groups=3)
    partial = _triple_set(crashing.read(spark))
    assert partial and partial < oneshot

    store = TripleStore(root, n_buckets=8)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=3)
    assert units
    assert _triple_set(store.read(spark)) == oneshot
    assert pipeline.run_checkpointed(spark, small_pages, store, groups=3) == []


def test_multi_unit_run_equals_oneshot(spark, small_pages, tmp_path):
    """Global canonical mapping: unit boundaries must not change triples."""
    oneshot = _triple_set(pipeline.build_triples(spark, small_pages))
    store = TripleStore(str(tmp_path / "mu"), n_buckets=8)
    pipeline.run_checkpointed(spark, small_pages, store, groups=4)
    assert _triple_set(store.read(spark)) == oneshot


def test_manifest_metrics_recorded(spark, small_pages, tmp_path):
    store = TripleStore(str(tmp_path / "m"), n_buckets=4)
    pipeline.run_checkpointed(spark, small_pages, store, groups=1)
    ms = store.manifests()
    assert len(ms) == 1
    assert sorted(ms[0]["buckets"]) == [0, 1, 2, 3]
    metrics = ms[0]["metrics"]
    assert sum(m["rows"] for m in metrics.values()) > 0
    assert all(m["violations"] == 0 for m in metrics.values())


def test_lineage_content_sha_present(spark, small_pages, tmp_path):
    store = TripleStore(str(tmp_path / "l"), n_buckets=2)
    pipeline.run_checkpointed(spark, small_pages, store, groups=1)
    df = store.read(spark)
    assert df.filter(F.col("content_sha").isNull()).count() == 0
    assert df.filter(F.length("content_sha") != 64).count() == 0


def test_read_as_of_time_travel(spark, small_pages, tmp_path):
    """Snapshot time-travel: reading as of unit k returns exactly the rows a
    reader saw right after the k-th commit; as-of the last unit == read()."""
    store = TripleStore(str(tmp_path / "tt"), n_buckets=4)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=2)
    assert len(units) == 2
    first, last = sorted(units)
    full = _triple_set(store.read(spark))
    asof_last = _triple_set(store.read_as_of(spark, last))
    assert asof_last == full
    asof_first = _triple_set(store.read_as_of(spark, first))
    assert asof_first < full  # strictly fewer rows: the second unit is absent
    n_first = store.read_as_of(spark, first).count()
    assert 0 < n_first < store.read(spark).count()
    with pytest.raises(ValueError, match="unknown commit unit"):
        store.read_as_of(spark, "nope")


def test_compact_preserves_reads_and_fails_old_boundaries(spark, small_pages, tmp_path):
    """Maintenance compaction: read() is identical before/after, the manifest
    list shrinks to one, resume bookkeeping (buckets) survives, as-of reads on
    compacted-away boundaries fail loudly, and the next commit continues the
    seq chain."""
    store = TripleStore(str(tmp_path / "cp"), n_buckets=4)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=4)
    assert len(units) >= 2
    before = _triple_set(store.read(spark))
    buckets_before = store.committed_buckets()
    seq_before = max(m["seq"] for m in store.manifests())

    merged = store.compact(spark)
    assert merged is not None
    ms = store.manifests()
    assert [m["unit"] for m in ms] == [merged]
    assert _triple_set(store.read(spark)) == before
    assert store.committed_buckets() == buckets_before
    # merged unit inherits the highest replaced seq; as-of it == full table
    assert ms[0]["seq"] == seq_before
    assert _triple_set(store.read_as_of(spark, merged)) == before
    # old snapshot boundaries are gone — loudly
    with pytest.raises(ValueError, match="compacted into"):
        store.read_as_of(spark, units[0])
    # old data dirs GC'd
    import os

    dirs = os.listdir(os.path.join(store.root, "data"))
    assert dirs == [f"unit={merged}"]
    # idempotent-ish: nothing left to merge
    assert store.compact(spark) is None


def test_commit_seq_monotonic_not_len(spark, small_pages, tmp_path):
    """seq must continue past a compaction (max+1, not len(manifests)) so
    snapshot ordering never reuses a sequence number."""
    store = TripleStore(str(tmp_path / "seq"), n_buckets=4)
    pipeline.run_checkpointed(spark, small_pages, store, groups=4)
    seq_before = max(m["seq"] for m in store.manifests())
    assert seq_before >= 1
    store.compact(spark)
    # a fresh commit after compaction: seq continues, never collides
    tri = pipeline.build_triples(spark, small_pages.limit(5))
    store.commit(tri, buckets=[])
    seqs = [m["seq"] for m in store.manifests()]
    assert len(seqs) == len(set(seqs))
    assert max(seqs) == seq_before + 1


def test_compact_keep_last_preserves_recent_boundaries(spark, small_pages, tmp_path):
    """compact(keep_last=1): older units merge, the newest unit and its
    snapshot boundary survive untouched."""
    store = TripleStore(str(tmp_path / "kl"), n_buckets=4)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=4)
    assert len(units) >= 3
    ordered = [m["unit"] for m in sorted(store.manifests(), key=lambda m: m["seq"])]
    newest = ordered[-1]
    before = _triple_set(store.read(spark))
    asof_newest_before = _triple_set(store.read_as_of(spark, newest))
    asof_prev_before = _triple_set(store.read_as_of(spark, ordered[-2]))

    # keep_last >= live units: nothing qualifies — compact must be a no-op,
    # not wrap around and merge the OLDEST units (negative-slice regression)
    n_live = len(store.manifests())
    assert store.compact(spark, keep_last=n_live) is None
    assert store.compact(spark, keep_last=n_live + 5) is None
    assert len(store.manifests()) == n_live
    assert _triple_set(store.read_as_of(spark, ordered[0])) is not None

    merged = store.compact(spark, keep_last=1)
    assert merged is not None
    live = [m["unit"] for m in sorted(store.manifests(), key=lambda m: m["seq"])]
    assert live == [merged, newest]
    assert _triple_set(store.read(spark)) == before
    # the surviving boundary still reads identically
    assert _triple_set(store.read_as_of(spark, newest)) == asof_newest_before
    # the merged boundary equals the boundary of the last REPLACED unit
    assert _triple_set(store.read_as_of(spark, merged)) == asof_prev_before


def test_vacuum_removes_orphans_and_compacts_entities(spark, small_pages, tmp_path):
    import os

    store = TripleStore(str(tmp_path / "vac"), n_buckets=4)
    pipeline.run_checkpointed(spark, small_pages, store, groups=2)
    # a second entity generation + crash orphans
    extra = spark.createDataFrame(
        [("Solar Co", "Solar Co"), ("SOLAR CO", "Solar Co")], "surface string, rep string"
    )
    store.save_entities(extra)
    for orphan in ("_tmp-dead1", "_stage-tmp-dead2", "_ent-tmp-dead3"):
        os.makedirs(os.path.join(store.root, orphan), exist_ok=True)
    assert len([d for d in os.listdir(store.entities_dir) if not d.startswith("_")]) >= 2

    before_entities = {tuple(r) for r in store.known_entities(spark).df.collect()}
    before_triples = _triple_set(store.read(spark))

    # default grace window protects freshly-created tmp dirs (a racing writer)
    stats0 = store.vacuum(spark)
    assert stats0["orphans_removed"] == 0
    assert stats0["entity_dirs_compacted"] >= 2
    assert os.path.isdir(os.path.join(store.root, "_tmp-dead1"))

    stats = store.vacuum(spark, grace_s=0.0)
    assert stats["orphans_removed"] >= 3

    assert {tuple(r) for r in store.known_entities(spark).df.collect()} == before_entities
    assert _triple_set(store.read(spark)) == before_triples
    assert len([d for d in os.listdir(store.entities_dir) if not d.startswith("_")]) == 1
    assert not any(n.startswith("_tmp-") for n in os.listdir(store.root))
    # resume bookkeeping untouched: a re-run still commits nothing
    assert pipeline.run_checkpointed(spark, small_pages, store, groups=2) == []


def test_manifest_cache_memoizes_and_invalidates(spark, small_pages, tmp_path):
    """manifests() is memoized on the manifest filename set: repeated calls
    skip re-parsing (manifest files are immutable once published), and any
    commit/compact changes the name set, busting the cache immediately."""
    import json
    import os

    store = TripleStore(str(tmp_path / "mc"), n_buckets=4)
    tri = pipeline.build_triples(spark, small_pages.limit(5))
    store.commit(tri, buckets=[0])
    first = store.manifests()
    assert len(first) == 1

    # same name set -> served from cache: an in-place content change (which
    # the store never does) is invisible, proving no re-read happened
    name = next(n for n in os.listdir(store.manifest_dir) if n.endswith(".json"))
    p = os.path.join(store.manifest_dir, name)
    doctored = dict(json.load(open(p)))
    doctored["metrics"] = {"doctored": {"rows": 1}}
    with open(p, "w") as f:
        json.dump(doctored, f)
    assert store.manifests() == first

    # a new commit changes the name set -> cache busts, new unit visible
    store.commit(tri, buckets=[1])
    after = store.manifests()
    assert len(after) == 2
    # callers get copies: mutating a returned list never poisons the cache
    got = store.manifests()
    got.clear()
    assert len(store.manifests()) == 2


def test_vacuum_sweeps_unreferenced_content_sidecars(spark, small_pages, tmp_path):
    """A content sidecar whose unit no manifest references (crash between
    sidecar publish and manifest publish) is orphan garbage; live sidecars
    survive and known_content is unchanged."""
    import os

    store = TripleStore(str(tmp_path / "vc"), n_buckets=4)
    pipeline.run_checkpointed(spark, small_pages, store, groups=2)
    os.makedirs(os.path.join(store.content_dir, "unit=deadbeef"), exist_ok=True)
    before = {r.content_sha for r in store.known_content(spark).collect()}
    assert before

    # grace window protects a possibly-in-flight commit's fresh sidecar
    assert store.vacuum(spark)["orphans_removed"] == 0
    assert os.path.isdir(os.path.join(store.content_dir, "unit=deadbeef"))

    assert store.vacuum(spark, grace_s=0.0)["orphans_removed"] >= 1
    assert not os.path.exists(os.path.join(store.content_dir, "unit=deadbeef"))
    assert {r.content_sha for r in store.known_content(spark).collect()} == before


def test_known_content_mixed_legacy_and_sidecar_units(spark, small_pages, tmp_path):
    """A store upgraded mid-life has pre-sidecar units (no 'content_sidecar'
    manifest key, no sidecar dir) next to new ones: known_content must union
    the legacy unit's data-derived shas with the new unit's sidecar — one
    column, one row per sha (the sidecar read must not leak the discovered
    'unit' partition column into the union)."""
    import json
    import os
    import shutil

    store = TripleStore(str(tmp_path / "mix"), n_buckets=4)
    tri = pipeline.build_triples(spark, small_pages)
    half = small_pages.limit(20)
    store.commit(pipeline.build_triples(spark, half), buckets=[0])
    store.commit(tri, buckets=[1])

    # doctor the FIRST manifest into a legacy manifest + drop its sidecar
    ms = sorted(store.manifests(), key=lambda m: m["seq"])
    legacy_unit = ms[0]["unit"]
    name = next(
        n for n in os.listdir(store.manifest_dir) if legacy_unit in n
    )
    p = os.path.join(store.manifest_dir, name)
    doc = json.load(open(p))
    del doc["content_sidecar"]
    with open(p + ".tmp", "w") as f:
        json.dump(doc, f)
    os.rename(p + ".tmp", p)
    # in-place doctoring defeats the original handle's manifest cache (same
    # name set), so read through a FRESH handle — stores never rewrite
    # manifests; this simulates a store created by the pre-sidecar code
    shutil.rmtree(os.path.join(store.content_dir, f"unit={legacy_unit}"))

    fresh = TripleStore(store.root, n_buckets=4)
    got = fresh.known_content(spark)
    assert got.columns == ["content_sha"]
    rows = got.collect()
    want = {
        r.content_sha
        for r in fresh.read(spark).select("content_sha").distinct().collect()
    }
    assert {r.content_sha for r in rows} == want
    assert len(rows) == len(want)  # distinct per sha, not per (sha, unit)


def test_empty_unit_commit_reads_back(spark, tmp_path):
    """A unit committed from ZERO triples (all pages fact-free) must read
    back as an empty frame — partitionBy writes no schema-bearing file, so
    the reader needs its explicit schema, not inference."""
    from kgx.schema import TRIPLES

    store = TripleStore(str(tmp_path / "empty"), n_buckets=2)
    empty = spark.createDataFrame([], TRIPLES)
    shas = spark.createDataFrame([("a" * 64,)], "content_sha string")
    unit = store.commit(empty, buckets=[0], content=shas)
    assert store.read(spark).count() == 0
    assert store.read_as_of(spark, unit).count() == 0
    assert set(store.read(spark).columns) == set(TRIPLES.fieldNames())
    # the zero-triple unit still registered its processed content
    assert {r.content_sha for r in store.known_content(spark).collect()} == {"a" * 64}


def test_vacuum_finishes_crashed_compaction_gc(spark, small_pages, tmp_path):
    """compact() crashing after the merged-manifest publish but before GC
    leaves superseded manifests + their data dirs; vacuum must finish the
    job (delete the stale JSONs, then reclaim the dirs)."""
    import os
    import shutil

    store = TripleStore(str(tmp_path / "cgc"), n_buckets=4)
    pipeline.run_checkpointed(spark, small_pages, store, groups=2)
    victims = [m["unit"] for m in store.manifests()]
    assert len(victims) >= 2

    # simulate the crash: snapshot manifests+data before compact's GC step,
    # run compact, then restore the superseded leftovers it deleted
    pre_manifests = {
        n: open(os.path.join(store.manifest_dir, n)).read()
        for n in os.listdir(store.manifest_dir) if n.endswith(".json")
    }
    data_backup = str(tmp_path / "bak")
    shutil.copytree(store.data_dir, data_backup)
    merged = store.compact(spark)
    assert merged is not None
    for n, body in pre_manifests.items():
        p = os.path.join(store.manifest_dir, n)
        if not os.path.exists(p):
            with open(p, "w") as f:
                f.write(body)
    for u in victims:
        src = os.path.join(data_backup, f"unit={u}")
        dst = os.path.join(store.data_dir, f"unit={u}")
        if not os.path.exists(dst):
            shutil.copytree(src, dst)

    fresh = TripleStore(store.root, n_buckets=4)
    before = _triple_set(fresh.read(spark))
    stats = fresh.vacuum(spark, grace_s=0.0)
    assert stats["orphans_removed"] >= len(victims)
    assert not any(
        n for n in os.listdir(fresh.manifest_dir)
        if n.endswith(".json") and any(u in n for u in victims)
    )
    assert sorted(os.listdir(fresh.data_dir)) == [f"unit={merged}"]
    assert _triple_set(TripleStore(store.root, n_buckets=4).read(spark)) == before


def test_compact_defers_sidecar_gc_to_vacuum(spark, small_pages, tmp_path):
    """compact() must leave victims' content sidecars on disk (a live
    ingest's content cache holds parquet-read leaves over them for up to
    REBASE_EVERY epochs — review r6); once unreferenced they are vacuum's
    job, and known_content stays correct throughout because it reads
    manifest-driven paths, never the leftovers."""
    import os

    store = TripleStore(str(tmp_path / "csg"), n_buckets=4)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=4)
    assert len(units) >= 2
    shas_before = {r.content_sha for r in store.known_content(spark).collect()}

    merged = store.compact(spark)
    leftover = [d for d in os.listdir(os.path.join(store.root, "content"))
                if d.startswith("unit=") and d != f"unit={merged}"]
    assert leftover, "compact deleted victim sidecars a live cache may read"
    assert {r.content_sha
            for r in store.known_content(spark).collect()} == shas_before

    removed = store.vacuum(spark, grace_s=0.0)
    assert removed["orphans_removed"] >= len(leftover)
    assert [d for d in os.listdir(os.path.join(store.root, "content"))
            if d.startswith("unit=")] == [f"unit={merged}"]
    assert {r.content_sha
            for r in store.known_content(spark).collect()} == shas_before


def test_compact_touches_victim_sidecar_mtimes(spark, small_pages, tmp_path):
    """compact() must refresh victims' content-sidecar mtimes so vacuum's
    grace clock starts at the COMPACTION, not the original commit: a live
    ingest's content cache drops its victim references within REBASE_EVERY
    probes of the compact, so any grace exceeding that window is then safe
    regardless of how old the sidecar's commit was (review r6)."""
    import os
    import time as _time

    store = TripleStore(str(tmp_path / "ctm"), n_buckets=4)
    units = pipeline.run_checkpointed(spark, small_pages, store, groups=4)
    assert len(units) >= 2
    # age every sidecar far past any plausible grace window
    old = _time.time() - 30 * 24 * 3600
    for d in os.listdir(store.content_dir):
        os.utime(os.path.join(store.content_dir, d), (old, old))

    before = _time.time()
    merged = store.compact(spark)
    for d in os.listdir(store.content_dir):
        if d.startswith("unit=") and d != f"unit={merged}":
            mt = os.path.getmtime(os.path.join(store.content_dir, d))
            assert mt >= before - 1, (
                "victim sidecar mtime not refreshed: a vacuum with any "
                "grace shorter than the sidecar's age would collect it "
                "out from under a live cache"
            )


def test_stage_mapping_scoped_per_run(spark, tmp_path):
    """stage_mapping deletes only the SAME run's prior entries — a foreign
    run's staged mapping (still referenced by that run's live entity cache)
    must survive; clear_mapping_cache (new-run start) wipes everything."""
    import os

    store = TripleStore(str(tmp_path / "mc"), n_buckets=2)
    m = spark.createDataFrame([("a", "a"), ("b", "a")], "surface string, rep string")
    d = os.path.join(store.root, "mapping_cache")

    store.stage_mapping(m, "runA", 0)
    store.stage_mapping(m, "runB", 0)
    store.stage_mapping(m, "runA", 5)  # supersedes runA-0, leaves runB-0
    assert sorted(os.listdir(d)) == ["runA-5", "runB-0"]
    got = spark.read.parquet(os.path.join(d, "runA-5")).collect()
    assert {(r.surface, r.rep) for r in got} == {("a", "a"), ("b", "a")}

    store.clear_mapping_cache()
    assert os.listdir(d) == []


def test_empty_entity_snapshot_readable(spark, tmp_path):
    """A snapshot can legitimately be EMPTY (first epoch with no entity
    mentions stages an empty mapping; adopt_entities links it in verbatim);
    known_entities must read it via its explicit schema instead of dying on
    parquet schema inference."""
    store = TripleStore(str(tmp_path / "es"), n_buckets=2)
    empty = spark.createDataFrame([], "surface string, rep string")
    staged = store.stage_mapping(empty, "runE", 0)
    store.adopt_entities(spark, staged)
    ke = store.known_entities(spark)
    assert ke is not None and ke.count() == 0
    # a later real snapshot unions fine with the empty one
    m = spark.createDataFrame([("a", "a")], "surface string, rep string")
    store.save_entities(m)
    assert {(r.surface, r.rep) for r in store.known_entities(spark).df.collect()} \
        == {("a", "a")}


def test_shared_mapping_collected_once_across_units(
    spark, small_pages, tmp_path, monkeypatch
):
    """An LSH-built mapping within the driver budget (the mapping's driver
    regime zeroed through DEDUP_DRIVER_MAX_BYTES) is pinned, sized and
    collected ONCE, in phase B: every staged unit's phase-C rewrite then
    broadcasts its rows without a Spark job of its own, where each unit
    used to probe and collect it again. The store — triples and entity
    dictionary — equals the zeroed-budget run's, where every regime takes
    its distributed fallback."""
    from kgx import canon

    dag = spark.sparkContext._jsc.sc().dagScheduler()
    rewrite, pin = pipeline.canonicalize_proponents, pipeline._pinned
    rewrite_jobs, collected = [], []

    def counted_rewrite(facts, mapping=None):
        lo = dag.nextJobId()
        out = rewrite(facts, mapping)
        rewrite_jobs.append(dag.nextJobId() - lo)
        return out

    def watched_pin(mapping):
        out = pin(mapping)
        if mapping.rows is None:
            collected.append(out.rows is not None)
        return out

    def run(name):
        store = TripleStore(str(tmp_path / name), n_buckets=8)
        assert len(pipeline.run_checkpointed(spark, small_pages, store, groups=3)) >= 2
        entities = {tuple(r) for r in store.known_entities(spark).df.collect()}
        return _triple_set(store.read(spark)), entities

    with monkeypatch.context() as m:
        m.setattr(canon, "DEDUP_DRIVER_MAX_BYTES", 0)
        m.setattr(pipeline, "canonicalize_proponents", counted_rewrite)
        m.setattr(pipeline, "_pinned", watched_pin)
        lsh = run("lsh")
    assert len(rewrite_jobs) >= 2 and rewrite_jobs == [0] * len(rewrite_jobs)
    assert collected == [True]

    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    assert run("zeroed") == lsh
