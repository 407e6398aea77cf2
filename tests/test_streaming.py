"""Structured-Streaming incremental ingest: exactly-once file pickup through
the snapshot store, canonical reps sticky across micro-batch generations."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from kgx import fixtures, streaming
from kgx.checkpoint import TripleStore


def _write_pages(rows, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t = pa.table(
        {
            "url": [p["url"] for p in rows],
            "warc_ts": pa.array([p["warc_ts"] for p in rows], pa.timestamp("us")),
            "html": pa.array([p["html"] for p in rows], pa.binary()),
            "text": [p["text"] for p in rows],
            "lang": [p["lang"] for p in rows],
        }
    )
    pq.write_table(t, path)


def test_available_now_ingest_and_incremental_pickup(spark, tmp_path):
    pages = fixtures.gen_pages(40)
    pages_dir = str(tmp_path / "inbox")
    _write_pages(pages[:25], f"{pages_dir}/part-0.parquet")

    store = TripleStore(str(tmp_path / "store"), n_buckets=4)
    units1 = streaming.ingest_available_now(spark, pages_dir, store)
    assert len(units1) >= 1
    n1 = store.read(spark).count()
    assert n1 > 0

    # no new files -> no new commits (exactly-once via stream checkpoint)
    units2 = streaming.ingest_available_now(spark, pages_dir, store)
    assert units2 == []
    assert store.read(spark).count() == n1

    # drop a second file -> only the delta is processed
    _write_pages(pages[25:], f"{pages_dir}/part-1.parquet")
    units3 = streaming.ingest_available_now(spark, pages_dir, store)
    assert len(units3) >= 1
    total = store.read(spark).count()
    assert total > n1

    # triples equal the one-shot batch result on the full corpus, except that
    # canonical reps are sticky to first-seen batches; verify subject coverage
    import pandas as pd

    from kgx import pipeline

    oneshot = pipeline.build_triples(spark, spark.createDataFrame(pd.DataFrame(pages)))
    assert total == oneshot.count()
    got_subj = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    want_subj = {r.subj for r in oneshot.select("subj").distinct().collect()}
    assert got_subj == want_subj


def test_windowed_page_counts_matches_batch(spark, tmp_path):
    """Watermarked event-time window agg over the stream == batch window agg."""
    import pandas as pd
    from pyspark.sql import functions as F

    pages = fixtures.gen_pages(60)
    pages_dir = str(tmp_path / "inbox")
    _write_pages(pages, f"{pages_dir}/part-0.parquet")

    stream = streaming.pages_stream(spark, pages_dir)
    q = (
        streaming.windowed_page_counts(stream, window="10 minutes")
        .writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.win_start, r.lang): r.n_pages
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    batch = spark.createDataFrame(pd.DataFrame(pages))
    want = {
        (r.win_start, r.lang): r.n_pages
        for r in (
            batch.groupBy(F.window("warc_ts", "10 minutes"), "lang")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("window.start").alias("win_start"), "lang", "n_pages")
        ).collect()
    }
    assert got == want and got


def test_first_seen_by_content_dedups_across_batches(spark, tmp_path):
    """Custom stateful operator: duplicate page content arriving in a LATER
    micro-batch is suppressed (state survives via the stream checkpoint)."""
    pages = fixtures.gen_pages(12)
    pages_dir = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt_dedup")

    def run_wave():
        rows = []

        def sink(batch_df, epoch_id):
            rows.extend(tuple(r) for r in batch_df.collect())

        # foreachBatch (not memory sink): the memory sink can't recover from a
        # checkpoint, and cross-restart state is exactly what's under test
        q = (
            streaming.first_seen_by_content(streaming.pages_stream(spark, pages_dir))
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    _write_pages(pages[:8], f"{pages_dir}/part-0.parquet")
    out1 = run_wave()
    assert len(out1) == 8  # all distinct first wave

    # second wave: 4 new pages + 3 exact duplicates of wave 1
    _write_pages(pages[8:] + pages[:3], f"{pages_dir}/part-1.parquet")
    out2 = run_wave()
    assert len(out2) == 4  # duplicates suppressed by keyed state
    urls = {r[1] for r in out1 + out2}
    assert urls == {p["url"] for p in pages}


@pytest.fixture
def state_provider(request, spark):
    """Parametrize a streaming test over state-store providers: 'rocksdb'
    sets the RocksDB provider (the web-scale seam, kgx.session) for the
    queries started inside the test and restores the default after — the
    provider conf is read per streaming query, so a runtime set suffices."""
    key = "spark.sql.streaming.stateStore.providerClass"
    if request.param == "rocksdb":
        from kgx.session import ROCKSDB_STATE_PROVIDER

        old = spark.conf.get(key, None)
        spark.conf.set(key, ROCKSDB_STATE_PROVIDER)
        yield request.param
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    else:
        yield request.param


@pytest.mark.parametrize("state_provider", ["default", "rocksdb"],
                         indirect=True)
def test_first_seen_ttl_evicts_and_reemits(spark, tmp_path, state_provider):
    """Bounded-retention dedup (event-time TTL): within the horizon a
    duplicate content hash is suppressed; re-arriving past the horizon it is
    treated as fresh and re-emits. Event-time makes the boundary a property
    of the data — no sleeps, deterministic under replay. Runs under BOTH the
    default HDFS-backed state store and RocksDB (VERDICT r5 #7): identical
    emissions, state evictions and cross-restart recovery under the provider
    a web-scale deployment actually needs."""
    from datetime import datetime, timedelta

    pages = fixtures.gen_pages(6)
    T0 = datetime(2026, 1, 1, 12, 0, 0)

    def at(rows, minutes):
        return [{**p, "warc_ts": T0 + timedelta(minutes=minutes)} for p in rows]

    pages_dir = str(tmp_path / "inbox")
    ckpt = str(tmp_path / "ckpt_ttl")

    def run_wave():
        rows = []

        def sink(batch_df, epoch_id):
            rows.extend(tuple(r) for r in batch_df.collect())

        q = (
            streaming.first_seen_by_content(
                streaming.pages_stream(spark, pages_dir),
                ttl="1 hour",
                watermark_delay="0 seconds",
            )
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return rows

    _write_pages(at(pages[:4], 0), f"{pages_dir}/part-0.parquet")
    out1 = run_wave()
    assert len(out1) == 4

    # +30 min (inside the 1h horizon): dups suppressed, new content emits
    _write_pages(at(pages[4:] + pages[:2], 30), f"{pages_dir}/part-1.parquet")
    out2 = run_wave()
    assert len(out2) == 2
    assert {r[0] for r in out2}.isdisjoint({r[0] for r in out1})

    # +70 min: pages[2:4] last seen at T0 -> 70 min > 1h horizon -> re-emit;
    # pages[0] last seen at +30 -> only 40 min ago -> still suppressed
    _write_pages(at(pages[2:4] + pages[:1], 70), f"{pages_dir}/part-2.parquet")
    out3 = run_wave()
    assert len(out3) == 2
    assert {r[0] for r in out3} <= {r[0] for r in out1}


def test_ingest_dedup_content_skips_mirrors_and_reposts(spark, tmp_path):
    """dedup_content=True: identical html at a NEW url — within a batch or in
    a later wave — never reaches extraction (the reference's content-hash
    cache at the ingest boundary)."""
    from kgx import kernel

    pages = fixtures.gen_pages(10)
    pages_dir = str(tmp_path / "inbox")
    store = TripleStore(str(tmp_path / "store_dc"), n_buckets=4)

    mirror_in_batch = {**pages[0], "url": "https://mirror.example/proj/9990"}
    _write_pages(pages[:6] + [mirror_in_batch], f"{pages_dir}/part-0.parquet")
    units1 = streaming.ingest_available_now(spark, pages_dir, store,
                                            dedup_content=True)
    assert units1
    subj1 = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    # the within-batch mirror lost the min-url race: no triples for its subject
    assert kernel.page_id_from_url(mirror_in_batch["url"]) not in subj1
    assert kernel.page_id_from_url(pages[0]["url"]) in subj1

    # later wave: a repost of committed content + genuinely new pages
    repost = {**pages[1], "url": "https://repost.example/proj/9991"}
    _write_pages(pages[6:] + [repost], f"{pages_dir}/part-1.parquet")
    streaming.ingest_available_now(spark, pages_dir, store, dedup_content=True)
    subj2 = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    assert kernel.page_id_from_url(repost["url"]) not in subj2
    for p in pages[6:]:
        assert kernel.page_id_from_url(p["url"]) in subj2


def test_zero_fact_pages_register_in_content_index(spark, tmp_path):
    """A page that yields ZERO facts must still register its content_sha at
    commit (via commit(content=...)): deriving the known set from triples
    alone re-extracted such pages on every later wave (round-3 review)."""
    import hashlib

    pages = fixtures.gen_pages(4)
    blank_html = b"<html><body><p>nothing extractable here</p></body></html>"
    blank = {**pages[0], "url": "https://example.org/proj/7777",
             "html": blank_html, "text": "nothing extractable here"}
    pages_dir = str(tmp_path / "inbox")
    store = TripleStore(str(tmp_path / "store_zf"), n_buckets=4)

    _write_pages(pages[:3] + [blank], f"{pages_dir}/part-0.parquet")
    units = streaming.ingest_available_now(spark, pages_dir, store,
                                           dedup_content=True)
    assert units
    known = {r.content_sha for r in store.known_content(spark).collect()}
    assert hashlib.sha256(blank_html).hexdigest() in known
    # no triples exist for the blank page — the sidecar is the only record
    from kgx import kernel

    subs = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    assert kernel.page_id_from_url(blank["url"]) not in subs

    # a later wave of ONLY already-known content (the blank page mirrored at a
    # new url) dedups away entirely: no commit, no re-extraction
    _write_pages([{**blank, "url": "https://mirror.example/proj/7778"}],
                 f"{pages_dir}/part-1.parquet")
    units2 = streaming.ingest_available_now(spark, pages_dir, store,
                                            dedup_content=True)
    assert units2 == []


def test_known_content_reads_sidecars_not_data(spark, tmp_path):
    """known_content must be answerable from the per-unit sidecars alone —
    destroy every data file and the committed-content set is unchanged."""
    import shutil

    pages = fixtures.gen_pages(8)
    pages_dir = str(tmp_path / "inbox")
    _write_pages(pages, f"{pages_dir}/part-0.parquet")
    store = TripleStore(str(tmp_path / "store_sc"), n_buckets=4)
    streaming.ingest_available_now(spark, pages_dir, store, dedup_content=True)

    before = {r.content_sha for r in store.known_content(spark).collect()}
    assert before
    shutil.rmtree(os.path.join(store.root, "data"))
    os.makedirs(os.path.join(store.root, "data"))
    after = {r.content_sha for r in store.known_content(spark).collect()}
    assert after == before


def test_mode_guard_blocks_mixed_ingest(spark, tmp_path):
    """A store stamped by one ingest mode refuses the other entry point —
    batch and streaming bookkeeping can't see each other, so mixing them
    double-processes input (must fail loudly, not duplicate silently)."""
    import pandas as pd
    import pytest

    from kgx import pipeline

    pages = fixtures.gen_pages(6)
    pages_df = spark.createDataFrame(pd.DataFrame(pages))
    pages_dir = str(tmp_path / "inbox")
    _write_pages(pages, f"{pages_dir}/part-0.parquet")

    # batch first -> streaming refused
    b = TripleStore(str(tmp_path / "store_b"), n_buckets=4)
    pipeline.run_checkpointed(spark, pages_df, b, groups=2)
    with pytest.raises(ValueError, match="'batch' mode; refusing 'streaming'"):
        streaming.ingest_available_now(spark, pages_dir, b)

    # streaming first -> batch refused
    s = TripleStore(str(tmp_path / "store_s"), n_buckets=4)
    streaming.ingest_available_now(spark, pages_dir, s)
    with pytest.raises(ValueError, match="'streaming' mode; refusing 'batch'"):
        pipeline.run_checkpointed(spark, pages_df, s, groups=2)


def test_replayed_epoch_does_not_double_commit(spark, tmp_path):
    """foreachBatch is at-least-once: a crash between the snapshot commit and
    the stream's commit log re-delivers the same epoch. The manifest-recorded
    epoch id must make the second delivery a no-op, not a double commit
    (exercised through _process_epoch — deleting a live stream checkpoint's
    commit log trips Spark's concurrent-modification detection instead)."""
    import pandas as pd

    pages = fixtures.gen_pages(8)
    store = TripleStore(str(tmp_path / "store_ep"), n_buckets=4)
    store.claim_mode("streaming")
    batch = spark.createDataFrame(pd.DataFrame(pages))

    unit1 = streaming._process_epoch(spark, store, batch, 0, False)
    assert unit1 is not None
    n1 = store.read(spark).count()
    assert n1 > 0
    assert store.manifests()[0].get("epoch") == 0
    assert store.committed_epochs() == {0}

    # the replayed delivery of epoch 0: identical input, must be skipped
    assert streaming._process_epoch(spark, store, batch, 0, False) is None
    assert store.read(spark).count() == n1
    assert len(store.manifests()) == 1

    # the NEXT epoch commits normally
    assert streaming._process_epoch(spark, store, batch.limit(2), 1, False)
    assert store.committed_epochs() == {0, 1}

    # and the guard survives compaction (epochs fold into the merged manifest)
    store.compact(spark)
    assert store.committed_epochs() == {0, 1}
    assert streaming._process_epoch(spark, store, batch, 1, False) is None


def test_checkpoint_rebuild_guard_and_stream_scoped_epochs(spark, tmp_path):
    """A store with committed epochs but NO stream checkpoint (the checkpoint
    dir was deleted/rebuilt) must refuse to start by default — epoch
    numbering restarts at 0 and the bare-epoch replay guard silently dropped
    genuinely-new batches whose ids collided (ADVICE r4). With
    allow_new_checkpoint=True the run proceeds under a FRESH stream id, and
    new data IS committed despite the epoch-id collision."""
    import shutil

    import pytest

    pages = fixtures.gen_pages(8)
    pages_dir = str(tmp_path / "inbox")
    _write_pages(pages[:5], f"{pages_dir}/part-0.parquet")
    store = TripleStore(str(tmp_path / "store_rb"), n_buckets=4)
    units1 = streaming.ingest_available_now(spark, pages_dir, store,
                                            dedup_content=True)
    assert units1
    # manifests record the stream run id alongside the epoch
    assert all(
        "stream_id" in m for m in store.manifests() if "epoch" in m
    )
    n1 = store.read(spark).count()

    # checkpoint wiped, store kept: refuse cold start
    shutil.rmtree(os.path.join(store.root, "stream_checkpoint"))
    with pytest.raises(ValueError, match="no stream checkpoint"):
        streaming.ingest_available_now(spark, pages_dir, store,
                                       dedup_content=True)

    # deliberate restart: the fresh run's epoch 0 must NOT be swallowed by
    # the old run's committed epoch 0 — the new pages land, the re-read old
    # pages dedup away by content
    _write_pages(pages[5:], f"{pages_dir}/part-1.parquet")
    units2 = streaming.ingest_available_now(
        spark, pages_dir, store, dedup_content=True, allow_new_checkpoint=True
    )
    assert units2
    import pandas as pd

    from kgx import kernel, pipeline

    subs = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    oneshot = pipeline.build_triples(spark, spark.createDataFrame(pd.DataFrame(pages)))
    want_subs = {r.subj for r in oneshot.select("subj").distinct().collect()}
    # the new wave's extractable pages all landed (page 5 yields zero triples
    # even in a one-shot batch — compare against that, not against len(pages))
    assert subs == want_subs
    import hashlib

    known = {r.content_sha for r in store.known_content(spark).collect()}
    for p in pages[5:]:
        assert hashlib.sha256(p["html"]).hexdigest() in known
    # and nothing double-committed
    assert store.read(spark).count() == oneshot.count() > n1
    epochs = [m["epoch"] for m in store.manifests() if "epoch" in m]
    assert len(epochs) == len(store.committed_epoch_keys())
    assert 0 in [e for _, e in store.committed_epoch_keys()]


def test_legacy_bare_epochs_do_not_swallow_a_rebuilt_run(spark, tmp_path):
    """A store whose manifests predate stream-id recording (bare epochs) and
    whose checkpoint is gone: the advertised recovery (allow_new_checkpoint +
    dedup_content) must COMMIT the new run's batches even though their epoch
    ids collide with the legacy bare ids — the wildcard match only applies to
    runs continuing the checkpoint that wrote those manifests (round-5
    review)."""
    import pandas as pd

    pages = fixtures.gen_pages(12)
    store = TripleStore(str(tmp_path / "store_legacy"), n_buckets=4)
    store.claim_mode("streaming")
    # legacy commits: epochs 0 AND 1, no stream id recorded
    batch = spark.createDataFrame(pd.DataFrame(pages[:4]))
    assert streaming._process_epoch(spark, store, batch, 0, True) is not None
    assert streaming._process_epoch(
        spark, store, spark.createDataFrame(pd.DataFrame(pages[4:6])), 1, True
    ) is not None
    assert {(None, 0), (None, 1)} <= store.committed_epoch_keys()
    n1 = store.read(spark).count()

    # rebuilt world: fresh checkpoint, new + old files land together; the new
    # run's epoch 0 must not be swallowed by the legacy bare epoch 0
    pages_dir = str(tmp_path / "inbox")
    _write_pages(pages[:8], f"{pages_dir}/part-0.parquet")
    units = streaming.ingest_available_now(
        spark, pages_dir, store, dedup_content=True, allow_new_checkpoint=True
    )
    assert units, "new batch swallowed by a dead run's bare epoch id"
    assert store.read(spark).count() > n1
    n2 = store.read(spark).count()

    # the rebuild decision must be DURABLE: the adopting run 'crashed' and a
    # later plain restart (checkpoint now exists, no allow flag) delivers
    # epoch 1 — which collides with the dead run's bare epoch 1 and must
    # still commit (round-5 review: a transient had_checkpoint flag regressed
    # here to silent data loss)
    assert store.legacy_epochs_disowned()
    # enforcement lives in the STORE, not just ingest wiring: any
    # stream-identified caller stops matching the dead bare keys, while a
    # caller with no stream identity keeps matching its own bare commits
    assert not store.is_epoch_committed(1, "some-other-stream-id")
    assert store.is_epoch_committed(1, None)
    _write_pages(pages[8:], f"{pages_dir}/part-1.parquet")
    units2 = streaming.ingest_available_now(spark, pages_dir, store,
                                            dedup_content=True)
    assert units2, "restart after rebuild re-honored dead bare epoch ids"
    assert store.read(spark).count() > n2
    # full-corpus reconciliation: everything committed exactly once
    oneshot = __import__("kgx.pipeline", fromlist=["pipeline"]).build_triples(
        spark, spark.createDataFrame(pd.DataFrame(pages)))
    assert store.read(spark).count() == oneshot.count()


def test_epoch_caches_read_store_once_per_run(spark, tmp_path):
    """Across the micro-batches of ONE ingest run, the committed-content and
    entity-dictionary probes must hit the store once (seed) and then extend
    incrementally — not re-read every sidecar/entity dir per epoch (VERDICT
    r4 #2). Cross-epoch dedup must still hold through the cache."""
    pages = fixtures.gen_pages(9)
    pages_dir = str(tmp_path / "inbox")
    # three files -> three micro-batches under maxFilesPerTrigger=1; the last
    # carries a mirror of file-0 content that must dedup via the CACHE (its
    # sha was committed two epochs earlier in the same run)
    mirror = {**pages[0], "url": "https://mirror.example/proj/8881"}
    _write_pages(pages[:3], f"{pages_dir}/part-0.parquet")
    _write_pages(pages[3:6], f"{pages_dir}/part-1.parquet")
    _write_pages(pages[6:] + [mirror], f"{pages_dir}/part-2.parquet")

    store = TripleStore(str(tmp_path / "store_cache"), n_buckets=4)
    calls = {"content": 0, "entities": 0}
    orig_kc, orig_ke = store.known_content, store.known_entities
    store.known_content = lambda s: (
        calls.__setitem__("content", calls["content"] + 1) or orig_kc(s)
    )
    store.known_entities = lambda s: (
        calls.__setitem__("entities", calls["entities"] + 1) or orig_ke(s)
    )
    units = streaming.ingest_available_now(
        spark, pages_dir, store, dedup_content=True, max_files_per_trigger=1
    )
    assert len(units) == 3, "maxFilesPerTrigger=1 must give one epoch per file"
    assert calls["content"] == 1, f"sidecars re-read per epoch: {calls}"
    assert calls["entities"] == 1, f"entity dirs re-read per epoch: {calls}"

    import pandas as pd

    from kgx import kernel, pipeline

    subs = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    assert kernel.page_id_from_url(mirror["url"]) not in subs
    oneshot = pipeline.build_triples(spark, spark.createDataFrame(pd.DataFrame(pages)))
    assert subs == {r.subj for r in oneshot.select("subj").distinct().collect()}


def test_all_known_mentions_skip_canonicalization(spark, tmp_path, monkeypatch):
    """A micro-batch whose every entity mention is already in this run's
    computed dictionary must SKIP the LSH+CC canonicalization stage (the
    mapping is a pure function of the unchanged node set) and write no new
    entity snapshot; a batch introducing a novel surface runs the full path
    again. Triples produced through the skip are identical to the full
    path's for the same content."""
    import pandas as pd

    from kgx import canon

    calls = {"n": 0}
    orig = canon.canonical_mapping

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(streaming.canon, "canonical_mapping", spy)

    pages = fixtures.gen_pages(6)
    store = TripleStore(str(tmp_path / "store_skip"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()

    def ent_dirs():
        return [d for d in os.listdir(os.path.join(store.root, "entities"))
                if not d.startswith("_")]

    b0 = spark.createDataFrame(pd.DataFrame(pages))
    assert streaming._process_epoch(
        spark, store, b0, 0, False, stream_id="r", caches=caches) is not None
    assert calls["n"] == 1
    n_dirs = len(ent_dirs())

    # same content at new urls: same surfaces -> canonicalization skipped,
    # no new snapshot, and the moved pages' triples match the originals'
    moved = [{**p, "url": p["url"].replace("/proj/", "/proj/9")} for p in pages]
    b1 = spark.createDataFrame(pd.DataFrame(moved))
    assert streaming._process_epoch(
        spark, store, b1, 1, False, stream_id="r", caches=caches) is not None
    assert calls["n"] == 1, "all-known batch re-ran canonical_mapping"
    assert len(ent_dirs()) == n_dirs, "skip epoch wrote an entity snapshot"
    by_subj: dict = {}
    for r in store.read(spark).collect():
        by_subj.setdefault(r.subj, set()).add((r.pred, r.obj))
    for p in pages:
        orig_subj = "proj:" + p["url"].rstrip("/").rsplit("/", 1)[-1]
        moved_subj = "proj:9" + p["url"].rstrip("/").rsplit("/", 1)[-1]
        assert by_subj.get(orig_subj, set()) == by_subj.get(moved_subj, set())

    # a batch with a NOVEL surface runs the full path again
    donor, org = next(
        (p, o["name"]) for p in pages for o in fixtures.ORGS
        if o["name"].encode() in p["html"]
    )
    novel = {
        **donor,
        "url": "https://novel.example.com/proj/777777",
        "html": donor["html"].replace(org.encode(), b"Zyxq Consolidated"),
        "text": donor["text"].replace(org, "Zyxq Consolidated"),
    }
    b2 = spark.createDataFrame(pd.DataFrame([novel]))
    assert streaming._process_epoch(
        spark, store, b2, 2, False, stream_id="r", caches=caches) is not None
    assert calls["n"] == 2, "novel-surface batch did not re-canonicalize"
    assert len(ent_dirs()) == n_dirs + 1
    surfaces = {r.surface for r in store.known_entities(spark).df.collect()}
    assert any("Zyxq Consolidated" in s for s in surfaces)
    caches.release()


def test_content_cache_rebase_preserves_dedup(spark, tmp_path, monkeypatch):
    """When the in-run content cache re-bases from the sidecars (every
    REBASE_EVERY extensions), content committed in ANY earlier epoch must
    still dedup away — the rebase is a lineage bound, not a memory wipe."""
    import pandas as pd

    monkeypatch.setattr(streaming._EpochCaches, "REBASE_EVERY", 2)
    pages = fixtures.gen_pages(8)
    store = TripleStore(str(tmp_path / "store_rebase"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    calls = {"content": 0}
    orig_kc = store.known_content
    store.known_content = lambda s: (
        calls.__setitem__("content", calls["content"] + 1) or orig_kc(s)
    )
    for ep in range(3):
        batch = spark.createDataFrame(pd.DataFrame(pages[2 * ep: 2 * ep + 2]))
        assert streaming._process_epoch(
            spark, store, batch, ep, True, stream_id="run-r", caches=caches
        ) is not None

    # a batch of ONLY epoch-0 mirrors, arriving at the epoch whose probe
    # re-bases (union depth hit REBASE_EVERY at the end of epoch 2): fully
    # dedups through the re-based cache
    mirrors = [{**p, "url": f"https://mirror.example/proj/77{i:02d}"}
               for i, p in enumerate(pages[:2])]
    batch = spark.createDataFrame(pd.DataFrame(mirrors))
    assert streaming._process_epoch(
        spark, store, batch, 3, True, stream_id="run-r", caches=caches
    ) is None
    assert calls["content"] >= 2, "rebase never happened at REBASE_EVERY=2"
    caches.release()


def test_content_cache_survives_block_loss_mid_run(spark, tmp_path):
    """Executor-loss posture of the in-run content cache (VERDICT r5 #2):
    its leaves are durable sidecar READS, so dropping EVERY cached block in
    the session mid-run (the local-mode stand-in for losing an executor)
    leaves the cache recomputable from disk — the next epoch still dedups
    committed content instead of failing or double-committing. The round-5
    localCheckpoint leaves were non-recoverable by construction: clearing
    them destroyed the only copy of the data."""
    _epochs_across_block_loss(spark, tmp_path)


def test_distributed_entity_cache_survives_block_loss(
    spark, tmp_path, distributed_dictionary
):
    """The same block loss with the dictionary in its distributed regime:
    the entity cache's leaf is then the staged-mapping parquet, which the
    persisted read-back recomputes from."""
    _epochs_across_block_loss(spark, tmp_path)


def _epochs_across_block_loss(spark, tmp_path):
    import pandas as pd

    pages = fixtures.gen_pages(9)
    store = TripleStore(str(tmp_path / "store_loss"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    for ep in range(2):
        batch = spark.createDataFrame(pd.DataFrame(pages[3 * ep: 3 * ep + 3]))
        assert streaming._process_epoch(
            spark, store, batch, ep, True, stream_id="run-l", caches=caches
        ) is not None

    # drop every persisted/checkpointed block — the outer persisted union AND
    # any leaf blocks — via the JVM persistent-RDD registry (DataFrame-level
    # unpersist alone would leave leaf blocks alive and prove nothing). BOTH
    # caches must survive: content leaves are sidecar reads, the entity
    # cache is driver rows (over the driver budget, the staged-mapping
    # parquet), so nothing the caches hold across epochs lives only in
    # executor memory.
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(True)
    assert caches.entities is not None and caches.entities_canonical

    mirrors = [{**p, "url": f"https://mirror.example/proj/88{i:02d}"}
               for i, p in enumerate(pages[:6])]
    batch = spark.createDataFrame(pd.DataFrame(mirrors))
    assert streaming._process_epoch(
        spark, store, batch, 2, True, stream_id="run-l", caches=caches
    ) is None, "mirrors of committed content must dedup through the rebuilt cache"
    # NEW content commits through the entity cache's durable read-back (skip
    # probe or full canonicalization, both consume `known` after block loss)
    batch = spark.createDataFrame(pd.DataFrame(pages[6:9]))
    assert streaming._process_epoch(
        spark, store, batch, 3, True, stream_id="run-l", caches=caches
    ) is not None
    caches.release()


def test_entity_dirs_stay_bounded_across_epochs(spark, tmp_path, monkeypatch):
    """save_entities folds snapshots past ENTITY_FOLD_MAX_DIRS so an
    un-vacuumed stream holds O(1) entity dirs, with the folded dictionary
    byte-equal to the union of its inputs."""
    import pandas as pd

    monkeypatch.setattr(streaming, "ENTITY_FOLD_MAX_DIRS", 3)
    pages = fixtures.gen_pages(12)
    store = TripleStore(str(tmp_path / "store_fold"), n_buckets=4)
    store.claim_mode("streaming")

    def ent_dirs():
        return [d for d in os.listdir(os.path.join(store.root, "entities"))
                if not d.startswith("_")]

    prev_surfaces: set[str] = set()
    for ep in range(6):
        batch = spark.createDataFrame(pd.DataFrame(pages[2 * ep: 2 * ep + 2]))
        assert streaming._process_epoch(spark, store, batch, ep, False,
                                        stream_id="run-a") is not None
        assert len(ent_dirs()) <= 4, f"epoch {ep}: {len(ent_dirs())} dirs"
        # folding must never LOSE dictionary entries: the surface set is
        # monotone nondecreasing across epochs and folds
        surfaces = {r.surface for r in store.known_entities(spark).df.collect()}
        assert surfaces >= prev_surfaces, prev_surfaces - surfaces
        prev_surfaces = surfaces
    assert prev_surfaces


def test_epoch_guard_under_random_compact_vacuum_interleaving(spark, tmp_path):
    """Property-style sequence (seeded): commits, replays, compactions and
    vacuums in random order — committed_epochs() must be monotone
    nondecreasing, a replayed epoch must never double-commit (row count
    unchanged), and the guard must survive every compaction/vacuum (VERDICT
    r4 #8)."""
    import random

    import pandas as pd

    rng = random.Random(5)
    pages = fixtures.gen_pages(16)
    store = TripleStore(str(tmp_path / "store_prop"), n_buckets=4)
    store.claim_mode("streaming")

    next_epoch = 0
    committed: list[int] = []
    prev_epochs: set[int] = set()
    ops = (["commit"] * 7 + ["replay"] * 4 + ["compact"] * 2 + ["vacuum"] * 2)
    rng.shuffle(ops)
    for op in ops:
        if op == "commit":
            i = (2 * next_epoch) % 14
            batch = spark.createDataFrame(pd.DataFrame(pages[i: i + 2]))
            unit = streaming._process_epoch(
                spark, store, batch, next_epoch, False, stream_id="run-p")
            assert unit is not None
            committed.append(next_epoch)
            next_epoch += 1
        elif op == "replay" and committed:
            ep = rng.choice(committed)
            i = (2 * ep) % 14
            batch = spark.createDataFrame(pd.DataFrame(pages[i: i + 2]))
            n_before = store.read(spark).count()
            assert streaming._process_epoch(
                spark, store, batch, ep, False, stream_id="run-p") is None
            assert store.read(spark).count() == n_before
        elif op == "compact":
            store.compact(spark)
        elif op == "vacuum":
            store.vacuum(spark, grace_s=0.0)
        now = store.committed_epochs()
        assert now >= prev_epochs, f"guard lost epochs after {op}: {prev_epochs - now}"
        assert now == set(committed)
        prev_epochs = now


def test_exact_duplicate_rows_in_batch_survive_once(spark, tmp_path):
    """Two byte-identical (url, html) rows in one wave: dedup_content must
    keep exactly ONE copy (row_number semantics — a min-url equality filter
    would pass both and double every fact)."""
    pages = fixtures.gen_pages(3)
    dup = pages[0]
    pages_dir = str(tmp_path / "inbox")
    _write_pages([dup, dup, pages[1], pages[2]], f"{pages_dir}/part-0.parquet")
    store = TripleStore(str(tmp_path / "store_dup"), n_buckets=4)
    streaming.ingest_available_now(spark, pages_dir, store, dedup_content=True)

    import pandas as pd

    from kgx import pipeline

    oneshot = pipeline.build_triples(
        spark, spark.createDataFrame(pd.DataFrame(pages[:3]))
    ).count()
    assert store.read(spark).count() == oneshot


def test_null_html_pages_do_not_kill_the_job(spark, tmp_path):
    """A failed fetch (html NULL) must degrade to an empty page — zero facts,
    empty-content sha — not a TypeError that fails every task retry."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = fixtures.gen_pages(3)
    rows = pages[:2]
    t = pa.table(
        {
            "url": [p["url"] for p in rows] + ["https://dead.example/proj/9999"],
            "warc_ts": pa.array(
                [p["warc_ts"] for p in rows] + [rows[0]["warc_ts"]],
                pa.timestamp("us"),
            ),
            "html": pa.array([p["html"] for p in rows] + [None], pa.binary()),
            "text": [p["text"] for p in rows] + [None],
            "lang": [p["lang"] for p in rows] + [None],
        }
    )
    pages_dir = str(tmp_path / "inbox")
    os.makedirs(pages_dir)
    pq.write_table(t, f"{pages_dir}/part-0.parquet")
    store = TripleStore(str(tmp_path / "store_null"), n_buckets=4)
    units = streaming.ingest_available_now(spark, pages_dir, store,
                                           dedup_content=True)
    assert units
    subs = {r.subj for r in store.read(spark).select("subj").distinct().collect()}
    from kgx import kernel

    assert kernel.page_id_from_url("https://dead.example/proj/9999") not in subs
    for p in rows:
        assert kernel.page_id_from_url(p["url"]) in subs
    # the contentless page registered (empty-content sha), so it never re-runs
    import hashlib

    assert hashlib.sha256(b"").hexdigest() in {
        r.content_sha for r in store.known_content(spark).collect()
    }


def test_dedup_only_epochs_still_rebase(spark, tmp_path, monkeypatch):
    """The content cache re-bases on PROBE count, not extension count: a
    stream whose batches fully dedup commits nothing (so it never extends),
    yet must still re-seed from the sidecars every REBASE_EVERY epochs —
    otherwise a pre-run compact()'s victim sidecars stay referenced for the
    whole run and an operator vacuum can yank them (review r6)."""
    import pandas as pd

    monkeypatch.setattr(streaming._EpochCaches, "REBASE_EVERY", 2)
    pages = fixtures.gen_pages(4)
    store = TripleStore(str(tmp_path / "store_ponly"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    calls = {"content": 0}
    orig_kc = store.known_content
    store.known_content = lambda s: (
        calls.__setitem__("content", calls["content"] + 1) or orig_kc(s)
    )
    batch = spark.createDataFrame(pd.DataFrame(pages))
    assert streaming._process_epoch(
        spark, store, batch, 0, True, stream_id="run-p", caches=caches
    ) is not None
    # every later batch is mirrors of committed content: dedups fully, no
    # commit, no extension — only probes drive the rebase clock
    for ep in range(1, 5):
        mirrors = [{**p, "url": f"https://m{ep}.example/proj/6{ep}{i:02d}"}
                   for i, p in enumerate(pages)]
        batch = spark.createDataFrame(pd.DataFrame(mirrors))
        assert streaming._process_epoch(
            spark, store, batch, ep, True, stream_id="run-p", caches=caches
        ) is None
    assert calls["content"] >= 2, (
        "dedup-only epochs never re-based: victim-sidecar references would "
        "last the whole run"
    )
    caches.release()


@pytest.fixture
def distributed_dictionary(monkeypatch):
    """Force the entity dictionary's distributed regime (the fallback over
    the driver budget): with the driver budget zeroed the store reads its
    snapshots with Spark, the mapping runs LSH+CC, and the epoch stages,
    adopts and persists it. No mention rows are collected either, so every
    epoch canonicalizes (test_forced_fallback_matches_driver_regime covers
    the broadcast skip probe)."""
    from kgx import util

    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)


def test_entity_snapshot_adopted_from_staged_mapping(
    spark, tmp_path, distributed_dictionary
):
    """Distributed regime: a mapping-bearing epoch must publish its entity
    snapshot by ADOPTING the just-staged mapping files (hardlink — same
    inodes, no second Spark write of the dictionary), and the snapshot must
    survive the scratch entry's deletion at run end."""
    import pandas as pd

    pages = fixtures.gen_pages(5)
    store = TripleStore(str(tmp_path / "store_adopt"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    batch = spark.createDataFrame(pd.DataFrame(pages))
    assert streaming._process_epoch(
        spark, store, batch, 0, False, stream_id="run-a", caches=caches
    ) is not None
    scratch = os.path.join(store.root, "mapping_cache")
    (staged_key,) = os.listdir(scratch)
    (snap_key,) = [d for d in os.listdir(store.entities_dir)
                   if not d.startswith("_")]
    staged_inodes = {
        n: os.stat(os.path.join(scratch, staged_key, n)).st_ino
        for n in os.listdir(os.path.join(scratch, staged_key))
    }
    snap_dir = os.path.join(store.entities_dir, snap_key)
    snap_inodes = {n: os.stat(os.path.join(snap_dir, n)).st_ino
                   for n in os.listdir(snap_dir)}
    assert snap_inodes == staged_inodes, "snapshot is a re-write, not an adopt"

    expected = {(r.surface, r.rep) for r in caches.entities.df.collect()}
    caches.release()
    store.clear_mapping_cache()
    got = {(r.surface, r.rep)
           for r in store.known_entities(spark).df.collect()}
    assert got == expected, "snapshot did not survive scratch deletion"


def test_run_end_clears_mapping_scratch(spark, tmp_path, distributed_dictionary):
    """Distributed regime: ingest_available_now must clear the run's
    staged-mapping scratch in its finally block: a store ingested once and
    then served read-only must
    not keep a dictionary-sized mapping_cache parquet forever (vacuum
    deliberately never sweeps it)."""
    pages = fixtures.gen_pages(6)
    pages_dir = str(tmp_path / "inbox_sc")
    _write_pages(pages, f"{pages_dir}/part-0.parquet")
    store = TripleStore(str(tmp_path / "store_sc"), n_buckets=4)
    units = streaming.ingest_available_now(spark, pages_dir, store,
                                           dedup_content=True)
    assert units
    scratch = os.path.join(store.root, "mapping_cache")
    assert os.listdir(scratch) == [], "run left staged-mapping scratch behind"
    # the snapshot the scratch backed is intact
    assert store.known_entities(spark).count() > 0


def test_caches_release_then_reuse_reseeds_from_store(spark, tmp_path):
    """release() must reset the loaded flags along with the frames: a caches
    object reused after release has to re-seed from the store — 'loaded but
    None' answers would re-extract committed content (duplicate units) and
    canonicalize with known=None (rep drift)."""
    import pandas as pd

    pages = fixtures.gen_pages(4)
    store = TripleStore(str(tmp_path / "store_rr"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    batch = spark.createDataFrame(pd.DataFrame(pages))
    assert streaming._process_epoch(
        spark, store, batch, 0, True, stream_id="run-rr", caches=caches
    ) is not None
    caches.release()

    # after release, mirrors of committed content must STILL dedup away
    mirrors = [{**p, "url": f"https://rr.example/proj/5{i:03d}"}
               for i, p in enumerate(pages)]
    batch = spark.createDataFrame(pd.DataFrame(mirrors))
    assert streaming._process_epoch(
        spark, store, batch, 1, True, stream_id="run-rr", caches=caches
    ) is None, "release()d cache claimed empty known-content"
    # and the re-seeded entity dictionary is the store's, not None
    assert caches.known_entities(spark, store).count() > 0
    caches.release()


def test_non_dedup_epoch_registers_all_content(spark, tmp_path):
    """commit()'s content contract holds with dedup OFF too: EVERY processed
    page's sha registers in the unit sidecar — including pages yielding zero
    facts — so a later dedup_content=True run over an overlapping corpus
    skips them instead of re-extracting on every wave (review r6: the old
    triples-derived default silently dropped zero-fact pages)."""
    import hashlib

    import pandas as pd

    pages = fixtures.gen_pages(3)
    store = TripleStore(str(tmp_path / "store_reg"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    batch = spark.createDataFrame(pd.DataFrame(pages))
    assert streaming._process_epoch(
        spark, store, batch, 0, False, stream_id="run-reg", caches=caches
    ) is not None
    caches.release()
    known = {r.content_sha for r in store.known_content(spark).collect()}
    for p in pages:
        assert hashlib.sha256(p["html"]).hexdigest() in known, (
            "non-dedup epoch failed to register a processed page's content"
        )

    # and a dedup run over the SAME corpus (fresh store handle, new stream)
    # fully skips it via those sidecars
    store2 = TripleStore(str(tmp_path / "store_reg"), n_buckets=4)
    caches2 = streaming._EpochCaches()
    mirrors = [{**p, "url": f"https://reg.example/proj/7{i:02d}"}
               for i, p in enumerate(pages)]
    batch2 = spark.createDataFrame(pd.DataFrame(mirrors))
    assert streaming._process_epoch(
        spark, store2, batch2, 1, True, stream_id="run-reg", caches=caches2
    ) is None, "mirrors of registered content must dedup through the sidecars"
    caches2.release()


def _watch_canon_gap(monkeypatch, store, dag) -> dict:
    """Record the scheduler's next job id when the batch's mention collect
    (canon.mention_surfaces) returns and when store.commit is entered: equal
    ids mean no Spark job ran between the two."""
    from kgx import canon

    marks: dict = {}
    collect, commit = canon.mention_surfaces, store.commit

    def mention_surfaces(*a, **k):
        out = collect(*a, **k)
        marks["mentions"] = dag.nextJobId()
        return out

    def watched_commit(*a, **k):
        marks["commit"] = dag.nextJobId()
        return commit(*a, **k)

    monkeypatch.setattr(canon, "mention_surfaces", mention_surfaces)
    store.commit = watched_commit
    return marks


def _arrival_epoch_jobs(spark, tmp_path, monkeypatch):
    """Spark jobs submitted by one warm dedup epoch over a 24-page batch
    (4 of them mirrors of committed content), counted with the scheduler's
    next-job-id window (perfbench/trace.py's attribution), and the marks of
    _watch_canon_gap."""
    import pandas as pd

    pages = fixtures.gen_pages(40)
    store = TripleStore(str(tmp_path / "store_jobs"), n_buckets=4)
    store.claim_mode("streaming")
    # warm-up epoch: worker pool, entity dictionary and content sidecars
    # exist before the measured one, as on any arrival after the first
    warm = streaming._EpochCaches()
    assert streaming._process_epoch(
        spark, store, spark.createDataFrame(pd.DataFrame(pages[:20])), 0, True,
        stream_id="run-j", caches=warm) is not None
    warm.release()
    # the measured epoch runs on fresh caches, like a one-file
    # ingest_available_now call
    caches = streaming._EpochCaches()
    mirrors = [{**p, "url": f"https://mirror.example/proj/44{i:02d}"}
               for i, p in enumerate(pages[:4])]
    batch = spark.createDataFrame(pd.DataFrame(pages[20:] + mirrors))
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    marks = _watch_canon_gap(monkeypatch, store, dag)
    lo = dag.nextJobId()
    unit = streaming._process_epoch(
        spark, store, batch, 1, True, stream_id="run-j", caches=caches)
    jobs = dag.nextJobId() - lo
    assert caches.entities.rows is not None, "dictionary left the driver regime"
    caches.release()
    assert unit is not None
    return jobs, marks


def test_arrival_epoch_job_count(spark, tmp_path, monkeypatch):
    """Fixed per-arrival cost, pinned as a job count: a warm
    _process_epoch(dedup_content=True, caches=...) submits 13 Spark jobs
    for this batch, 21 before the entity dictionary stayed on the driver.
    Those 21 were the dedup pin (5), an emptiness take (1), a 6-job path
    probe over mentions UNION the known dictionary, known.collect() (2),
    the staged-mapping write (1), the commit write (2), the violation
    aggregate (2) and the content sidecar's distinct + write (2). Now the
    pin sizes and collects its shas (1 job, also the emptiness check), the
    mention collect is a 3-job bounded Arrow limit that first materializes
    the facts, the dictionary and both sidecars are pyarrow reads/writes,
    and no job runs between the mention collect and the commit write.
    (31 before that, for the same batch: the rewritten triples were
    localCheckpointed and aggregated before the commit, the content-cache
    seed persisted and counted, the committed unit folded into the cache at
    once, and a mapping whose rows the driver held probed and collected.)"""
    jobs, marks = _arrival_epoch_jobs(spark, tmp_path, monkeypatch)
    assert jobs == 13
    assert marks["commit"] == marks["mentions"], (
        f"{marks['commit'] - marks['mentions']} jobs between the mention "
        "collect and the commit write"
    )


def test_skip_epoch_submits_no_canonicalization_job(spark, tmp_path, monkeypatch):
    """Driver regime, all-known batch: after the mention collect the skip
    is a driver set check — canonical_mapping is not called and no Spark
    job runs before the commit write."""
    import pandas as pd

    from kgx import canon

    pages = fixtures.gen_pages(6)
    store = TripleStore(str(tmp_path / "store_skipjobs"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    assert streaming._process_epoch(
        spark, store, spark.createDataFrame(pd.DataFrame(pages)), 0, False,
        stream_id="r", caches=caches) is not None
    calls = {"n": 0}
    orig = canon.canonical_mapping

    def spy(*a, **k):
        calls["n"] += 1
        return orig(*a, **k)

    monkeypatch.setattr(streaming.canon, "canonical_mapping", spy)
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    marks = _watch_canon_gap(monkeypatch, store, dag)
    moved = [{**p, "url": p["url"].replace("/proj/", "/proj/9")} for p in pages]
    assert streaming._process_epoch(
        spark, store, spark.createDataFrame(pd.DataFrame(moved)), 1, False,
        stream_id="r", caches=caches) is not None
    caches.release()
    assert calls["n"] == 0, "all-known batch re-ran canonical_mapping"
    assert marks["commit"] == marks["mentions"]


def test_driver_regime_epoch_stages_nothing(spark, tmp_path):
    """Driver regime: the epoch keeps its mapping as rows, writes the entity
    snapshot and the dedup content sidecar from driver rows (one pyarrow
    file each, no Spark output) and never touches the mapping scratch."""
    import pandas as pd

    pages = fixtures.gen_pages(5)
    store = TripleStore(str(tmp_path / "store_drv"), n_buckets=4)
    store.claim_mode("streaming")
    caches = streaming._EpochCaches()
    unit = streaming._process_epoch(
        spark, store, spark.createDataFrame(pd.DataFrame(pages)), 0, True,
        stream_id="run-d", caches=caches)
    assert unit is not None
    rows = caches.entities.rows
    assert rows
    caches.release()
    assert not os.path.exists(os.path.join(store.root, "mapping_cache"))
    (snap,) = [d for d in os.listdir(store.entities_dir) if not d.startswith("_")]
    assert os.listdir(os.path.join(store.entities_dir, snap)) == ["part-00000.parquet"]
    t = pq.read_table(os.path.join(store.entities_dir, snap, "part-00000.parquet"))
    assert set(zip(t.column("surface").to_pylist(), t.column("rep").to_pylist())) \
        == set(rows)
    side = os.path.join(store.content_dir, f"unit={unit}")
    assert os.listdir(side) == ["part-00000.parquet"]
    import hashlib

    assert set(pq.read_table(os.path.join(side, "part-00000.parquet"))
               .column("content_sha").to_pylist()) == {
        hashlib.sha256(p["html"]).hexdigest() for p in pages
    }


def _stream_files(pages_dir, pages):
    """Three arrivals: two fresh waves, then the first wave re-crawled at new
    urls with a changed byte (new content, every mention already known)."""
    recrawl = [{**p, "url": p["url"].replace("/proj/", "/proj/8"),
                "html": p["html"] + b"\n"} for p in pages[:4]]
    _write_pages(pages[:4], f"{pages_dir}/part-0.parquet")
    _write_pages(pages[4:8], f"{pages_dir}/part-1.parquet")
    _write_pages(recrawl, f"{pages_dir}/part-2.parquet")


def test_forced_fallback_matches_driver_regime(spark, tmp_path, monkeypatch):
    """A multi-epoch stream commits the same store, entity dictionary and
    content index in the driver regime and in both forced fallbacks: the
    mapping's driver cap zeroed (LSH+CC mapping, staged dictionary,
    broadcast skip probe) and the whole driver budget zeroed (no mention
    collect either, so every epoch canonicalizes; Spark-written
    sidecars)."""
    from kgx import canon, util

    pages_dir = str(tmp_path / "inbox_fb")
    _stream_files(pages_dir, fixtures.gen_pages(8))

    def run(name):
        calls = {"n": 0, "driver_rows": []}
        orig = canon.canonical_mapping

        def spy(*a, **k):
            calls["n"] += 1
            out = orig(*a, **k)
            calls["driver_rows"].append(out.rows is not None)
            return out

        with monkeypatch.context() as m:
            m.setattr(streaming.canon, "canonical_mapping", spy)
            if name == "mapping_cap":
                m.setattr(canon, "DEDUP_DRIVER_MAX_BYTES", 0)
            elif name == "driver_budget":
                m.setattr(util, "DRIVER_MAX_ROWS", 0)
                m.setattr(util, "DRIVER_MAX_BYTES", 0)
            store = TripleStore(str(tmp_path / f"store_{name}"), n_buckets=4)
            units = streaming.ingest_available_now(
                spark, pages_dir, store, dedup_content=True,
                max_files_per_trigger=1)
        assert len(units) == 3
        triples = {tuple(r) for r in store.read(spark)
                   .select("subj", "pred", "obj", "src_url", "content_sha").collect()}
        entities = {tuple(r) for r in store.known_entities(spark).df.collect()}
        content = {r.content_sha for r in store.known_content(spark).collect()}
        assert calls["driver_rows"] == [name == "driver"] * calls["n"]
        return (triples, entities, content), calls["n"]

    driver, n_driver = run("driver")
    assert n_driver == 2, "the recrawl epoch did not skip canonicalization"
    cap, n_cap = run("mapping_cap")
    assert n_cap == 2, "the broadcast skip probe did not skip the recrawl"
    budget, n_budget = run("driver_budget")
    assert n_budget == 3
    assert cap == driver
    assert budget == driver


@pytest.mark.parametrize("cap", ["rows", "bytes"])
def test_over_budget_dictionary_is_never_collected(spark, tmp_path, monkeypatch, cap):
    """A store whose snapshot footers exceed the driver row or byte budget
    comes back as a lazy Spark read: no snapshot row is read on the
    driver, and the mapping over it runs distributed without collecting
    the known pairs."""
    from kgx import canon, util

    store = TripleStore(str(tmp_path / "store_big"), n_buckets=2)
    entries = [(f"Org {i}", "Org 0") for i in range(5)]
    store.save_entities(spark.createDataFrame(entries, "surface string, rep string"))
    if cap == "rows":
        monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 4)
    else:
        monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 8)

    def refuse(*a, **k):
        raise AssertionError("an over-budget snapshot was read on the driver")

    monkeypatch.setattr(pq.ParquetFile, "read", refuse)
    known = store.known_entities(spark)
    assert known.rows is None
    assert {tuple(r) for r in known.df.collect()} == set(entries)
    mentions = spark.createDataFrame([("Org 9",)], "surface string")
    mapping = canon.canonical_mapping(mentions, known=known)
    assert mapping.rows is None
    assert {r.surface for r in mapping.df.collect()} == {s for s, _ in entries} | {"Org 9"}


def test_content_sha_agrees_on_null_html(spark, tmp_path):
    """A failed fetch (null html) has ONE content hash in every operator:
    the stateful first-seen dedup, ingest dedup (kgx.util.content_sha_col)
    and the extraction kernel all key it as sha256(b""), so it is the same
    content as an empty page. A bare sha2(html) gave it a null key in the
    first-seen operator, which no later sighting ever matched."""
    import hashlib

    from kgx import textextract
    from kgx.util import content_sha_col

    empty_sha = hashlib.sha256(b"").hexdigest()
    page = fixtures.gen_pages(1)[0]
    null_page = {**page, "url": "https://dead.example/proj/9001",
                 "html": None, "text": None}
    empty_page = {**page, "url": "https://dead.example/proj/9002",
                  "html": b"", "text": ""}
    pages_dir = str(tmp_path / "inbox_null")
    _write_pages([page, null_page, empty_page], f"{pages_dir}/part-0.parquet")

    rows = []
    q = (
        streaming.first_seen_by_content(streaming.pages_stream(spark, pages_dir))
        .writeStream.foreachBatch(lambda df, _: rows.extend(df.collect()))
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_null"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    seen = {r.content_sha: (r.first_url, r.n_seen) for r in rows}
    assert seen[empty_sha] == ("https://dead.example/proj/9001", 2)
    assert None not in seen

    batch = spark.read.parquet(pages_dir)
    by_url = {r.url: r.sha for r in batch.select(
        "url", content_sha_col().alias("sha")).collect()}
    kernel = {r.url: r.content_sha for r in textextract.kernel_pass(batch)
              .filter("sec_idx = -1").collect()}
    assert by_url == kernel
    assert by_url[null_page["url"]] == by_url[empty_page["url"]] == empty_sha
