"""Incremental ingest via Structured Streaming (Trigger.AvailableNow).

The reference has NO streaming operators (SURVEY.md §2.10) — its incremental
semantics are append + resume (processed-set exclusion, content-hash cache).
Batch anti-join resume (kgx.pipeline.run_checkpointed) reproduces that; this
module additionally exposes the same pipeline as a file-stream for continuous
ingest: new page files landing in a directory are picked up exactly once
(stream checkpoint), each micro-batch runs the full extract -> canonicalize ->
validate chain and snapshot-commits through the TripleStore, with the persisted
entity dictionary keeping canonical representatives sticky across batches.

foreachBatch is the exactly-once seam: the store commit is atomic, and the
stream checkpoint directory records consumed files.

NB: streaming commits use buckets=[] — dedup bookkeeping lives in the stream
checkpoint, not the bucket manifest. A store is EITHER streaming or batch:
the first entry point stamps the store's mode and the other one raises
(TripleStore.claim_mode) — mixing both over the same input double-processes
because the batch resume filter can't see stream-consumed files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx import canon, pipeline
from kgx.schema import PAGES
from kgx.util import content_sha_col, driver_rows, local_frame, spread

# entity-dictionary snapshots are folded into one dir past this count, so an
# un-vacuumed long-running stream holds O(1) dirs, not O(epochs)
ENTITY_FOLD_MAX_DIRS = 16


def _stream_run_id(store) -> str | None:
    """The streaming query id from the stream checkpoint's metadata file, or
    None when no checkpoint exists yet. Spark persists this id for the life
    of the checkpoint directory and mints a fresh one when the directory is
    rebuilt — exactly the scoping the epoch replay guard needs (epoch
    numbering restarts with the checkpoint, so the bare epoch id is only
    unique within one id's run)."""
    p = os.path.join(store.root, "stream_checkpoint", "metadata")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f).get("id")


class _EpochCaches:
    """Cross-epoch caches for ONE ingest run: the committed-content sha set
    and the entity dictionary, extended incrementally per micro-batch
    instead of re-read from the store's sidecars / entity dirs on every
    epoch (a per-epoch probe is metadata-sized but still O(units) forever).

    The content cache is built lazily. The seed from the sidecars is
    persisted but not counted: the epoch's dedup anti join materializes it.
    A committed unit is only QUEUED (extend_content); the queue is folded
    in at the next probe, so the last epoch of a run — for a one-file
    arrival, its only epoch — pays no fold. The cache is re-based from the
    sidecars every REBASE_EVERY PROBES (not extensions — a stream whose
    batches fully dedup commits nothing and would never extend, leaving
    victim-sidecar references from a pre-run compact() alive for the whole
    run; probe-count rebasing bounds that window to REBASE_EVERY epochs,
    review r6), which also bounds the union-chain lineage depth. Fault
    posture: each extension's leaf is a parquet READ of the unit's
    just-committed content sidecar (TripleStore._write_content_sidecar
    publishes it before the manifest, so by commit time it always exists) —
    exactly the rows the epoch computed, but durable, so a lost executor
    recomputes the leaf from disk at task level instead of failing the
    stream query. The persisted union on top is plain persist:
    evicted/lost blocks rebuild from the sidecar reads.

    The ENTITY cache (``entities``, a canon.CanonicalMapping) has two
    regimes, following the mapping the epoch computed:

    - driver: the store's dictionary fit the driver budget
      (TripleStore.known_entities read it with pyarrow) and the mapping was
      built on the driver, so the cache holds its rows and a
      ``local_frame`` over them. Nothing is staged, persisted or read back;
      no cross-epoch state lives on executors, so block loss cannot touch
      it.
    - distributed: each mapping-bearing epoch stages its mapping to the
      store's ``mapping_cache/`` scratch (TripleStore.stage_mapping — one
      execution of LSH+CC into parquet) and the cache holds the persisted
      read-back. Re-reading the entities-dir snapshot instead would NOT be
      safe — save_entities' fold can delete the dir it just wrote, and the
      folded union of snapshots is not a function (one rep per surface) —
      hence the dedicated scratch. Every frame this cache holds across
      epochs recomputes from disk on block loss."""

    REBASE_EVERY = 32

    def __init__(self):
        self._content: DataFrame | None = None
        self._content_loaded = False
        self._content_probes = 0
        self._pending_units: list[str] = []
        self.entities: canon.CanonicalMapping | None = None
        self._entities_loaded = False
        # True only when `entities` is a mapping THIS run computed (one rep
        # per surface); the store-seeded union of snapshots may not be
        self.entities_canonical = False

    def _swap_content(self, df: DataFrame | None, materialize: bool = False) -> None:
        from pyspark import StorageLevel

        old = self._content
        if df is not None:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            if materialize:
                df.count()  # build from the cache it derives from BEFORE dropping it
        self._content = df
        if old is not None:
            old.unpersist()

    def known_content(self, spark: SparkSession, store) -> DataFrame | None:
        if not self._content_loaded or self._content_probes >= self.REBASE_EVERY:
            # the store's sidecars already hold every queued unit
            self._swap_content(store.known_content(spark))
            self._pending_units = []
            self._content_loaded = True
            self._content_probes = 0
            return self._content
        self._content_probes += 1
        if self._pending_units:
            # explicit schema: a unit whose pages all yielded zero distinct
            # shas writes an empty sidecar, and empty parquet dirs defeat
            # schema inference
            slim = spark.read.schema("content_sha string").parquet(*[
                os.path.join(store.content_dir, f"unit={u}")
                for u in self._pending_units
            ])
            self._pending_units = []
            if self._content is None:
                self._swap_content(slim)
            else:
                self._swap_content(self._content.unionByName(slim), materialize=True)
        return self._content

    def extend_content(self, unit_id: str) -> None:
        """Queue one committed unit's shas for the next probe (called only
        after the commit lands, so the cache never claims uncommitted
        content). The fold reads the unit's durable content sidecar rather
        than re-using the epoch's in-memory sha frame: the leaf is then
        task-level recoverable — the parquet survives executor loss — and
        the cache holds no reference to the epoch's localCheckpointed
        full-page frame, whose html payloads are released when the epoch
        ends."""
        self._pending_units.append(unit_id)

    def known_entities(
        self, spark: SparkSession, store
    ) -> canon.CanonicalMapping | None:
        if not self._entities_loaded:
            self.entities = store.known_entities(spark)
            self._entities_loaded = True
        return self.entities

    def set_entities(self, mapping: canon.CanonicalMapping) -> None:
        """The epoch's freshly-computed mapping supersedes the cache whole:
        canonical_mapping(known=...) carries every known surface AND rep into
        its node set and emits a row for every node in every regime (a
        surface with an empty normalized form maps to itself), so its
        output is a superset of the prior dictionary.

        A distributed mapping (the staged read-back) is persisted
        MEMORY_AND_DISK: the skip probe, broadcast build and
        canonicalize join act on it every epoch, and an unpersisted frame
        re-scans the staged parquet per action; block loss still recomputes
        from the durable parquet, so persisting strictly dominates. A
        driver mapping is its rows and needs no persist. The superseded
        frame derives from disk or from driver rows, not from the new one,
        so it can be dropped without materializing the new one first."""
        from pyspark import StorageLevel

        old = self.entities
        if mapping.rows is None:
            mapping = canon.CanonicalMapping(
                mapping.df.persist(StorageLevel.MEMORY_AND_DISK)
            )
        self.entities = mapping
        self._entities_loaded = True
        self.entities_canonical = True
        if old is not None:
            old.df.unpersist()

    def release(self) -> None:
        """Drop every persisted block AND reset the loaded flags — a caches
        object reused after release must re-seed from the store, not serve
        'loaded but None' answers that would re-extract committed content
        and canonicalize with known=None (review r6)."""
        self._swap_content(None)
        self._content_loaded = False
        self._content_probes = 0
        self._pending_units = []
        if self.entities is not None:
            self.entities.df.unpersist()
        self.entities = None
        self._entities_loaded = False
        self.entities_canonical = False


def ingest_available_now(
    spark: SparkSession,
    pages_dir: str,
    store,
    dedup_content: bool = False,
    allow_new_checkpoint: bool = False,
    max_files_per_trigger: int | None = None,
) -> list[str]:
    """Consume all currently-available page files into the store; returns unit ids.

    ``dedup_content=True`` reproduces the reference's content-hash cache
    semantics (initial_pipeline/app.py:70-81) at the ingest boundary: a page
    whose sha2(html) was already committed — same document mirrored at a new
    URL, or reposted in a later wave — is skipped BEFORE the extraction
    kernel runs, and within a batch only the min-url copy of each distinct
    content survives. The committed-content check is a left anti join against
    an in-run cache seeded from the store's per-unit content-sha SIDECARS and
    extended with each committed batch — the sidecars are read once per run
    (plus periodic re-bases), not once per micro-batch. Every surviving
    page's sha is registered at commit via commit(content=...), INCLUDING
    pages that yield zero facts — deriving the known set from triples alone
    re-extracted zero-fact pages on every later wave.

    ``allow_new_checkpoint``: a store with committed streaming epochs but NO
    stream checkpoint means the checkpoint directory was deleted or the store
    was moved — restarting cold re-reads every input file, and (without
    content dedup) re-commits it. Refused by default; pass True to proceed
    deliberately (the epoch replay guard is scoped by stream run id, so the
    new run's epochs never collide with the old run's — with
    ``dedup_content=True`` the re-read deduplicates away instead of
    double-committing).

    ``max_files_per_trigger`` caps the files per micro-batch (Spark's
    maxFilesPerTrigger; AvailableNow honors it and drains in several
    batches) — the knob that keeps one giant backlog from becoming one giant
    epoch at scale."""
    store.claim_mode("streaming")
    had_checkpoint = _stream_run_id(store) is not None
    if not had_checkpoint and store.committed_epochs() and not allow_new_checkpoint:
        raise ValueError(
            f"store at {store.root!r} has committed streaming epochs but no "
            "stream checkpoint: the checkpoint directory was deleted or the "
            "store was moved. Starting a fresh checkpoint re-reads EVERY "
            "input file; pass allow_new_checkpoint=True to proceed "
            "(with dedup_content=True to avoid double-committing)."
        )
    if not had_checkpoint and any(
        s is None for s, _ in store.committed_epoch_keys()
    ):
        # adopting a NEW checkpoint over bare (pre-stream-id) epochs: record
        # the decision DURABLY. A transient had_checkpoint flag is not
        # enough — if this adopting run crashes and restarts, the checkpoint
        # then exists, the restart would infer 'continuing run', and the
        # dead run's bare epoch ids would silently swallow new batches again.
        store.disown_legacy_epochs()
    honor_legacy = had_checkpoint and not store.legacy_epochs_disowned()
    # prior runs' staged-mapping scratch is garbage once a new run starts
    # (one live stream per store — two would collide on the checkpoint);
    # clear BEFORE the query spins up, while nothing references the entries
    store.clear_mapping_cache()
    committed: list[str] = []
    caches = _EpochCaches()

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        unit = _process_epoch(
            spark, store, batch_df, int(epoch_id), dedup_content,
            stream_id=_stream_run_id(store), caches=caches,
            # legacy bare-epoch manifests (pre stream-id recording) belong to
            # the checkpoint that existed when they were written: honor them
            # only when THIS run continues that checkpoint AND no later
            # rebuild disowned them
            honor_legacy_epochs=honor_legacy,
        )
        if unit is not None:
            committed.append(unit)

    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    try:
        q = (
            reader.parquet(pages_dir)
            .writeStream.foreachBatch(process_batch)
            .option("checkpointLocation", f"{store.root}/stream_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # a failed stream must not leave the persisted cache (and its pinned
        # checkpoint lineage) in executor storage for the life of the session
        caches.release()
        # with the cache gone nothing references the run's staged-mapping
        # scratch; clearing here (vacuum never sweeps it by design) bounds
        # leftover scratch to crash windows, which the next run's start-clear
        # covers (review r6: a store ingested once then served read-only
        # otherwise kept a dictionary-sized parquet forever)
        store.clear_mapping_cache()
    return committed


def _process_epoch(
    spark: SparkSession,
    store,
    batch_df: DataFrame,
    epoch_id: int,
    dedup_content: bool,
    stream_id: str | None = None,
    caches: _EpochCaches | None = None,
    honor_legacy_epochs: bool = True,
    timings: dict | None = None,
) -> str | None:
    """One foreachBatch epoch: dedup (optional) -> extract -> canonicalize ->
    validate -> snapshot commit. Returns the unit id, or None when nothing
    was committed (empty/fully-deduped batch, or a REPLAYED epoch).

    Replay guard: foreachBatch is at-least-once — a crash between our
    snapshot commit and the stream's commit log re-runs the epoch. The
    (stream_id, epoch) pair recorded in the manifest makes the commit
    idempotent WITHIN a stream run without poisoning a rebuilt checkpoint's
    restarted epoch numbering (module-level so the guard is testable without
    crashing a live stream checkpoint).

    ``caches`` (optional, supplied by ingest_available_now) holds the
    known-content frame and the entity dictionary across epochs so the
    store's sidecars / entity dirs are read once per run, not once per
    micro-batch; None falls back to per-call store reads (the standalone
    test/replay path).

    ``timings`` (optional): a dict this call fills with per-phase wall
    seconds — guard / dedup / extract / canon / commit —
    attributing the per-epoch fixed cost (bench/endurance_bench.py --phases).
    Diagnostics-only caveat: the 'extract' phase forces a count() on the
    persisted facts frame to separate kernel cost from canonicalization;
    the untimed path leaves materialization to the first downstream action,
    so phase boundaries (not totals) are what the flag changes."""
    import time as _time

    def _mark(key: str, t0: float) -> float:
        now = _time.perf_counter()
        if timings is not None:
            timings[key] = round(timings.get(key, 0.0) + now - t0, 4)
        return now

    t = _time.perf_counter()
    if store.is_epoch_committed(epoch_id, stream_id,
                                include_legacy=honor_legacy_epochs):
        return None
    # dedup mode learns emptiness from its pin below, at no job of its own
    if not dedup_content and not batch_df.take(1):
        return None
    t = _mark("guard", t)
    if dedup_content:
        from pyspark.sql import Window

        keyed = batch_df.withColumn("content_sha", content_sha_col())
        # deterministic within-batch keep: ONE row per distinct content,
        # the min-url copy. row_number, not url == min(url): exact
        # duplicate (url, content) rows would all satisfy the equality
        # and every one would flow through extraction
        w = Window.partitionBy("content_sha").orderBy("url", "warc_ts")
        keyed = keyed.withColumn(
            "_rn", F.row_number().over(w)
        ).filter(F.col("_rn") == 1).drop("_rn")
        known = (
            caches.known_content(spark, store)
            if caches is not None
            else store.known_content(spark)
        )
        if known is not None:
            keyed = keyed.join(known, "content_sha", "left_anti")
        # pin ONE execution of the dedup subplan (sha2 over full html +
        # window + anti-join): the extraction chain and the commit-time
        # sidecar would otherwise each re-run it per micro-batch. The pin's
        # own pass sizes its content_sha column (driver_rows); when the shas
        # fit the driver budget they are collected and the commit writes
        # the sidecar from them with no Spark job, and an empty list is the
        # emptiness check. Over the budget the batch is non-empty and the
        # sidecar is a Spark write of the pin's column.
        keyed, shas = driver_rows(
            keyed, F.octet_length("content_sha"), cols=["content_sha"]
        )
        if shas is not None and not shas:
            return None
        batch_shas = (
            keyed.select("content_sha") if shas is None else [r[0] for r in shas]
        )
        batch_df = keyed.drop("content_sha")
    else:
        # commit()'s contract holds in BOTH modes: every processed content
        # hash registers, INCLUDING pages yielding zero facts — otherwise a
        # later dedup_content=True run over an overlapping corpus re-extracts
        # those pages on every wave forever. One column-pruned sha2 scan of
        # the batch; cheaper than the old default (commit re-executed the
        # canonicalize+validate plan just to list the triples' shas) and,
        # unlike it, complete.
        # spread first: the sha2 runs in the scan stage at source
        # parallelism, and a one-file micro-batch would hash every html
        # byte near-serially per epoch (same guard the kernels use)
        batch_shas = spread(batch_df.select("html")).select(
            content_sha_col().alias("content_sha")
        )
    t = _mark("dedup", t)
    facts = pipeline.extract_stage(spark, batch_df)
    try:
        return _finish_epoch(
            spark, store, facts, batch_shas, epoch_id, stream_id, caches,
            timings, _mark, t, extend_cache=dedup_content,
        )
    finally:
        # the epoch's facts cache is one-use: everything committed derives
        # from it by the time we return (or the epoch failed and will be
        # replayed) — a long-running stream must not pin one facts cache
        # per micro-batch in the block manager
        facts.unpersist()


def _finish_epoch(
    spark, store, facts, batch_shas, epoch_id, stream_id, caches, timings,
    _mark, t, extend_cache: bool = True,
) -> str:
    """Post-extraction half of one epoch: canonicalize -> commit (which
    validates) -> cache maintenance (split out so _process_epoch can release
    the epoch's facts cache in one finally)."""
    if timings is not None:
        facts.count()  # materialize the persisted facts inside this phase
    t = _mark("extract", t)
    mentions = facts.filter(F.col("pred") == "project_proponents").select(
        F.explode("surfaces").alias("surface")
    )
    known = (
        caches.known_entities(spark, store)
        if caches is not None
        else store.known_entities(spark)
    )
    # steady-state shortcut: a batch whose every mention is already in the
    # dictionary cannot change the clustering (the mapping is a pure function
    # of the node set, and the node set is unchanged), so canonicalization —
    # O(dictionary) work per micro-batch — is skipped and the cached mapping
    # reused as-is; no new entity snapshot is written either. On a
    # long-running stream over a recurring entity population this is the
    # common case: only epochs that actually introduce surfaces pay for
    # canonicalization. Gated on entities_canonical: the reuse is only sound
    # when the cached dictionary is a FUNCTION (one rep per surface) — true
    # for a mapping this run computed, NOT for the store-seeded union of
    # snapshots, which can carry both the old and new rep for a surface
    # whose cluster a later epoch merged. So the first mapping-bearing epoch
    # of each run always runs the full path. The batch's distinct mentions
    # are collected once, under the driver budget; a mention set over it
    # takes the full path, which handles any size.
    surfaces = None
    skip = False
    if caches is not None and caches.entities_canonical and known is not None:
        surfaces = canon.mention_surfaces(mentions)
        if surfaces is not None:
            skip = _all_known(spark, surfaces, known)
    if skip:
        mapping = known
    else:
        mapping = canon.canonical_mapping(mentions, known=known, surfaces=surfaces)
        if mapping.rows is not None:
            # driver regime: the snapshot is written from the rows (pyarrow,
            # no Spark job) and the cache keeps the rows themselves
            store.save_entities(mapping, fold_max_dirs=ENTITY_FOLD_MAX_DIRS)
        else:
            # distributed regime, a durable leaf: the mapping is
            # written ONCE to the store's run-scoped scratch (one execution
            # of LSH+CC) and read back as plain parquet, so every
            # cross-epoch frame the cache holds is task-level recoverable.
            # The entity snapshot then ADOPTS the staged files by hardlink
            # (no second Spark write of the same dictionary).
            staged = store.stage_mapping(mapping.df, stream_id or "run", epoch_id)
            mapping = canon.CanonicalMapping(
                spark.read.schema("surface string, rep string").parquet(staged)
            )
            store.adopt_entities(spark, staged, fold_max_dirs=ENTITY_FOLD_MAX_DIRS)
        if caches is not None:
            caches.set_entities(mapping)
    t = _mark("canon", t)
    # one execution of the rewrite: the commit's write runs it, and the
    # commit counts the violation metrics from the files it wrote
    unit = store.commit(
        pipeline._to_triples(pipeline.canonicalize_proponents(facts, mapping)),
        buckets=[], content=batch_shas, epoch=epoch_id, stream_id=stream_id,
    )
    _mark("commit", t)
    if caches is not None and extend_cache:
        # only a dedup_content run probes the content cache; a non-dedup run
        # still WRITES complete sidecars (above) but queueing for an unread
        # cache would only grow the queue
        caches.extend_content(unit)
    return unit


def _all_known(spark, surfaces: list[str], known: canon.CanonicalMapping) -> bool:
    """Whether every batch surface is already in the dictionary: a set
    check when the dictionary lives on the driver; else the dictionary is
    scanned in place against a broadcast of the (driver-budgeted) surfaces —
    a left_anti would SHUFFLE the whole dictionary — and the distinct hits
    are counted."""
    if known.rows is not None:
        return {s for s, _ in known.rows}.issuperset(surfaces)
    batch = local_frame(spark, [(s,) for s in surfaces], "surface string")
    hits = known.df.join(F.broadcast(batch), "surface").select("surface").distinct()
    return hits.count() == len(surfaces)


def pages_stream(spark: SparkSession, pages_dir: str) -> DataFrame:
    return spark.readStream.schema(PAGES).parquet(pages_dir)


def windowed_page_counts(
    stream: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Event-time tumbling-window page counts per lang with a watermark —
    the standard late-data-tolerant streaming aggregation (no analog in the
    reference, which is batch-only; this is the engine's ingestion-monitoring
    surface). In append mode a window emits once the watermark passes its end;
    tests run outputMode('complete') for determinism and assert equality with
    the batch groupBy(window(...)) of the same data."""
    return (
        stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "lang",
            "n_pages",
        )
    )


def first_seen_by_content(
    stream: DataFrame,
    ttl: str | None = None,
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): emit each
    distinct page content once, keyed by its content sha
    (kgx.util.content_sha_col: null html hashes as empty content, as in
    ingest dedup and the extraction kernel) — the streaming form of
    the reference's content-hash cache (initial_pipeline/app.py:70-81).

    Retention policy (state-size bound at web scale):
    - ``ttl=None`` (default): exact dedup across ALL time — the semantics the
      reference's cache had. State grows with the number of distinct contents
      ever seen; a long-running stream at web scale needs the RocksDB state
      store (`kgx.session.get_spark(rocksdb_state_store=True)`, or set
      `spark.sql.streaming.stateStore.providerClass` before start()) so
      state spills to local disk instead of executor heap — exercised under
      both providers in tests/test_streaming.py.
    - ``ttl='30 days'`` (an interval string): exact dedup within an EVENT-TIME
      horizon. A content hash re-arriving more than ttl after its last
      sighting (by ``warc_ts``) is treated as fresh and re-emits; state is
      physically evicted (EventTimeTimeout) once the watermark passes
      last_seen + ttl, so state size is bounded by the horizon's distinct
      contents, not all time. Event-time, not processing-time, on purpose:
      the re-emit boundary is a property of the data, deterministic under
      replay/backfill — and ProcessingTimeTimeout never lets an
      AvailableNow query terminate (it schedules timeout-only batches
      forever; observed empirically, 300+ empty micro-batches).
      Late data older than ``watermark_delay`` may double-emit at the
      horizon edge — the standard watermark trade-off.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = None
    if ttl is not None:
        # parse '30 days' etc. via Catalyst's own interval grammar (day-time
        # intervals only — the same class withWatermark accepts)
        sess = stream.sparkSession
        ttl_ms = int(
            sess.range(1)
            .select(
                F.expr(
                    f"unix_millis(timestamp'1970-01-01 00:00:00Z' + INTERVAL '{ttl}')"
                ).alias("ms")
            )
            .first()["ms"]
        )

    def fn(key, pdfs, state: GroupState):
        empty = pd.DataFrame(
            {"content_sha": pd.Series(dtype="object"),
             "first_url": pd.Series(dtype="object"),
             "n_seen": pd.Series(dtype="int64")}
        )
        if state.hasTimedOut:
            state.remove()
            yield empty
            return
        prev, last_ms = state.get if state.exists else (0, 0)
        n = 0
        first_url = None
        max_ev = last_ms
        for pdf in pdfs:
            if len(pdf):
                # min(url), not iloc[0]: row order within a micro-batch depends
                # on partitioning, and the emitted row must be deterministic
                m = pdf["url"].min()
                first_url = m if first_url is None else min(first_url, m)
                ev = int(pdf["warc_ts"].max().value // 1_000_000)  # ns -> ms
                max_ev = max(max_ev, ev)
            n += len(pdf)
        if (
            ttl_ms is not None
            and state.exists
            and n > 0
            and max_ev - last_ms > ttl_ms
        ):
            prev = 0  # horizon passed since last sighting: fresh content
        state.update((prev + n, max_ev))
        if ttl_ms is not None:
            # evict once the watermark passes last_seen + ttl; must stay above
            # the current watermark or Spark rejects the timestamp
            state.setTimeoutTimestamp(
                max(max_ev + ttl_ms, state.getCurrentWatermarkMs() + 1)
            )
        if prev == 0 and n > 0:
            yield pd.DataFrame(
                {"content_sha": [key[0]], "first_url": [first_url],
                 "n_seen": [n]}
            )
        else:
            yield empty

    keyed = stream.withColumn("content_sha", content_sha_col())
    if ttl is not None:
        keyed = keyed.withWatermark("warc_ts", watermark_delay)
    return keyed.groupBy("content_sha").applyInPandasWithState(
        fn,
        outputStructType="content_sha string, first_url string, n_seen long",
        stateStructType="n long, last_ms long",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if ttl is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )
