"""Manifest-backed atomic snapshot store: Iceberg-semantics resume without the jar.

The reference's resumability primitives — processed-set exclusion
(tools/utils.py:39-48, verra_scraper.py:49-51) and the Redis content-hash cache
(initial_pipeline/app.py:70-81,309-317) — become:

- input rows hashed into ``n_buckets`` url-buckets (pmod(xxhash64(url), n));
- each commit unit = a group of buckets, written to ``data/unit=<id>/`` via a
  temp-dir + atomic rename, then a manifest JSON (the per-partition lineage
  record: buckets, row counts, violation counters, content-sha range) is
  written with the same tmp+rename pattern;
- resume = anti-join: pages whose bucket is already in the manifest are skipped
  (left anti semantics, cheap because it's a metadata filter on a derived
  column, not a join against the data itself);
- readers see only manifested units, so a killed run never exposes partial data.

On a real cluster this module is the swap-in point for Iceberg:
``df.writeTo(tbl).append()`` gives the same snapshot-commit semantics and the
manifest becomes the snapshot summary properties.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx import canon
from kgx.util import fits_driver, local_frame

_ENTITY_SCHEMA = "surface string, rep string"


def bucket_col(url_col, n_buckets: int):
    return F.pmod(F.xxhash64(url_col), F.lit(n_buckets)).cast("int")


class TripleStore:
    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets
        self.data_dir = os.path.join(root, "data")
        self.manifest_dir = os.path.join(root, "manifest")
        self.staging_dir = os.path.join(root, "staging")
        self.entities_dir = os.path.join(root, "entities")
        self.content_dir = os.path.join(root, "content")
        for d in (self.data_dir, self.manifest_dir, self.staging_dir,
                  self.entities_dir, self.content_dir):
            os.makedirs(d, exist_ok=True)
        # manifest parse cache, keyed by the manifest-dir filename set (see
        # _all_manifests) — several pipeline steps call manifests() in loops
        self._manifest_cache: tuple[tuple[str, ...], list[dict]] | None = None

    # -- atomic exclusive publish (shared by mode stamp / manifests / markers)
    def _publish_exclusive(self, tmp_path: str, final_path: str, payload: dict) -> bool:
        """Write ``payload`` to ``tmp_path`` then hard-link it to
        ``final_path``: atomic (readers never see partial JSON) AND exclusive
        (link(2) fails with EEXIST if the name was already claimed — a
        last-wins rename would let two concurrent first claimants both
        succeed). Returns True when THIS call published, False on EEXIST;
        the tmp file is removed either way. Callers choose tmp naming so
        crash orphans stay inside vacuum()'s sweep and outside reader
        globs."""
        with open(tmp_path, "w") as f:
            json.dump(payload, f, indent=1)
        try:
            os.link(tmp_path, final_path)
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp_path)

    def _new_key(self) -> str:
        """Millisecond-timestamp + uuid suffix — the id format for commit
        units and entity snapshots. One definition: vacuum's sweeps and
        snapshot listing rely on the shape, so the four minting sites must
        not drift."""
        return f"{int(time.time() * 1000):013d}-{uuid.uuid4().hex[:8]}"

    # -- atomic parquet publish (shared by sidecar / stage / entities / map) --
    def _publish_parquet(
        self, data, tmp_name: str, final_path: str, replace: bool = False
    ) -> None:
        """Write ``data`` as parquet to a ROOT-level tmp dir, then rename(2)
        into place — the atomic-publish idiom every parquet artifact of the
        store uses. ``data`` is a DataFrame (a Spark write) or a pyarrow
        Table held on the driver (one file written with pyarrow, no Spark
        job). ``tmp_name`` MUST carry one of vacuum()'s swept prefixes
        (``_tmp-`` / ``_stage-tmp-`` / ``_ent-tmp-``): a crash between write
        and rename leaves an orphan that the grace-windowed sweep reclaims,
        and keeping the publish here keeps that naming contract in ONE place
        instead of four hand-rolled copies (review r6). ``replace=True``
        pre-deletes an existing final dir (a replayed epoch re-staging the
        same key); the default rename fails over a non-empty existing dir."""
        import shutil

        tmp = os.path.join(self.root, tmp_name)
        if isinstance(data, DataFrame):
            data.write.mode("overwrite").parquet(tmp)
        else:
            import pyarrow.parquet as pq

            os.makedirs(tmp)
            pq.write_table(data, os.path.join(tmp, "part-00000.parquet"))
        if replace:
            shutil.rmtree(final_path, ignore_errors=True)
        os.rename(tmp, final_path)

    # -- mode guard ----------------------------------------------------------
    def claim_mode(self, mode: str) -> None:
        """Stamp the store with its ingest mode on first use; refuse the other
        entry point thereafter. Batch (run_checkpointed) tracks consumed input
        by url-bucket manifests; streaming (ingest_available_now) tracks it in
        the stream checkpoint — neither bookkeeping can see the other, so
        mixing them over one store silently double-processes input. Failing
        loudly here turns a silent-duplication hazard into an immediate error
        (round-3 review)."""
        p = os.path.join(self.root, "mode.json")

        def _check(have: str) -> None:
            if have != mode:
                raise ValueError(
                    f"store at {self.root!r} was first used in {have!r} mode; "
                    f"refusing {mode!r} ingest — mixing batch and streaming "
                    "over one store double-processes input (use a separate "
                    "store per ingest mode)"
                )

        if os.path.exists(p):
            with open(p) as f:
                _check(json.load(f)["mode"])
            return
        tmp = os.path.join(self.root, f"_tmp-mode-{uuid.uuid4().hex[:8]}")
        if not self._publish_exclusive(tmp, p, {"mode": mode}):
            # lost the race: re-validate against whatever the winner stamped
            with open(p) as f:
                _check(json.load(f)["mode"])

    # -- manifest ------------------------------------------------------------
    def _all_manifests(self) -> list[dict]:
        """Parse every manifest JSON, memoized on the directory's filename
        set. Correct-by-construction invalidation (no mtime-granularity
        races): manifest files are IMMUTABLE once published (tmp + link(2),
        never rewritten in place), so the name set fully determines the
        contents — commits and compactions change the set, which busts the
        cache; nothing else can change what the files say."""
        names = tuple(
            sorted(n for n in os.listdir(self.manifest_dir) if n.endswith(".json"))
        )
        if self._manifest_cache is not None and self._manifest_cache[0] == names:
            return list(self._manifest_cache[1])
        out = []
        for name in names:
            with open(os.path.join(self.manifest_dir, name)) as f:
                out.append(json.load(f))
        self._manifest_cache = (names, out)
        return list(out)

    def manifests(self) -> list[dict]:
        """Live manifests: units superseded by a compaction (listed in another
        manifest's ``replaces``) are invisible the instant the compacted
        manifest lands — the atomic-swap that makes compact() crash-safe
        (old units are garbage, not truth, from that point)."""
        raw = self._all_manifests()
        replaced: set[str] = set()
        for m in raw:
            replaced.update(m.get("replaces", []))
        return [m for m in raw if m["unit"] not in replaced]

    def committed_buckets(self) -> set[int]:
        done: set[int] = set()
        for m in self.manifests():
            done.update(m["buckets"])
        return done

    # -- write ---------------------------------------------------------------
    def _write_content_sidecar(
        self, unit_id: str, content: DataFrame | list[str]
    ) -> None:
        """Per-unit distinct-content_sha index, published with the same
        tmp+rename pattern as data (the `_tmp-` prefix keeps crash orphans
        inside vacuum()'s sweep). Probing committed content then costs a scan
        of these slim sidecars — the O(1)-per-probe semantics of the
        reference's Redis content cache (initial_pipeline/app.py:70-81) at
        snapshot-store scale — instead of re-reading every committed unit's
        triple data per probe. ``content`` is a frame with a ``content_sha``
        column, or the shas as a driver-side list (written with pyarrow)."""
        if isinstance(content, DataFrame):
            data = content.select("content_sha").distinct()
        else:
            import pyarrow as pa

            shas = pa.array(sorted(set(content)), pa.string())
            data = pa.table({"content_sha": shas})
        self._publish_parquet(
            data,
            f"_tmp-content-{unit_id}",
            os.path.join(self.content_dir, f"unit={unit_id}"),
        )

    def commit(
        self,
        triples: DataFrame,
        buckets: list[int],
        content: DataFrame | list[str] | None = None,
        epoch: int | None = None,
        stream_id: str | None = None,
    ) -> str:
        """Atomically materialize one commit unit: data rename, violation
        counters, content-sha sidecar, then manifest (the manifest is the
        commit point; anything before it is invisible garbage on a crash).

        The manifest's ``metrics`` (per-pred rows and structured-output
        violations, kgx.extract.violation_metrics) are counted from the
        unit's written files, not from ``triples``: ``triples`` is executed
        once, by the data write, and the counters cost one scan of a
        unit-sized parquet. A zero-triple unit records ``{}``.

        ``content``: optional DataFrame with a ``content_sha`` column listing
        EVERY content hash processed into this unit — pass it when some inputs
        legitimately yield zero triples (a page with no extractable facts must
        still register, or ingest-time dedup re-extracts it forever). Defaults
        to the distinct content_sha of the triples themselves. A list of sha
        strings (shas the caller already holds on the driver) writes the
        sidecar with pyarrow, with no Spark job.

        ``epoch``: optional streaming micro-batch id recorded in the manifest
        — the idempotence key that lets a replayed foreachBatch epoch (crash
        between this commit and the stream's own commit log) be detected and
        skipped instead of double-committed.

        ``stream_id``: the streaming query id that produced ``epoch`` (from
        the stream checkpoint's metadata). Epoch numbering restarts at 0 when
        a stream checkpoint is rebuilt, so a bare epoch id is only unique
        WITHIN one stream run — scoping the replay guard by stream id keeps a
        rebuilt checkpoint's genuinely-new batch 0 from colliding with an old
        run's committed epoch 0 (which silently dropped its data)."""
        unit_id = self._new_key()
        final_dir = os.path.join(self.data_dir, f"unit={unit_id}")
        tmp_dir = os.path.join(self.root, f"_tmp-{unit_id}")
        # partition the files by pred, salt the write by subj-hash so one hot
        # predicate doesn't serialize into a single task (SURVEY.md §4 skew
        # row). No explicit partition count: AQE sizes the write by bytes
        # (coalescePartitions, parallelismFirst=false in kgx.session), so a
        # small streaming epoch lands as a few right-sized files instead of
        # cores x preds splinters (round 6: a 2.5k-page unit wrote 48 files
        # in 2.4s fixed-width vs 6 files in 0.8s coalesced — a long-running
        # stream is otherwise a small-file swamp until compact()), while a
        # big batch unit keeps full write parallelism.
        (
            triples.repartition("pred", F.pmod(F.xxhash64("subj"), F.lit(64)))
            .write.mode("overwrite")
            .partitionBy("pred")
            .parquet(tmp_dir)
        )
        os.rename(tmp_dir, final_dir)  # atomic on one FS; Iceberg commit stand-in
        from kgx.extract import violation_metrics

        metrics = violation_metrics(
            self._read_units(triples.sparkSession, [unit_id])
        )
        self._write_content_sidecar(
            unit_id, content if content is not None else triples
        )
        manifest = {
            "unit": unit_id,
            "content_sidecar": True,
            # monotonic commit sequence: millisecond ids can tie (uuid breaks
            # the tie randomly) and clocks can step — snapshot ordering for
            # read_as_of must be COMMIT order, not id order
            "seq": self._next_seq(),
            "buckets": sorted(buckets),
            "metrics": metrics,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if epoch is not None:
            manifest["epoch"] = epoch
            if stream_id is not None:
                manifest["stream_id"] = stream_id
        self._write_manifest(manifest)
        return unit_id

    def committed_epoch_keys(self) -> set[tuple[str | None, int]]:
        """(stream_id, epoch) pairs already snapshot-committed, from live
        manifests; compaction folds its victims' keys into the merged manifest
        so the replay guard survives maintenance. Legacy manifests that
        recorded a bare epoch (or compacted `epochs` lists) yield a None
        stream_id, which is_epoch_committed matches only when its caller
        passes include_legacy=True (a run continuing the checkpoint that
        wrote them — see is_epoch_committed)."""
        out: set[tuple[str | None, int]] = set()
        for m in self.manifests():
            if "epoch" in m:
                out.add((m.get("stream_id"), m["epoch"]))
            out.update((None, e) for e in m.get("epochs", []))
            out.update((s, e) for s, e in m.get("epoch_keys", []))
        return out

    def committed_epochs(self) -> set[int]:
        """Streaming epochs already snapshot-committed, across all stream
        runs (use is_epoch_committed for the run-scoped replay guard)."""
        return {e for _, e in self.committed_epoch_keys()}

    def is_epoch_committed(
        self,
        epoch: int,
        stream_id: str | None = None,
        include_legacy: bool = True,
    ) -> bool:
        """Replay-guard probe, scoped to one stream run: True when ``epoch``
        was committed by the run identified by ``stream_id``, or — when
        ``include_legacy`` — by a legacy manifest that recorded no stream id.
        A DIFFERENT run's epoch of the same number does not match: after a
        stream checkpoint rebuild epoch ids restart at 0, and treating the
        old run's epoch 0 as 'already committed' silently discarded the new
        batch's data.

        ``include_legacy`` belongs to the CALLER's knowledge, not this
        store's: a stream continuing the checkpoint that produced the bare
        legacy epochs must honor them (its replays arrive with the same
        ids), while a deliberately REBUILT checkpoint must not (its fresh
        epoch 0.. would collide with a dead run's ids and drop new data —
        exactly the bug stream scoping exists to prevent). The DURABLE
        disownment marker (disown_legacy_epochs) is enforced HERE, not only
        in ingest_available_now's wiring: once bare epochs are disowned, no
        stream-identified caller ever matches them again, whatever
        include_legacy says — the durable decision lives with the durable
        state. A caller with NO stream identity (stream_id=None) commits and
        replays bare keys by construction, so its own keys keep matching."""
        keys = self.committed_epoch_keys()
        if (stream_id, epoch) in keys:
            return True
        if stream_id is None:
            return False  # its bare key was already checked above
        return (
            include_legacy
            and not self.legacy_epochs_disowned()
            and (None, epoch) in keys
        )

    # -- legacy-epoch disownment (durable rebuild decision) -------------------
    def disown_legacy_epochs(self) -> None:
        """Durably record that this store's BARE (pre-stream-id) epoch ids
        belong to a dead stream run. Written once, when an ingest adopts a
        NEW checkpoint over a store that has bare epochs: the adopting run
        can crash and restart, and on restart the checkpoint EXISTS — without
        this marker the restart would re-infer 'continuing run' and go back
        to honoring the dead run's epoch ids, silently dropping any new
        batch whose id collides (the data-loss hole the transient check left
        open)."""
        p = os.path.join(self.root, "legacy_epochs_disowned.json")
        if os.path.exists(p):
            return
        tmp = os.path.join(self.root, f"_tmp-disown-{uuid.uuid4().hex[:8]}")
        # losing the race is fine: the marker is idempotent
        self._publish_exclusive(tmp, p, {
            "disowned_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        })

    def legacy_epochs_disowned(self) -> bool:
        return os.path.exists(
            os.path.join(self.root, "legacy_epochs_disowned.json")
        )

    def _next_seq(self) -> int:
        """max(existing seq) + 1 — NOT len(manifests): a retried commit or a
        second writer racing len() would mint a duplicate seq and silently
        misorder read_as_of; and compaction shrinks the list, which would make
        len() reuse seqs."""
        seqs = [m.get("seq", 0) for m in self._all_manifests()]
        return (max(seqs) + 1) if seqs else 0

    def _write_manifest(self, manifest: dict) -> None:
        """Atomic + exclusive manifest publish: the file is named by seq, built
        as a tmp file (readers never see partial JSON), then hard-linked into
        place — link(2) fails with EEXIST if the seq was already claimed, so a
        seq collision between two writers fails loudly instead of silently
        misordering snapshots."""
        name = f"{manifest['seq']:06d}-{manifest['unit']}.json"
        # tmp name must NOT end in .json — manifest readers glob *.json and
        # must never observe a half-written file
        tmp_mf = os.path.join(self.manifest_dir, f"_tmp-{manifest['unit']}")
        if not self._publish_exclusive(
            tmp_mf, os.path.join(self.manifest_dir, name), manifest
        ):
            raise FileExistsError(
                f"manifest seq {manifest['seq']} already claimed ({name}): "
                "two writers raced the same sequence number"
            )

    # -- read ----------------------------------------------------------------
    def _read_units(self, spark: SparkSession, units: list[str]) -> DataFrame:
        from kgx.schema import TRIPLES

        if not units:
            return local_frame(spark, [], TRIPLES)
        paths = [os.path.join(self.data_dir, f"unit={u}") for u in units]
        # explicit schema: a unit committed from ZERO triples (a micro-batch
        # of extractable-fact-free pages — supported via commit(content=...))
        # writes only _SUCCESS under partitionBy, and schema inference on it
        # fails loudly; the 'pred' partition column is part of TRIPLES so
        # Spark fills it from the directory names
        return (
            spark.read.schema(TRIPLES)
            .option("basePath", self.data_dir)
            .parquet(*paths)
            .drop("unit")
        )

    def _commit_order(self) -> list[str]:
        """Units in COMMIT order: by the monotonic manifest seq (id order can
        tie within a millisecond and clocks can step; seq cannot)."""
        ms = self.manifests()
        return [m["unit"] for m in sorted(ms, key=lambda m: (m.get("seq", 0), m["unit"]))]

    def read(self, spark: SparkSession) -> DataFrame:
        return self._read_units(spark, [m["unit"] for m in self.manifests()])

    def read_as_of(self, spark: SparkSession, unit_id: str) -> DataFrame:
        """Snapshot time-travel (Iceberg `VERSION AS OF` stand-in): the table
        as of a given commit unit — that unit and every unit committed before
        it. Readers of historical snapshots see exactly what a reader at
        commit time saw, because units are immutable and the manifest list is
        append-only."""
        ordered = self._commit_order()
        if unit_id not in ordered:
            for m in self._all_manifests():
                if unit_id in m.get("replaces", []):
                    raise ValueError(
                        f"commit unit {unit_id!r} was compacted into "
                        f"{m['unit']!r}; its snapshot boundary no longer "
                        f"exists — read as of {m['unit']!r} for the merged "
                        f"boundary"
                    )
            raise ValueError(f"unknown commit unit {unit_id!r}; have {sorted(ordered)}")
        keep = ordered[: ordered.index(unit_id) + 1]
        return self._read_units(spark, keep)

    # -- maintenance -----------------------------------------------------------
    def compact(self, spark: SparkSession, keep_last: int = 0) -> str | None:
        """Rewrite committed units into ONE unit and supersede their manifests
        (Iceberg ``rewrite_data_files`` + snapshot-expiry stand-in). Frequent
        small commits otherwise grow the manifest list and the small-file count
        without bound — at web scale the metadata read and the per-file open
        cost come to dominate the scan.

        ``keep_last`` recent units are left untouched (so hot snapshot
        boundaries survive); everything older is merged. The merged unit takes
        the HIGHEST replaced seq, so read_as_of on surviving later units is
        unchanged; as-of reads on merged-away boundaries fail loudly (see
        read_as_of). Crash-safe ordering: (1) write merged data, (2) publish
        the merged manifest whose ``replaces`` list atomically supersedes the
        old units, (3) garbage-collect old DATA files — a crash after (2)
        leaves only unreferenced garbage, never a wrong table. Victims'
        content sidecars are left for vacuum()'s grace-windowed sweep (a
        live ingest's content cache may still hold read leaves over them —
        see the inline note at the GC step)."""
        import shutil

        ms = sorted(self.manifests(), key=lambda m: (m.get("seq", 0), m["unit"]))
        # max(0, ...): keep_last >= len(ms) must select NO victims — a bare
        # negative slice stop would wrap around and compact the oldest units,
        # destroying exactly the snapshot boundaries keep_last promises to keep
        victims = ms[: max(0, len(ms) - keep_last)] if keep_last else ms
        if len(victims) < 2:
            return None
        unit_id = self._new_key()
        final_dir = os.path.join(self.data_dir, f"unit={unit_id}")
        tmp_dir = os.path.join(self.root, f"_tmp-{unit_id}")
        df = self._read_units(spark, [m["unit"] for m in victims])
        (
            # same salted, AQE-sized write shape as commit()
            df.repartition("pred", F.pmod(F.xxhash64("subj"), F.lit(64)))
            .write.mode("overwrite")
            .partitionBy("pred")
            .parquet(tmp_dir)
        )
        os.rename(tmp_dir, final_dir)
        # merged sidecar from the victims' CONTENT indexes, not their triple
        # data: sidecars can carry shas of zero-triple inputs, which a
        # data-derived sidecar would silently forget (breaking ingest dedup)
        merged_content = self._content_df(spark, victims)
        if merged_content is None:  # pragma: no cover — victims >= 2 above
            merged_content = local_frame(spark, [], "content_sha string")
        self._write_content_sidecar(unit_id, merged_content)

        merged_metrics: dict[str, dict[str, int]] = {}
        for m in victims:
            for pred, v in m.get("metrics", {}).items():
                agg = merged_metrics.setdefault(pred, {"rows": 0, "violations": 0})
                agg["rows"] += v.get("rows", 0)
                agg["violations"] += v.get("violations", 0)
        epoch_keys: set[tuple[str | None, int]] = set()
        for m in victims:
            if "epoch" in m:
                epoch_keys.add((m.get("stream_id"), m["epoch"]))
            epoch_keys.update((None, e) for e in m.get("epochs", []))
            epoch_keys.update((s, e) for s, e in m.get("epoch_keys", []))
        # sorted with None stream_ids first: tuples with None don't compare
        # against strings, so key on ("" for None, epoch)
        folded_keys = sorted(epoch_keys, key=lambda k: (k[0] or "", k[1]))
        manifest = {
            "unit": unit_id,
            "content_sidecar": True,
            "seq": max(m.get("seq", 0) for m in victims),
            **({"epoch_keys": [list(k) for k in folded_keys]} if folded_keys else {}),
            "buckets": sorted({b for m in victims for b in m["buckets"]}),
            "metrics": merged_metrics,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "replaces": [m["unit"] for m in victims],
        }
        self._write_manifest(manifest)
        # (3) GC: superseded manifests + data are unreferenced from here on
        for name in os.listdir(self.manifest_dir):
            if name.endswith(".json"):
                with open(os.path.join(self.manifest_dir, name)) as f:
                    if json.load(f)["unit"] in manifest["replaces"]:
                        os.remove(os.path.join(self.manifest_dir, name))
        for m in victims:
            shutil.rmtree(os.path.join(self.data_dir, f"unit={m['unit']}"),
                          ignore_errors=True)
            # victims' CONTENT sidecars are deliberately NOT deleted here:
            # a live ingest run's content cache holds parquet-read leaves
            # over them (streaming._EpochCaches) — an immediate delete would
            # turn the leaf's task-level block-loss recompute into
            # FileNotFoundException. The cache drops every victim reference
            # within REBASE_EVERY probes (it re-bases on PROBE count, so
            # even a stream whose batches fully dedup re-bases — review
            # r6), and touching the sidecar's mtime here restarts vacuum's
            # grace clock at this compaction: a vacuum whose grace exceeds
            # REBASE_EVERY micro-batch intervals can never yank a sidecar a
            # live cache still references.
            side = os.path.join(self.content_dir, f"unit={m['unit']}")
            if os.path.isdir(side):
                os.utime(side, None)
        return unit_id

    def vacuum(self, spark: SparkSession, grace_s: float = 6 * 3600) -> dict:
        """Housekeeping for long-lived stores (Iceberg remove_orphan_files +
        snapshot-expiry counterpart):

        - drop crash orphans: ``_tmp-*`` / ``_stage-tmp-*`` / ``_ent-tmp-*``
          under the store root (the tmp halves of interrupted atomic renames)
          plus ``data/unit=*`` and ``content/unit=*`` dirs referenced by no
          manifest (a crash AFTER the data rename but BEFORE the manifest
          publish — the commit point — or mid-GC in compact). Only paths
          whose mtime is older than ``grace_s`` are removed (Iceberg's
          remove_orphan_files older-than cutoff): a vacuum racing an
          in-flight commit/stage/save_entities must not delete live state out
          from under the writer;
        - compact the entity dictionary: save_entities appends one directory
          per run and known_entities unions them all, so a store that has run
          N times scans N directories; rewrite the distinct union into ONE
          directory (write-new-then-delete-old — a crash between the two
          leaves duplicates, which the reader's distinct() tolerates).
        """
        import shutil

        cutoff = time.time() - grace_s

        def _expired(path: str) -> bool:
            try:
                return os.path.getmtime(path) < cutoff
            except OSError:  # racing writer renamed/removed it: not ours
                return False

        def _rm(path: str) -> None:
            # tmp orphans can be files (claim_mode) as well as directories
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                try:
                    os.remove(path)
                except OSError:
                    pass

        removed = 0
        for name in os.listdir(self.root):
            if name.startswith(("_tmp-", "_stage-tmp-", "_ent-tmp-")):
                p = os.path.join(self.root, name)
                if _expired(p):
                    _rm(p)
                    removed += 1
        for name in os.listdir(self.staging_dir):
            if name.startswith("_tmp-"):
                p = os.path.join(self.staging_dir, name)
                if _expired(p):
                    _rm(p)
                    removed += 1

        # finish any compaction GC a crash interrupted: a manifest listed in
        # another manifest's `replaces` is superseded garbage (its unit became
        # invisible the instant the compacted manifest landed) — delete the
        # stale JSON so the unit sweep below can reclaim its data/content;
        # without this, a crash mid-GC in compact() leaked them forever
        raw = self._all_manifests()
        replaced: set[str] = set()
        for m in raw:
            replaced.update(m.get("replaces", []))
        for name in os.listdir(self.manifest_dir):
            if name.startswith("_tmp-"):
                # crash between _write_manifest's json.dump and link(2)
                p = os.path.join(self.manifest_dir, name)
                if _expired(p):
                    _rm(p)
                    removed += 1
            elif name.endswith(".json"):
                p = os.path.join(self.manifest_dir, name)
                with open(p) as f:
                    if json.load(f)["unit"] in replaced and _expired(p):
                        os.remove(p)
                        removed += 1

        # data and content dirs whose unit no LIVE manifest references are
        # garbage: a crash between the data rename / sidecar publish and the
        # manifest publish (the commit point) leaves them behind, as does a
        # crash mid-GC in compact(). The grace window protects an in-flight
        # commit that has renamed data but not yet published its manifest.
        live = {m["unit"] for m in self.manifests()}
        for d in (self.data_dir, self.content_dir):
            for name in os.listdir(d):
                if name.startswith("unit=") and name[len("unit="):] not in live:
                    p = os.path.join(d, name)
                    if _expired(p):
                        shutil.rmtree(p, ignore_errors=True)
                        removed += 1

        compacted = self._fold_entities(spark)
        return {"orphans_removed": removed, "entity_dirs_compacted": compacted}

    def _content_df(self, spark: SparkSession, ms: list[dict]) -> DataFrame | None:
        """content_sha rows for the given manifests: the slim per-unit sidecar
        when one exists, else (legacy pre-sidecar units) a column-pruned scan
        of the unit's triple data."""
        side = [m["unit"] for m in ms if m.get("content_sidecar")]
        legacy = [m["unit"] for m in ms if not m.get("content_sidecar")]
        dfs = []
        if side:
            paths = [os.path.join(self.content_dir, f"unit={u}") for u in side]
            # explicit schema: a unit whose inputs all deduped away writes an
            # empty sidecar, and empty parquet dirs defeat schema inference.
            # drop the discovered 'unit' partition column (a user schema does
            # NOT suppress partition discovery under basePath): leaving it in
            # breaks unionByName with the one-column legacy branch AND makes
            # distinct() dedup per (sha, unit) instead of per sha
            dfs.append(
                spark.read.schema("content_sha string")
                .option("basePath", self.content_dir)
                .parquet(*paths)
                .drop("unit")
            )
        if legacy:
            dfs.append(self._read_units(spark, legacy).select("content_sha"))
        if not dfs:
            return None
        return dfs[0] if len(dfs) == 1 else dfs[0].unionByName(dfs[1])

    def known_content(self, spark: SparkSession):
        """Distinct content_sha ever committed (INCLUDING zero-triple inputs
        registered via commit(content=...)), or None on an empty store — the
        committed-content side of the reference's content-hash cache. Reads
        the per-unit sidecars written at commit time: O(units x distinct
        shas), never a scan over triple data, so probing per micro-batch on a
        long-running ingest stays cheap as the store grows."""
        ms = self.manifests()
        df = self._content_df(spark, ms)
        return df.distinct() if df is not None else None

    # -- staging (phase A of a run: facts persisted before global canon) -------
    def stage(self, facts: DataFrame, key: str, buckets: list[int]) -> None:
        self._publish_parquet(
            facts, f"_stage-tmp-{key}", os.path.join(self.staging_dir, f"unit={key}")
        )
        meta = {"key": key, "buckets": sorted(buckets)}
        tmp_mf = os.path.join(self.staging_dir, f"_tmp-{key}.json")
        with open(tmp_mf, "w") as f:
            json.dump(meta, f)
        os.rename(tmp_mf, os.path.join(self.staging_dir, f"stage-{key}.json"))

    def staged(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.staging_dir)):
            if name.startswith("stage-") and name.endswith(".json"):
                with open(os.path.join(self.staging_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def read_staged(self, spark: SparkSession, key: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self.staging_dir, f"unit={key}"))

    def consume_staged(self, key: str) -> None:
        import shutil

        mf = os.path.join(self.staging_dir, f"stage-{key}.json")
        if os.path.exists(mf):
            os.remove(mf)
        d = os.path.join(self.staging_dir, f"unit={key}")
        if os.path.exists(d):
            shutil.rmtree(d)

    # -- persistent entity dictionary (cross-run canonicalization stickiness) ---
    def _entity_dirs(self) -> list[str]:
        return sorted(d for d in os.listdir(self.entities_dir) if not d.startswith("_"))

    def _entity_rows(self, dirs: list[str]) -> list[tuple[str, str]] | None:
        """The distinct (surface, rep) rows of the snapshot ``dirs``, read
        with pyarrow, when the snapshots fit the driver budget
        (kgx.util.fits_driver); else None. The size comes from the parquet footers (row counts and
        uncompressed row-group bytes), so an over-budget dictionary is never
        read: zero Spark jobs either way. The footer rows sum over the
        snapshots, an upper bound on the distinct union."""
        import pyarrow.parquet as pq

        files = [
            os.path.join(self.entities_dir, d, f)
            for d in dirs
            for f in sorted(os.listdir(os.path.join(self.entities_dir, d)))
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        metas = [pq.read_metadata(f) for f in files]
        n = sum(m.num_rows for m in metas)
        nbytes = sum(
            m.row_group(i).total_byte_size
            for m in metas
            for i in range(m.num_row_groups)
        )
        if not fits_driver(n, nbytes):
            return None
        rows: dict[tuple[str, str], None] = {}
        for f in files:
            with pq.ParquetFile(f) as pf:
                t = pf.read(columns=["surface", "rep"])
            rows.update(dict.fromkeys(zip(*(c.to_pylist() for c in t.columns))))
        return list(rows)

    def known_entities(self, spark: SparkSession) -> canon.CanonicalMapping | None:
        """The entity dictionary: the distinct union of every snapshot, or
        None on a store without one. Two regimes:

        - driver: when the snapshots fit the driver budget (sized from their
          footers, _entity_rows), the rows are read with pyarrow and come
          back as ``rows`` with a ``local_frame`` over them — no Spark job,
          and canonical_mapping reads the known pairs from the rows;
        - distributed: over the budget, a lazy parquet read of every
          snapshot dir with a distinct, which canonical_mapping takes
          straight to its distributed form.

        The union is not necessarily a function: a surface whose cluster a
        later mapping merged appears with its old and its new rep."""
        dirs = self._entity_dirs()
        if not dirs:
            return None
        rows = self._entity_rows(dirs)
        if rows is not None:
            frame = local_frame(spark, rows, _ENTITY_SCHEMA)
            return canon.CanonicalMapping(frame, rows)
        # explicit schema: a snapshot can legitimately be EMPTY (a first
        # epoch whose batch carried no entity mentions stages an empty
        # mapping, which adopt_entities links in verbatim), and a part-less
        # parquet dir defeats schema inference (review r6)
        return canon.CanonicalMapping(
            spark.read.schema(_ENTITY_SCHEMA)
            .parquet(*[os.path.join(self.entities_dir, d) for d in dirs])
            .select("surface", "rep")
            .distinct()
        )

    def stage_mapping(self, mapping: DataFrame, run: str, epoch: int) -> str:
        """Durably materialize one run-scoped canonical mapping under
        ``mapping_cache/<run>-<epoch>`` and return the path — the streaming
        epoch's distributed regime only (a mapping the driver built is held
        as rows and written by save_entities, with no staging): its
        task-recoverable substitute for localCheckpoint-ing the
        mapping (the entities dir can't serve: save_entities' fold may
        delete the snapshot it just wrote, and the snapshot UNION is not a
        one-rep-per-surface function). One write executes the LSH+CC plan
        exactly once; the read-back is plain parquet, so a lost executor
        recomputes from disk at task level.

        Lifecycle: within ONE run every staged mapping supersedes the run's
        prior ones (the new mapping's node set is a superset), so after the
        rename every other entry of the SAME run is deleted. Entries of
        OTHER runs are left alone here — a foreign delete from a standalone
        caller would yank the parquet a live run's entity cache still reads
        (review r6) — and are cleared by clear_mapping_cache() when a new
        ingest run starts (at most one live stream per store: they would
        collide on the stream checkpoint). Deliberately NOT swept by
        vacuum(): a stable stream can skip canonicalization for arbitrarily
        long while its in-run cache references this parquet for block-loss
        recompute."""
        import shutil

        d = os.path.join(self.root, "mapping_cache")
        os.makedirs(d, exist_ok=True)
        key = f"{run}-{epoch}"
        final = os.path.join(d, key)
        # replace: an epoch replayed after a crash between stage and commit
        # re-stages the same key
        self._publish_parquet(
            mapping.select("surface", "rep"), f"_tmp-map-{key}", final, replace=True
        )
        for name in os.listdir(d):
            if name != key and name.startswith(f"{run}-"):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
        return final

    def clear_mapping_cache(self) -> None:
        """Drop every staged mapping — called when a NEW ingest run starts
        (before its stream query spins up, so nothing live references the
        entries): prior runs are dead by construction, their scratch is
        garbage."""
        import shutil

        d = os.path.join(self.root, "mapping_cache")
        if os.path.isdir(d):
            for name in os.listdir(d):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)

    def save_entities(
        self,
        mapping: canon.CanonicalMapping | DataFrame,
        fold_max_dirs: int | None = None,
    ) -> None:
        """Persist a (surface, rep) dictionary snapshot as a new directory.
        A canon.CanonicalMapping with driver ``rows`` is written from the
        rows with pyarrow (no Spark job); a frame by a Spark write. Either way it
        publishes through the ``_ent-tmp-`` tmp dir and rename.

        ``fold_max_dirs``: when set, and the snapshot count now exceeds it,
        fold every snapshot into ONE directory. save_entities appends one dir
        per run/epoch and known_entities unions them all, so a long-running
        stream that never calls vacuum() would otherwise accumulate O(epochs)
        dirs and re-union them every batch — the fold bounds both the dir
        count and the per-probe read to O(fold_max_dirs)."""
        if isinstance(mapping, DataFrame):
            mapping = canon.CanonicalMapping(mapping)
        if mapping.rows is not None:
            import pyarrow as pa

            surface, rep = zip(*mapping.rows) if mapping.rows else ((), ())
            data = pa.table({"surface": pa.array(surface, pa.string()),
                             "rep": pa.array(rep, pa.string())})
        else:
            data = mapping.df.select("surface", "rep")
        key = self._new_key()
        self._publish_parquet(
            data, f"_ent-tmp-{key}", os.path.join(self.entities_dir, key)
        )
        self._maybe_fold(mapping.df.sparkSession, fold_max_dirs)

    def adopt_entities(
        self,
        spark: SparkSession,
        src_dir: str,
        fold_max_dirs: int | None = None,
    ) -> None:
        """Adopt an already-materialized (surface, rep) parquet directory —
        in the streaming epoch's distributed regime, its just-staged mapping
        (stage_mapping writes exactly the save_entities column set) — as a
        new entity snapshot WITHOUT re-executing a Spark write: hard-link
        the files into an ``_ent-tmp-`` dir and rename, the same atomic
        publish as save_entities at zero dictionary I/O and zero extra Spark
        jobs (a Spark write of the staged mapping would write the same
        dictionary twice). The links keep the snapshot's bytes
        alive after the source entry is deleted by stage_mapping
        supersession or clear_mapping_cache; a cross-filesystem link error
        falls back to a copy. ``fold_max_dirs`` as in save_entities."""
        import shutil

        key = self._new_key()
        tmp = os.path.join(self.root, f"_ent-tmp-{key}")
        os.makedirs(tmp)
        for name in os.listdir(src_dir):
            s = os.path.join(src_dir, name)
            if os.path.isfile(s):
                try:
                    os.link(s, os.path.join(tmp, name))
                except OSError:
                    shutil.copy2(s, os.path.join(tmp, name))
        os.rename(tmp, os.path.join(self.entities_dir, key))
        self._maybe_fold(spark, fold_max_dirs)

    def _maybe_fold(self, spark: SparkSession, fold_max_dirs: int | None) -> None:
        if fold_max_dirs is not None and len(self._entity_dirs()) > fold_max_dirs:
            self._fold_entities(spark)

    def _fold_entities(self, spark: SparkSession) -> int:
        """Rewrite the distinct union of every entity snapshot into ONE
        directory (write-new-then-delete-old — a crash between the two leaves
        duplicates, which the reader's distinct() tolerates). A dictionary
        in the driver regime folds on the driver (pyarrow read and write).
        Returns the number of directories folded away."""
        import shutil

        ent_dirs = self._entity_dirs()
        if len(ent_dirs) <= 1:
            return 0
        self.save_entities(self.known_entities(spark))
        for d in ent_dirs:
            shutil.rmtree(os.path.join(self.entities_dir, d), ignore_errors=True)
        return len(ent_dirs)

    def pending(self, pages: DataFrame) -> tuple[DataFrame, list[int]]:
        """Resume filter: drop pages whose bucket already committed."""
        done = self.committed_buckets()
        todo = [b for b in range(self.n_buckets) if b not in done]
        col = bucket_col(F.col("url"), self.n_buckets)
        return pages.withColumn("_bucket", col).filter(
            ~F.col("_bucket").isin(list(done)) if done else F.lit(True)
        ), todo
