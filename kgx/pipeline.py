"""End-to-end KG-construction pipeline: pages -> triples.

One lazy DataFrame chain (SURVEY.md §3.1 rebuild), default 'fused' mode:
pages -> ONE mapInArrow pass (html->text, validated headings, section spans,
         category match, context top-k, schema-guided extraction)
      -> methodology validation (broadcast-literal intersect)
      -> MinHash-LSH + connected-components canonicalization of proponent orgs
         (global dictionary, broadcast-dict rewrite)
      -> (subj, pred, obj) triples with lineage columns.

mode='relational' runs the same semantics as the operator-by-operator
decomposition (lead windows, broadcast category join, chunk explode) and is
asserted byte-equal in tests.

spark-submit entry point at the bottom (--py-files packaging: tools/package.sh
builds dist/kgx.zip). The only driver-side materializations are
O(entity-dictionary), never O(corpus).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx import canon, extract, kernel, sections, textextract


def subj_col(url_col):
    """JVM mirror of kernel.page_id_from_url (tested for parity)."""
    return F.concat(F.lit("proj:"), F.regexp_extract(url_col, "([^/]+)/*$", 1))


_REWRITE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("content_sha", T.StringType(), True),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), True),
    ]
)


BROADCAST_MAPPING_MAX = 2_000_000  # dictionary rows broadcastable to workers
BROADCAST_MAPPING_MAX_BYTES = 256 * 1024 * 1024  # byte budget for the same dict


def _rewrite_obj(obj: str, mapping) -> str:
    """Replace proponent organization_name values through ``mapping`` (any
    dict-like with __contains__/__getitem__) and re-emit canonical JSON."""
    props = json.loads(obj)
    for p in props:
        name = p.get("organization_name")
        if name in mapping:
            p["organization_name"] = mapping[name]
    return kernel.canonical_json(props)


def _rewrite_gen(mapping_bc):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mapping = mapping_bc.value
        for pdf in batches:
            objs = [_rewrite_obj(obj, mapping) for obj in pdf["obj"]]
            pdf = pdf[["url", "warc_ts", "content_sha", "pred"]].copy()
            pdf["obj"] = objs
            yield pdf

    return gen


def _rewrite_zip_gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Join-path rewrite: each row carries its OWN (surfaces -> reps) pairs,
    delivered by the relational join — no driver dict of any size."""
    for pdf in batches:
        objs = []
        for obj, surfaces, reps in zip(pdf["obj"], pdf["surfaces"], pdf["_reps"]):
            if reps is None or len(reps) == 0:
                objs.append(_rewrite_obj(obj, {}))
            else:
                objs.append(_rewrite_obj(obj, dict(zip(list(surfaces), list(reps)))))
        out = pdf[["url", "warc_ts", "content_sha", "pred"]].copy()
        out["obj"] = objs
        yield out


def _rewrite_join(props: DataFrame, mapping: DataFrame) -> DataFrame:
    """Entity rewrite ABOVE the broadcast cap: fully relational surface ->
    rep resolution, O(mentions) shuffles, no driver-side dictionary.

    The generalization of the reference's multi-source proponent
    canonicalization (ground_truth_project_detail_formatter.py:138-168) that
    web scale forces: a 10^12-document corpus can carry an entity dictionary
    far past what a python-dict broadcast tolerates, and the engine must
    degrade to a working (join-shaped) path, not an error.

    Shape: posexplode the per-fact ``surfaces`` side channel (emitted by the
    extractor precisely so the JSON payload never needs parsing in a join),
    shuffle-join surface -> rep, reassemble the per-row rep array ordered by
    position, and apply the substitution inside ONE Arrow pass where each row
    zips its own (surfaces, reps) into a local dict. Byte-equal to the
    broadcast path (asserted in tests); costs two O(mentions) shuffles + one
    O(rows) join that the broadcast path avoids, which is why broadcast stays
    the default below the cap.

    Row identity is the fact's natural key (url, warc_ts, content_sha, pred)
    DISAMBIGUATED by sha2(obj): a crawl can carry TWO sections that both
    categorize as project_proponents (kernel.page_facts emits one fact per
    categorized section), so the bare natural key is not unique — merging
    such rows would zip one row's surfaces against the union of both rows'
    reps, silently rewriting organizations to unrelated names. ``obj`` (the
    canonical JSON of the fact) fully determines ``surfaces``, so rows that
    still collide on the full key are byte-identical and merge harmlessly
    (collect_set dedups their identical (pos, rep) pairs). sha2-256, not
    xxhash64 (round-5 advice): a 64-bit collision between two DIFFERENT
    same-pred objs in one crawl would silently cross-zip two sections'
    reps — a wrong-data mode, however narrow; 256 bits closes it for the
    cost of ~56 extra bytes per exploded mention row, cheaper than carrying
    ``obj`` itself through the mention shuffle. Earlier versions pinned a synthetic
    monotonically_increasing_id with localCheckpoint; that stored the full
    proponent slice in NON-REPLICATED executor memory, so on the very path
    that only engages for huge corpora a single executor loss killed the job.
    With the content-derived key both consumptions of ``keyed`` below are
    plain deterministic recomputes (upstream is persisted facts or staged
    parquet), fully lineage-recoverable."""
    nk = ["url", "warc_ts", "content_sha", "pred", "_ok"]
    keyed = props.select(
        "url", "warc_ts", "content_sha", "pred", "obj", "surfaces"
    ).withColumn("_ok", F.sha2(F.col("obj"), 256))
    ex = keyed.select(*nk, F.posexplode("surfaces").alias("_pos", "surface"))
    diff = mapping.filter(F.col("surface") != F.col("rep"))
    resolved = ex.join(diff, "surface", "left").select(
        *nk, "_pos", F.coalesce("rep", "surface").alias("rep")
    )
    reps = (
        resolved.groupBy(*nk)
        .agg(F.array_sort(F.collect_set(F.struct("_pos", "rep"))).alias("pr"))
        .select(
            *[F.col(c).alias(f"_r_{c}") for c in nk],
            F.transform("pr", lambda x: x["rep"]).alias("_reps"),
        )
    )
    # null-safe equi-join: warc_ts/content_sha are nullable, and a plain
    # column join would drop null-keyed rows' reps (leaving them silently
    # unrewritten). EqualNullSafe keys still hash-partition, so this stays a
    # shuffle hash/sort-merge join, never a cartesian.
    cond = None
    for c in nk:
        e = keyed[c].eqNullSafe(reps[f"_r_{c}"])
        cond = e if cond is None else (cond & e)
    return (
        keyed.join(reps, cond, "left")
        .select("url", "warc_ts", "content_sha", "pred", "obj", "surfaces", "_reps")
        .mapInPandas(_rewrite_zip_gen, schema=_REWRITE_SCHEMA)
    )


def canonicalize_proponents(
    facts: DataFrame, mapping: canon.CanonicalMapping | DataFrame | None = None
) -> DataFrame:
    """Rewrite proponent org names to their canonical representative.

    ``mapping`` (surface -> rep) may be precomputed GLOBALLY across commit
    units — required for multi-unit runs, where a per-unit mapping would pick
    unit-local representatives and drift from the corpus-wide canonicalization
    (caught by verification: 2-unit run disagreed with the one-shot run on
    ~2.6%% of proponent triples until the mapping was hoisted). A plain
    DataFrame is accepted; a CanonicalMapping carrying driver-side ``rows``
    (canon.canonical_mapping's driver path, or the store's driver-regime
    dictionary reused by a streaming epoch that skipped canonicalization)
    skips the size probe and the collect below.

    Two physical regimes, byte-equal output (asserted in tests):

    - dictionary <= BROADCAST_MAPPING_MAX rows (the norm — entity dictionaries
      are vastly smaller than the corpus): ship it as a broadcast python dict
      into an Arrow batch pass — zero shuffles (the explode -> join ->
      groupBy-collect shape shuffles every proponent fact twice and was a
      measurable non-scaling cost when used unconditionally);
    - above the cap: the relational join rewrite (_rewrite_join) — slower but
      scales to any dictionary size instead of raising (round-3 review: the
      engine's one hard scale cliff was an error message)."""
    props = facts.filter(F.col("pred") == "project_proponents")
    others = facts.filter(F.col("pred") != "project_proponents").select(
        "url", "warc_ts", "content_sha", "pred", "obj"
    )
    if mapping is None:
        mentions = props.select(F.explode("surfaces").alias("surface"))
        mapping = _pinned(canon.canonical_mapping(mentions))
    elif isinstance(mapping, DataFrame):
        mapping = canon.CanonicalMapping(mapping)

    # regime probe runs EXECUTOR-SIDE before any collect: a dictionary over
    # either budget must route to the join path WITHOUT first being pulled
    # onto the driver (see kgx.util.bounded_stats for the idiom's rationale).
    # Driver-side rows are measured in place: the distributed probe would
    # only add a job.
    rows = mapping.rows
    if rows is not None:
        nbytes = sum(len(s.encode()) + len(r.encode()) for s, r in rows)
        over = len(rows) > BROADCAST_MAPPING_MAX or nbytes > BROADCAST_MAPPING_MAX_BYTES
    else:
        from kgx.util import bounded_stats

        stats = bounded_stats(
            mapping.df,
            BROADCAST_MAPPING_MAX,
            F.octet_length("surface") + F.octet_length("rep"),
        )
        over = (
            stats["n"] > BROADCAST_MAPPING_MAX
            or stats["nbytes"] > BROADCAST_MAPPING_MAX_BYTES
        )
    if over:
        rewritten = _rewrite_join(props, mapping.df)
    else:
        if rows is None:
            rows = [(r["surface"], r["rep"]) for r in mapping.df.collect()]
        mapping_dict = {s: rep for s, rep in rows if s != rep}
        bc = facts.sparkSession.sparkContext.broadcast(mapping_dict)
        rewritten = props.select(
            "url", "warc_ts", "content_sha", "pred", "obj"
        ).mapInPandas(_rewrite_gen(bc), schema=_REWRITE_SCHEMA)
    return others.unionByName(rewritten)


def _pinned(mapping: canon.CanonicalMapping) -> canon.CanonicalMapping:
    """localCheckpoint a distributed mapping: its consumers (size probe,
    rewrite, entity save) are separate actions that would otherwise each
    re-run the whole LSH+CC pipeline. A driver-built mapping is returned as
    is — re-"computing" it is free, so the checkpoint job is pure latency."""
    if mapping.rows is not None:
        return mapping
    return canon.CanonicalMapping(mapping.df.localCheckpoint())


def extract_stage(
    spark: SparkSession, pages: DataFrame, mode: str = "fused",
    persist: bool = True,
) -> DataFrame:
    """pages -> validated facts (everything before canonicalization).

    ``persist=True`` (default) returns the validated frame persisted
    MEMORY_AND_DISK — callers that act on it more than once (the streaming
    epoch, build_triples' mapping + write) would otherwise re-run the Arrow
    kernel per action; the returned frame IS the persisted handle, so the
    caller releases it when the epoch/run ends. Pass ``persist=False`` when
    exactly one action consumes the result (run_checkpointed phase A, which
    writes it straight to staging parquet) — populating a one-use cache
    during that single write is pure overhead.

    mode='fused' (default, the scale path): one Arrow pass per page for all
    row-local work (extract.extract_facts_fused), then the genuinely
    cross-document relational stages.

    mode='relational': the operator-by-operator decomposition (lead-window
    spans, broadcast category join, chunk-explode top-k) — same output,
    asserted equal in tests; kept as the cross-validation path and the
    demonstration of each SURVEY.md §2 operator in the pipeline itself. Its
    multi-branch plan re-executes the html->text kernel without persist(), so
    the kernel intermediate is ALWAYS cached in this mode (that inner handle
    has no release path — acceptable on the cross-validation/test path, not
    offered on the scale path). Under-parallelized sources are spread inside
    extract_facts_fused / kernel_pass's shared partition guard."""
    from pyspark import StorageLevel

    if mode == "fused":
        # the VALIDATED frame is the cache point (validation is a narrow
        # broadcast-literal rewrite — no shuffle, so caching above or below
        # it is equivalent): downstream consumers (mentions,
        # canonicalization, commit write, content sidecar) are separate
        # plan branches that would each re-run the Arrow kernel, and
        # returning the persisted handle itself lets the caller RELEASE it
        # when the epoch ends — a long-running stream must not accumulate
        # one pinned facts cache per micro-batch (round-6 review)
        validated = extract.validate_methodologies(
            extract.extract_facts_fused(pages)
        )
        if persist:
            validated = validated.persist(StorageLevel.MEMORY_AND_DISK)
        return validated

    kdf = textextract.kernel_pass(pages).persist(StorageLevel.MEMORY_AND_DISK)
    ctx = sections.build_contexts(spark, kdf)
    facts = extract.extract_facts(ctx)
    validated = extract.validate_methodologies(facts)
    if persist:
        validated = validated.persist(StorageLevel.MEMORY_AND_DISK)
    return validated


def _to_triples(final: DataFrame) -> DataFrame:
    return final.select(
        subj_col(F.col("url")).alias("subj"),
        "pred",
        "obj",
        F.col("url").alias("src_url"),
        "warc_ts",
        "content_sha",
    )


def build_triples(
    spark: SparkSession,
    pages: DataFrame,
    mapping: DataFrame | None = None,
    mode: str = "fused",
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> triples DF (not yet written)."""
    facts = extract_stage(spark, pages, mode=mode)
    return _to_triples(canonicalize_proponents(facts, mapping))


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    store,
    groups: int = 4,
) -> list[str]:
    """Resumable three-phase run over `groups` commit units.

    Phase A — per unit: extract + validate facts, persist to staging (atomic;
    a killed run resumes from surviving staged units without re-extracting).
    Phase B — ONE global canonical mapping over all staged surfaces, seeded by
    the store's persisted entity dictionary so representatives stay consistent
    across runs (sticky reps); deterministic, so a killed phase C recomputes
    the identical mapping on resume.
    Phase C — per staged unit: rewrite proponents with the shared mapping,
    snapshot-commit triples + violation metrics, then consume the staging.

    Each commit is atomic with per-partition lineage + counters
    (BASELINE.json:north_rule); readers never see a partial unit.
    """
    store.claim_mode("batch")
    pending, todo = store.pending(pages)

    # phase A: stage pending buckets that are not already staged or committed
    already_staged: set[int] = set()
    for s in store.staged():
        already_staged.update(s["buckets"])
    to_stage = [b for b in todo if b not in already_staged]
    per = max(1, -(-len(todo) // groups)) if todo else 1
    for g in range(0, len(to_stage), per):
        chunk = to_stage[g : g + per]
        subset = pending.filter(F.col("_bucket").isin(chunk)).drop("_bucket")
        # persist=False: the stage write is the ONLY action on this frame
        # (phases B/C read the staged parquet), so populating a cache during
        # it would be pure overhead
        facts = extract_stage(spark, subset, persist=False)
        key = f"{min(chunk):04d}-{max(chunk):04d}"
        store.stage(facts, key, chunk)

    staged_units = store.staged()
    if not staged_units:
        return []

    # phase B: one global mapping across every staged unit + known dictionary
    all_facts = [store.read_staged(spark, s["key"]) for s in staged_units]
    mentions = None
    for f in all_facts:
        m = f.filter(F.col("pred") == "project_proponents").select(
            F.explode("surfaces").alias("surface")
        )
        mentions = m if mentions is None else mentions.unionByName(m)
    # a dictionary within the driver budget comes back as driver rows
    # (TripleStore.known_entities), so the mapping's probe collects only the
    # staged mentions and the snapshot below is written from the rows
    known = store.known_entities(spark)
    mapping = _pinned(canon.canonical_mapping(mentions, known=known))
    # persist BEFORE commits: a run killed mid-phase-C resumes with the exact
    # same representative assignment (mapping is deterministic given its node
    # set, and the saved dictionary carries the full node set forward)
    store.save_entities(mapping)

    # phase C: commit each staged unit with the shared mapping
    unit_ids = []
    committed = store.committed_buckets()
    for s, facts in zip(staged_units, all_facts):
        if set(s["buckets"]) <= committed:
            # killed between commit and consume on a previous run: don't double-commit
            store.consume_staged(s["key"])
            continue
        final = canonicalize_proponents(facts, mapping)
        # the content sidecar comes from the staged facts parquet — a pruned
        # scan — rather than commit's triples-derived default (a second
        # execution of the rewrite); commit counts the violation metrics
        # from the files it wrote
        unit_ids.append(store.commit(
            _to_triples(final), s["buckets"],
            content=facts.select("content_sha"),
        ))
        store.consume_staged(s["key"])
    return unit_ids


def main() -> None:  # pragma: no cover — spark-submit entry
    import argparse

    from kgx.checkpoint import TripleStore
    from kgx.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="parquet path of the pages table")
    ap.add_argument("--out", required=True, help="triple-store root directory")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--groups", type=int, default=8)
    args = ap.parse_args()

    spark = get_spark(app_name="kgx-pipeline")
    pages = spark.read.parquet(args.pages)
    store = TripleStore(args.out, n_buckets=args.buckets)
    units = run_checkpointed(spark, pages, store, groups=args.groups)
    print(json.dumps({"committed_units": units}))


if __name__ == "__main__":  # pragma: no cover
    main()
