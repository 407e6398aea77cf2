"""Benchmark child process: one workload against the program's public entry
points, in one Spark session, with its outputs checked.

Started by ``perfbench/run.py``, which has already written the inputs and the
references (``inputs.json``) and put the repository root on ``PYTHONPATH`` so
the Spark Python workers can import ``kgx`` from any working directory.
Writes ``result.json``; its output goes to a log the launcher shows only
when the child fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import uuid

from perfbench.run import MIX

GROUPS = 4  # commit units per kg_build run
# the span whose jobs run the extraction kernel: kg_build stages an
# unpersisted facts frame, so the kernel executes in the staging write;
# kg_ingest's epochs materialize it in extract_stage (see install_spans)
EXTRACT_SPAN = {"kg_build": "checkpoint.stage", "kg_ingest": "pipeline.extract_stage"}


def tree_files(root: str) -> dict[str, int]:
    return {os.path.join(d, f): os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(root) for f in fs}


def tree_bytes(root: str) -> int:
    return sum(tree_files(root).values())


def parquet_rows(root: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in tree_files(root) if p.endswith(".parquet"))


def tail_stat(samples: list[float]) -> tuple[float, int, int]:
    """Highest percentile (in whole percent) with at least 10 samples beyond
    it: returns (value, percentile, samples beyond). With fewer than 11
    samples there is none, and the maximum is returned with percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        idx = min(n - 1, int(p / 100 * n))
        if n - 1 - idx >= 10:
            return xs[idx], p, n - 1 - idx
    return xs[-1], 100, 0


def read_triples(spark, store) -> set[tuple[str, str, str]]:
    return {tuple(r) for r in store.read(spark).select("subj", "pred", "obj").collect()}


class Run:
    def __init__(self, spark, inp: dict, work: str, tracer):
        self.spark, self.inp, self.work, self.tracer = spark, inp, work, tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.report: dict[str, dict] = {}
        self.derived: dict[str, float] = {}

    def metric(self, name: str, value: float, unit: str, **extra) -> None:
        self.report[name] = {"value": value, "unit": unit, **extra}

    def check(self, failures: list[str]) -> None:
        """Count one checked operation; it failed if its gate found anything."""
        self.attempted += 1
        self.failed += bool(failures)
        self.failures.extend(failures)

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.work, f"{name}-{uuid.uuid4().hex[:8]}")
        os.makedirs(d)
        return d

    def span(self, name: str):
        from contextlib import nullcontext

        return self.tracer.span(name) if self.tracer else nullcontext()


# --------------------------------------------------------------------------- #
# kg_build: run_checkpointed into a fresh TripleStore per repetition
# --------------------------------------------------------------------------- #
def build_once(run: Run, pages_path: str) -> tuple[float, str]:
    from kgx import pipeline
    from kgx.checkpoint import TripleStore

    store = TripleStore(run.fresh_dir("store"))
    pages = run.spark.read.parquet(pages_path)
    t0 = time.perf_counter()
    pipeline.run_checkpointed(run.spark, pages, store, groups=GROUPS)
    return time.perf_counter() - t0, store


def kg_build_warmup(run: Run) -> None:
    build_once(run, run.inp["warmup_pages"])
    run.spark.catalog.clearCache()


def kg_build(run: Run, seconds: float) -> dict:
    import pyarrow.parquet as pq

    from perfbench.reference import build_gate, triple_scores

    gold = {(r["subj"], r["pred"], r["obj"]) for r in pq.read_table(
        run.inp["golden"], columns=["subj", "pred", "obj"]).to_pylist()}

    walls, rates, bpt, prs = [], [], [], []
    t_end = time.perf_counter() + seconds
    while True:
        wall, store = build_once(run, run.inp["pages"])
        got = read_triples(run.spark, store)
        p, r = triple_scores(got, gold)
        run.check(build_gate(got, gold))
        walls.append(wall)
        rates.append(len(got) / wall)
        bpt.append(tree_bytes(store.root) / max(1, len(got)))
        prs.append((p, r))
        shutil.rmtree(store.root, ignore_errors=True)
        run.spark.catalog.clearCache()
        if time.perf_counter() >= t_end:
            break
    run.metric("build_triples_per_s", statistics.median(rates), "triples/s",
               samples=len(rates))
    run.metric("triple_precision", min(p for p, _ in prs), "ratio")
    run.metric("triple_recall", min(r for _, r in prs), "ratio")
    run.metric("store_bytes_per_triple", statistics.median(bpt), "B")
    run.metric("build_s", statistics.median(walls), "s", samples=len(walls))
    run.derived["extract.pages_in"] = pq.ParquetFile(
        run.inp["pages"]).metadata.num_rows * len(walls)
    return {"op_p50_s": statistics.median(walls)}


# --------------------------------------------------------------------------- #
# kg_ingest: backlog drain, then one ingest_available_now per arriving file
# --------------------------------------------------------------------------- #
def _land(src: str, watch: str) -> None:
    """Move a pages file into the watched directory atomically."""
    os.replace(src, os.path.join(watch, os.path.basename(src)))


def _ingest(run: Run, watch: str, store) -> None:
    from kgx import streaming

    streaming.ingest_available_now(
        run.spark, watch, store, dedup_content=True, max_files_per_trigger=1)


def landed_originals(watch: str) -> list[dict]:
    """Every page that landed in the watched directory, minus the content
    mirrors (recognised by their generator-assigned host)."""
    import pyarrow.parquet as pq

    from perfbench.gen import MIRROR_HOST

    return [row for name in sorted(os.listdir(watch)) if name.endswith(".parquet")
            for row in pq.read_table(os.path.join(watch, name)).to_pylist()
            if f"//{MIRROR_HOST}/" not in row["url"]]


def kg_ingest_warmup(run: Run) -> None:
    from kgx.checkpoint import TripleStore

    watch = run.fresh_dir("warm-watch")
    store = TripleStore(run.fresh_dir("warm-store"), n_buckets=8)
    for f in run.inp["warmup_files"]:
        _land(f, watch)
        _ingest(run, watch, store)
    store.compact(run.spark)
    store.read(run.spark).count()
    run.spark.catalog.clearCache()


def kg_ingest(run: Run, seconds: float) -> dict:
    from kgx import fixtures
    from kgx.checkpoint import TripleStore
    from perfbench.reference import ingest_gate, triple_scores

    files = run.inp["files"]
    backlog = run.inp["backlog_files"]
    watch = run.fresh_dir("watch")
    store = TripleStore(run.fresh_dir("store"), n_buckets=8)

    for f in files[:backlog]:
        _land(f["path"], watch)
    t0 = time.perf_counter()
    _ingest(run, watch, store)
    backlog_s = time.perf_counter() - t0
    n_backlog_pages = sum(f["pages"] for f in files[:backlog])

    # the arrivals are what --seconds measures; the backlog drain runs first,
    # outside that budget, so the window holds several arrivals
    lat = []
    used = backlog
    t_end = time.perf_counter() + seconds
    for f in files[backlog:]:
        if time.perf_counter() >= t_end and lat:
            break
        _land(f["path"], watch)
        t0 = time.perf_counter()
        _ingest(run, watch, store)
        lat.append(time.perf_counter() - t0)
        used += 1
    # make_inputs generates more arrivals than a window has ever used
    ran_out = ["kg_ingest: ran out of generated arrivals"] if used == len(files) else []

    before = read_triples(run.spark, store)
    bytes_before = tree_bytes(store.root)
    store.compact(run.spark)
    after = read_triples(run.spark, store)
    bytes_after = tree_bytes(store.root)

    gold = {(t["subj"], t["pred"], t["obj"])
            for t in fixtures.golden_triples(landed_originals(watch))}
    p, r = triple_scores(after, gold)
    run.check(ingest_gate(before, after, gold) + ran_out)

    tail, pct, beyond = tail_stat(lat)
    run.metric("backlog_pages_per_s", n_backlog_pages / backlog_s, "pages/s")
    run.metric("ingest_p50_s", statistics.median(lat), "s", samples=len(lat),
               latencies=" ".join(f"{x:.3f}" for x in lat))
    run.metric("ingest_tail_s", tail, "s", percentile=pct, beyond=beyond,
               samples=len(lat))
    run.metric("triple_precision", p, "ratio")
    run.metric("triple_recall", r, "ratio")
    run.metric("store_bytes_per_triple", bytes_after / max(1, len(after)), "B",
               before_compaction=bytes_before / max(1, len(before)))
    run.metric("arrivals", len(lat), "count")
    return {"op_p50_s": statistics.median(lat)}


# --------------------------------------------------------------------------- #
# corpus_query: rounds of the fixed query mix, each query checked
# --------------------------------------------------------------------------- #
def _round(run: Run, sf_dir: str, refs: dict | None, times: dict) -> None:
    import __spark_entry__ as entry
    from perfbench.reference import frame_gate

    qs = entry.queries()
    for name in MIX:
        t0 = time.perf_counter()
        with run.span(f"ops.{name}"):
            df = qs[name](run.spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
        times.setdefault(name, []).append(time.perf_counter() - t0)
        run.spark.catalog.clearCache()
        if refs is not None:
            run.check(frame_gate(name, df.columns, rows, refs[name]))


def corpus_query_warmup(run: Run) -> None:
    _round(run, run.inp["warmup_tables"], None, {})


def corpus_query(run: Run, seconds: float) -> dict:
    times: dict[str, list[float]] = {}
    rounds = []
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        _round(run, run.inp["tables"], run.inp["refs"], times)
        rounds.append(time.perf_counter() - t0)
        if time.perf_counter() >= t_end:
            break
    run.metric("query_round_s", statistics.median(rounds), "s", samples=len(rounds))
    run.metric("near_dup_s", statistics.median(times["t07_minhash_clusters"]), "s",
               samples=len(times["t07_minhash_clusters"]))
    for name, xs in times.items():
        run.metric(f"{name}_s", statistics.median(xs), "s", samples=len(xs))
    return {"op_p50_s": statistics.median(rounds)}


def verify_yield(run: Run) -> None:
    """Verified edges over candidate pairs of t07's LSH blocking, counted by
    dedup_clusters' diagnostics mode after the timed part (traced run only)."""
    from kgx import canon

    docs = run.spark.read.parquet(os.path.join(run.inp["tables"], "documents.parquet"))
    m: dict = {}
    canon.dedup_clusters(docs, id_col="doc_id", text_col="text", shingle="token",
                         bucket_cap=1000, n_bands=32, metrics=m).count()
    run.derived["canon.verify_yield"] = m["verified_pairs"] / max(1, m["candidate_pairs"])
    run.derived["canon.candidate_pairs"] = m["candidate_pairs"]
    run.derived["canon.verified_pairs"] = m["verified_pairs"]


WORKLOADS = {
    "kg_build": (kg_build_warmup, kg_build),
    "kg_ingest": (kg_ingest_warmup, kg_ingest),
    "corpus_query": (corpus_query_warmup, corpus_query),
}


# --------------------------------------------------------------------------- #
# tracing hooks: counts recorded at the wrapped boundaries
# --------------------------------------------------------------------------- #
def install_spans(tracer, run_ref: dict) -> None:
    from kgx import canon, pipeline, session, streaming
    from kgx.checkpoint import TripleStore

    def mapping_counts(sp, args, kwargs, out, _state):
        rows = getattr(out, "_kgx_driver_rows", None)
        sp.counts["mapping_rows"] = len(rows) if rows is not None else out.count()
        sp.counts["surfaces_in"] = args[0].select("surface").distinct().count()

    def store_snapshot(args, kwargs):
        return tree_files(args[0].root)

    def written(sp, args, kwargs, out, before):
        now = tree_files(args[0].root)
        new = {p: s for p, s in now.items() if p not in before}
        sp.counts["files_written"] = len(new)
        sp.counts["bytes_written"] = sum(new.values())

    def rewritten(sp, args, kwargs, out, before):
        now = tree_files(args[0].root)
        sp.counts["bytes_rewritten"] = sum(s for p, s in now.items() if p not in before)

    def batch_pages(args, kwargs):
        # only the streaming epoch asks for a persisted frame; kg_build's
        # unpersisted one is counted from its input file instead
        return args[1].count() if kwargs.get("persist", True) else None

    def run_kernel(sp, facts):
        # the streaming epoch runs the extraction kernel lazily, at the first
        # action on the persisted facts frame (in a later span); materialize
        # it here, as streaming's own phase timings do, so extraction's jobs
        # are charged to this span. kg_build's unpersisted frame executes in
        # checkpoint.stage's staging write instead.
        if facts.is_cached:
            sp.counts["facts_out"] = facts.count()

    def extract_counts(sp, args, kwargs, out, pages):
        if pages is not None:
            sp.counts["pages_in"] = pages

    def staged_rows(sp, args, kwargs, out, _state):
        store, key = args[0], args[2]
        sp.counts["facts_out"] = parquet_rows(
            os.path.join(store.staging_dir, f"unit={key}"))

    def content_snapshot(args, kwargs):
        store = args[2]
        watch = args[1]
        return (set(tree_files(store.content_dir)),
                set(tree_files(watch)) - set(run_ref.get("seen_files", ())))

    def ingest_counts(sp, args, kwargs, out, state):
        import pyarrow.parquet as pq

        before, new_files = state
        store = args[2]
        pages_in = sum(pq.ParquetFile(p).metadata.num_rows
                       for p in new_files if p.endswith(".parquet"))
        run_ref.setdefault("seen_files", set()).update(new_files)
        kept = sum(pq.ParquetFile(p).metadata.num_rows
                   for p in tree_files(store.content_dir)
                   if p not in before and p.endswith(".parquet"))
        sp.counts["pages_in"] = pages_in
        sp.counts["pages_kept"] = kept

    tracer.wrap(session, "get_spark", "session.get_spark")
    tracer.wrap(pipeline, "run_checkpointed", "pipeline.run_checkpointed")
    tracer.wrap(pipeline, "canonicalize_proponents", "pipeline.canonicalize_proponents")
    tracer.wrap(pipeline, "extract_stage", "pipeline.extract_stage",
                before=batch_pages, inside=run_kernel, after=extract_counts)
    tracer.wrap(canon, "canonical_mapping", "canon.canonical_mapping",
                after=mapping_counts)
    tracer.wrap(canon, "dedup_clusters", "canon.dedup_clusters")
    tracer.wrap(canon, "connected_components", "canon.connected_components")
    tracer.wrap(TripleStore, "stage", "checkpoint.stage", after=staged_rows)
    tracer.wrap(TripleStore, "read_staged", "checkpoint.read_staged")
    tracer.wrap(TripleStore, "save_entities", "checkpoint.save_entities")
    tracer.wrap(TripleStore, "commit", "checkpoint.commit",
                before=store_snapshot, after=written)
    tracer.wrap(TripleStore, "known_content", "checkpoint.known_content")
    tracer.wrap(TripleStore, "known_entities", "checkpoint.known_entities")
    tracer.wrap(TripleStore, "compact", "checkpoint.compact",
                before=store_snapshot, after=rewritten)
    tracer.wrap(TripleStore, "read", "checkpoint.read")
    tracer.wrap(streaming, "ingest_available_now", "streaming.ingest_available_now",
                before=content_snapshot, after=ingest_counts)


# --------------------------------------------------------------------------- #
def warm_workers(spark, cores: int) -> None:
    """Spawn the Python worker pool with one tiny Arrow round trip."""
    import pandas as pd

    def ident(batches):
        for b in batches:
            yield pd.DataFrame({"x": b["x"]})

    spark.range(2 * cores).selectExpr("CAST(id AS STRING) x").repartition(
        2 * cores).mapInPandas(ident, "x string").count()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_SPAWN_TIME"])
    with open(args.inputs) as f:
        inp = json.load(f)
    work = os.path.dirname(os.path.abspath(args.out))

    tracer = None
    run_ref: dict = {}
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(run_id=uuid.uuid4().hex[:12], cores=args.cores)
        install_spans(tracer, run_ref)

    from kgx import session

    spark = session.get_spark(
        master=f"local[{args.cores}]", app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"})
    if tracer:
        tracer.bind(spark)
    warmup, body = WORKLOADS[args.workload]
    run = Run(spark, inp, work, tracer)
    warm_workers(spark, args.cores)
    spark.read.parquet(inp["first_scan"]).count()
    warmup(run)
    setup_s = time.time() - t_spawn

    t0, timed_from = time.time(), time.perf_counter()
    try:
        e2e = body(run, args.seconds)
    except Exception as e:  # noqa: BLE001 — a failed operation is reported, not raised
        import traceback

        traceback.print_exc()
        run.check([f"{args.workload}: {type(e).__name__}: {e}"])
        e2e = {"op_p50_s": None}
    t1, timed_to = time.time(), time.perf_counter()
    if tracer and args.workload == "corpus_query" and not run.failures:
        verify_yield(run)
    spark.stop()

    result = {
        "workload": args.workload,
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures,
        "setup_s": setup_s,
        "timed_window": [t0, t1],
        "e2e": e2e,
        "report": run.report,
        "derived": run.derived,
    }
    if tracer:
        spans = tracer.table(timed_from, timed_to, keep=("session.get_spark",))
        src = spans.get(EXTRACT_SPAN.get(args.workload), {})
        run.derived["extract.executor_cpu_s"] = src.get("executor_cpu_s", 0.0)
        run.derived["extract.facts_out"] = src.get("facts_out", 0.0)
        run.derived.setdefault("extract.pages_in", src.get("pages_in", 0.0))
        result["spans"] = spans
        result["span_records"] = tracer.records()
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
