"""The repository benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload kg_build|kg_ingest|corpus_query|all \\
        --seed N --seconds S --trace 0|1 [--size full|tiny]

Generates the workload's inputs and independent references from ``--seed``,
then starts one child process (``perfbench/workloads.py``) that runs the
workload through ``kgx``'s public entry points on ``local[N]`` for ``--seconds``
and checks every output. Prints the workload's metrics by name with units,
and as its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics from spans with ``--trace 1``, after one line holding every span
record). Exits non-zero if any check failed.
``--workload all`` runs the three workloads in turn; with ``--trace 1`` it
runs each untraced and then traced and prints the tracing overhead.

Everything the benchmark writes goes under ``.bench_work/`` in the directory
holding ``perfbench/``, and is removed at exit. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("kg_build", "kg_ingest", "corpus_query")
DEADLINE_S = 170  # per workload child, inside the 180 s a run may take
CORES = min(4, os.cpu_count() or 1)  # local[N]; README.md spreads were measured at 4

SIZES = {
    "full": {"build_pages": 1000, "warm_pages": 40, "per_file": 120,
             "backlog": 2, "warm_per_file": 20, "sf": 0.01, "warm_sf": 0.002},
    "tiny": {"build_pages": 60, "warm_pages": 20, "per_file": 20,
             "backlog": 2, "warm_per_file": 10, "sf": 0.001, "warm_sf": 0.001},
}

# end-to-end metrics on the last line of every untraced run (BENCHMARK.json
# end_to_end). peak_rss_mb is printed in the report but not gated: its spread
# across seeds (IQR/median up to 0.26 on kg_ingest) is wider than any bound
E2E = (("setup_s", "s"), ("op_p50_s", "s"))

# t17_curated_corpus and q07_composite_join are left out: each disagrees with
# its DuckDB oracle on some seeds (t17: seed 103 of 100-129; q07: seeds 87 and
# 111 of 0-129; see README.md, "Not covered yet")
MIX = (
    "t07_minhash_clusters", "s03_ann_lsh", "s04_ann_ivf", "t13_bm25_topk",
    "q25_sessionize", "g05_nation_pagerank", "g08_sameas_resolution",
)
# spans on the final line of a traced run (BENCHMARK.json per_layer): the ones
# kg_ingest or corpus_query enter. kg_build's own spans (run_checkpointed,
# checkpoint.stage/read_staged/save_entities) are in its printed table only.
SPANS = (
    "session.get_spark",
    "pipeline.canonicalize_proponents", "pipeline.extract_stage",
    "checkpoint.commit", "checkpoint.known_content", "checkpoint.known_entities",
    "checkpoint.compact", "checkpoint.read",
    "canon.canonical_mapping", "canon.dedup_clusters", "canon.connected_components",
    "streaming.ingest_available_now",
) + tuple(f"ops.{q}" for q in MIX)
SPAN_FIELDS = (("wall_s", "s"), ("self_s", "s"), ("driver_s", "s"),
               ("executor_cpu_s", "s"))
# spans that submit no Spark job (session start; store reads that return a
# lazy frame): their self and driver time equal their wall time and their
# executor time is 0, so only wall_s is listed
JOBLESS = ("session.get_spark", "checkpoint.known_content",
           "checkpoint.known_entities", "checkpoint.read")
# (metric, unit, span, field) beyond SPAN_FIELDS; span None = run-level value
EXTRA = (
    ("checkpoint.commit.calls", "count", "checkpoint.commit", "calls"),
    ("checkpoint.commit.files_written", "count", "checkpoint.commit", "files_written"),
    ("checkpoint.commit.bytes_written", "B", "checkpoint.commit", "bytes_written"),
    ("checkpoint.compact.bytes_rewritten", "B", "checkpoint.compact", "bytes_rewritten"),
    ("canon.canonical_mapping.calls", "count", "canon.canonical_mapping", "calls"),
    ("canon.canonical_mapping.surfaces_in", "count", "canon.canonical_mapping",
     "surfaces_in"),
    ("canon.canonical_mapping.mapping_rows", "count", "canon.canonical_mapping",
     "mapping_rows"),
    ("canon.dedup_clusters.jobs", "count", "canon.dedup_clusters", "jobs"),
    ("canon.dedup_clusters.shuffle_read_bytes", "B", "canon.dedup_clusters",
     "shuffle_read_bytes"),
    ("canon.dedup_clusters.shuffle_write_bytes", "B", "canon.dedup_clusters",
     "shuffle_write_bytes"),
    ("canon.verify_yield", "ratio", None, "canon.verify_yield"),
    ("streaming.ingest_available_now.calls", "count",
     "streaming.ingest_available_now", "calls"),
    ("streaming.ingest_available_now.pages_in", "count",
     "streaming.ingest_available_now", "pages_in"),
    ("streaming.ingest_available_now.dedup_skip_frac", "ratio", None,
     "streaming.dedup_skip_frac"),
    ("extract.executor_cpu_s", "s", None, "extract.executor_cpu_s"),
    ("extract.pages_in", "count", None, "extract.pages_in"),
    ("extract.facts_out", "count", None, "extract.facts_out"),
    ("traced.op_p50_s", "s", None, "traced.op_p50_s"),
)


def _span_fields() -> list[tuple[str, str, str, str]]:
    return [(f"{s}.{f}", u, s, f) for s in SPANS
            for f, u in (SPAN_FIELDS[:1] if s in JOBLESS else SPAN_FIELDS)]


def per_layer_names() -> list[tuple[str, str]]:
    return [(m, u) for m, u, _, _ in _span_fields() + list(EXTRA)]


# --------------------------------------------------------------------------- #
# inputs and references (not part of set-up time)
# --------------------------------------------------------------------------- #
def make_inputs(workload: str, seed: int, size: dict, seconds: float, d: str) -> dict:
    from perfbench import gen

    os.makedirs(d, exist_ok=True)
    if workload == "kg_build":
        from kgx import fixtures

        warm = os.path.join(d, "warm")
        fixtures.write_fixture(d, size["build_pages"], seed)
        fixtures.write_fixture(warm, size["warm_pages"], seed + 1, golden=False)
        return {"pages": os.path.join(d, "pages.parquet"),
                "warmup_pages": os.path.join(warm, "pages.parquet"),
                "golden": os.path.join(d, "golden_triples.parquet"),
                "first_scan": os.path.join(d, "pages.parquet")}
    if workload == "kg_ingest":
        # one arrival per second of run time is more than the program has
        # ever sustained on a 4-vCPU VM (3-4 s per 120-page arrival);
        # running out is reported as a failure rather than measuring less
        n_files = size["backlog"] + int(seconds) + 4
        files = gen.ingest_files(os.path.join(d, "files"), n_files,
                                 size["per_file"], seed)
        warm = gen.ingest_files(os.path.join(d, "warm"), 2, size["warm_per_file"],
                                seed + 1)
        return {"files": files, "backlog_files": size["backlog"],
                "warmup_files": [f["path"] for f in warm],
                "first_scan": files[0]["path"]}
    return corpus_inputs(seed, size, d)


def corpus_inputs(seed: int, size: dict, d: str) -> dict:
    import duckdb

    import __spark_entry__ as entry
    from kgx.canon import JACCARD_THRESHOLD
    from perfbench import gen, reference

    tables, warm = os.path.join(d, "tables"), os.path.join(d, "warm")
    counts = gen.write_tables(tables, size["sf"], seed)
    gen.write_tables(warm, size["warm_sf"], seed + 1)
    con = duckdb.connect()
    for t in counts:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(tables, t)}.parquet')")
    oracles = entry.oracle_sql()
    refs = {}
    for q in MIX:
        if q == "t07_minhash_clusters":
            docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
            refs[q] = reference.t07_exact(docs, JACCARD_THRESHOLD)
        else:
            refs[q] = reference.duckdb_oracle(con, oracles[q])
    con.close()
    return {"tables": tables, "warmup_tables": warm, "refs": refs,
            "first_scan": os.path.join(tables, "documents.parquet"),
            "rows": counts}


# --------------------------------------------------------------------------- #
# child process: environment, memory sampling, clean shutdown
# --------------------------------------------------------------------------- #
def _session_pids(sid: int) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            out.append(int(name))
    return out


def _rss_bytes(pids: list[int]) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Samples the summed RSS of every process in the child's session (the
    driver's Python process, its JVM and the Python workers)."""

    def __init__(self, sid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.sid, self.period = sid, period
        self.samples: list[tuple[float, int]] = []
        self.stop_evt = threading.Event()

    def run(self) -> None:
        while not self.stop_evt.wait(self.period):
            self.samples.append((time.time(), _rss_bytes(_session_pids(self.sid))))

    def peak(self, lo: float, hi: float) -> int:
        return max((r for t, r in self.samples if lo <= t <= hi), default=0)


def _kill_session(sid: int) -> None:
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    t_end = time.time() + 15
    while _session_pids(sid) and time.time() < t_end:
        time.sleep(0.1)


def run_child(workload: str, inputs: dict, seconds: float, trace: int,
              work: str) -> dict | None:
    inputs_path = os.path.join(work, "inputs.json")
    out_path = os.path.join(work, "result.json")
    with open(inputs_path, "w") as f:
        json.dump(inputs, f)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # the repo root on the path of the driver AND (inherited through the JVM)
    # of every Python worker, whatever the working directory
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "KGX_DRIVER_MEM": "2g",
        "PERFBENCH_SPAWN_TIME": repr(time.time()),
    })
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "workloads.py"),
           "--workload", workload, "--inputs", inputs_path,
           "--seconds", str(seconds), "--trace", str(trace),
           "--cores", str(CORES), "--out", out_path]
    log_path = os.path.join(work, "child.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True,
                                stdout=log, stderr=subprocess.STDOUT)
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        rc = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        rc = None
        print(f"perfbench: {workload} exceeded {DEADLINE_S}s", file=sys.stderr)
    finally:
        sampler.stop_evt.set()
        sampler.join()
        _kill_session(proc.pid)
        proc.wait()
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        print(f"perfbench: {workload} child exited with {rc}; log tail:\n{tail}",
              file=sys.stderr)
        return None
    with open(out_path) as f:
        res = json.load(f)
    lo, hi = res["timed_window"]
    res["peak_rss_mb"] = sampler.peak(lo, hi) / 2**20
    return res


# --------------------------------------------------------------------------- #
# output
# --------------------------------------------------------------------------- #
def e2e_metrics(res: dict) -> dict:
    # op_p50_s is None (null) when the workload raised before measuring it
    vals = {"setup_s": res["setup_s"], "op_p50_s": res["e2e"]["op_p50_s"]}
    return {name: {"value": vals[name], "unit": unit} for name, unit in E2E}


def layer_metrics(res: dict) -> dict:
    spans = res.get("spans", {})
    derived = dict(res.get("derived", {}))
    st = spans.get("streaming.ingest_available_now", {})
    if st.get("pages_in"):
        derived["streaming.dedup_skip_frac"] = 1 - st["pages_kept"] / st["pages_in"]
    derived["traced.op_p50_s"] = res["e2e"]["op_p50_s"]
    out = {}
    for m, u, s, f in _span_fields() + list(EXTRA):
        v = derived.get(f, 0.0) if s is None else spans.get(s, {}).get(f, 0.0)
        out[m] = {"value": v, "unit": u}
    return out


def print_report(workload: str, res: dict) -> None:
    failed_frac = res["failed"] / res["attempted"]
    rows = [("setup_s", res["setup_s"], "s", {}),
            ("peak_rss_mb", res["peak_rss_mb"], "MB", {}),
            ("failed_frac", failed_frac, "ratio", {})]
    rows += [(k, v.pop("value"), v.pop("unit"), v) for k, v in res["report"].items()]
    print(f"== {workload}: {res['attempted']} checked, {res['failed']} failed")
    for name, value, unit, extra in rows:
        notes = " ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
                         for k, v in extra.items())
        print(f"  {name:34s} {value:14.6g} {unit} {notes}".rstrip())
    for msg in res["failures"]:
        print(f"  FAILED {msg}")
    if res.get("spans"):
        cols = ("wall_s", "self_s", "driver_s", "executor_run_s", "executor_cpu_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "jobs",
                "calls")
        print(f"  {'span':36s}" + "".join(f" {c:>19s}" for c in cols))
        for name, r in sorted(res["spans"].items(), key=lambda kv: -kv[1]["wall_s"]):
            print(f"  {name:36s}" + "".join(f" {r.get(c, 0.0):19.6g}" for c in cols))
        if res.get("derived"):
            print("  derived " + json.dumps(res["derived"]))
        print("  span records " + json.dumps(res["span_records"]))


def final_line(results: list[tuple[str, dict]], trace: int) -> dict:
    metrics: dict = {}
    for workload, res in results:
        m = layer_metrics(res) if trace else e2e_metrics(res)
        if len(results) > 1:
            m = {f"{workload}.{k}": v for k, v in m.items()}
        metrics.update(m)
    attempted = sum(r["attempted"] for _, r in results)
    failed = sum(r["failed"] for _, r in results)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def preflight() -> str | None:
    for rel in ("kgx/__init__.py", "__spark_entry__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"{rel} not found under {ROOT}: run from a checkout of the repository"
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args(argv)
    # a terminated launcher still stops its child's whole process session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    problem = preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    workloads = WORKLOADS if args.workload == "all" else (args.workload,)
    base = os.path.join(ROOT, ".bench_work")
    results: list[tuple[str, dict]] = []
    untraced: dict[str, dict] = {}
    work = base
    try:
        for w in workloads:
            work = os.path.join(base, f"{w}-s{args.seed}-{os.getpid()}")
            modes = (0, 1) if (args.trace and args.workload == "all") else (args.trace,)
            for mode in modes:
                # fresh inputs per child: kg_ingest moves its files as they land
                shutil.rmtree(work, ignore_errors=True)
                inputs = make_inputs(w, args.seed, SIZES[args.size], args.seconds,
                                     os.path.join(work, "inputs"))
                res = run_child(w, inputs, args.seconds, mode, work)
                if res is None:
                    return 3
                print_report(w + (" (traced)" if mode else ""), res)
                if mode == 0:
                    untraced[w] = res
            if w in untraced and args.trace:
                a, b = untraced[w]["e2e"].get("op_p50_s"), res["e2e"].get("op_p50_s")
                if a and b:
                    print(f"  tracing overhead on op_p50_s: {b - a:+.3f} s "
                          f"({(b - a) / a:+.1%})")
            results.append((w, res))
            shutil.rmtree(work, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # absent, or another run's work is still in it
    line = final_line(results, args.trace)
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
