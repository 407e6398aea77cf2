"""The benchmark's own tests: every gate trips on a corrupted output, and a
tiny run of each workload prints every named metric with its unit.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, reference, run  # noqa: E402


@pytest.fixture(scope="module")
def gold():
    from kgx import fixtures

    return {(t["subj"], t["pred"], t["obj"])
            for t in fixtures.golden_triples(fixtures.gen_pages(30, 5))}


def test_build_gate_exact(gold):
    assert reference.build_gate(set(gold), gold) == []
    assert reference.build_gate(set(list(gold)[1:]), gold)  # one triple dropped
    extra = set(gold) | {("s", "p", "o")}
    assert reference.build_gate(extra, gold)


def test_ingest_gate(gold):
    assert reference.ingest_gate(set(gold), set(gold), gold) == []
    dropped = set(list(gold)[1:])
    # one triple lost in compaction: the before/after check trips on its own
    assert reference.ingest_gate(set(gold), dropped, gold)
    # a changed object keeps P/R above 0.95 but not the count-and-set match
    t = sorted(gold)[0]
    changed = (set(gold) - {t}) | {(t[0], t[1], t[2] + "x")}
    assert reference.ingest_gate(changed, changed, gold) == []  # P/R tolerance
    assert reference.ingest_gate(dropped, dropped, gold)  # count differs


def test_t07_gate_trips_on_one_cluster_key(tmp_path):
    gen.write_tables(str(tmp_path), 0.001, 3)
    import pyarrow.parquet as pq

    docs = pq.read_table(tmp_path / "documents.parquet").to_pandas()
    pairs = list(zip(docs.doc_id.tolist(), docs.text.tolist()))
    rows, counts = reference.t07_rows(pairs, 0.4)
    assert counts["verified_edges"] > 0  # planted near-duplicates cluster
    ref = reference.t07_exact(pairs, 0.4)
    assert reference.frame_gate("t07", reference.T07_COLS, rows, ref) == []
    bad = [(rows[0][0], "0" * 32, rows[0][2])] + rows[1:]
    assert reference.frame_gate("t07", reference.T07_COLS, bad, ref)
    assert reference.frame_gate("t07", reference.T07_COLS, rows[1:], ref)


def test_t07_reference_matches_lsh_free_semantics():
    # a near-duplicate pair above the threshold, a short-text fallback pair,
    # and an unrelated document
    docs = [(1, "a b c d e f"), (2, "a b c d e f g"), (3, "x y"), (4, "X, y!"),
            (5, "p q r s")]
    rows, _ = reference.t07_rows(docs, 0.4)
    size = {d: n for d, _, n in rows}
    assert size == {1: 2, 2: 2, 3: 2, 4: 2, 5: 1}


def test_duckdb_gate_trips_on_one_value(tmp_path):
    import duckdb

    import __spark_entry__ as entry

    gen.write_tables(str(tmp_path), 0.001, 4)
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tmp_path / t}.parquet')")
    sql = entry.oracle_sql()["q07_composite_join"]
    ref = reference.duckdb_oracle(con, sql)
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    rows = [tuple(r) for r in res.fetchall()]
    assert reference.frame_gate("q07", cols, rows, ref) == []
    bad = [rows[0][:-1] + (rows[0][-1] + 1,)] + rows[1:]
    assert reference.frame_gate("q07", cols, bad, ref)


def test_ingest_files_mirror_earlier_files_only(tmp_path):
    import pyarrow.parquet as pq

    files = gen.ingest_files(str(tmp_path), 4, 10, 9)
    seen: set[bytes] = set()
    for i, f in enumerate(files):
        t = pq.read_table(f["path"]).to_pylist()
        mirrors = [r for r in t if gen.MIRROR_HOST in r["url"]]
        assert len(mirrors) == (0 if i == 0 else 2)
        assert all(r["html"] in seen for r in mirrors)
        seen.update(r["html"] for r in t if gen.MIRROR_HOST not in r["url"])


def test_failed_counts_operations_not_messages():
    from perfbench.workloads import Run

    r = Run(None, {}, "", None)
    r.check([])
    r.check(["kg_ingest: P=0.9", "kg_ingest: compaction changed the triples"])
    assert (r.attempted, r.failed, len(r.failures)) == (2, 1, 2)


def test_tail_stat():
    from perfbench.workloads import tail_stat

    assert tail_stat([1.0, 2.0]) == (2.0, 100, 0)
    v, p, beyond = tail_stat([float(i) for i in range(100)])
    assert beyond >= 10 and p == 89 and v == 89.0


REPORT_METRICS = {
    "kg_build": ["build_triples_per_s", "triple_precision", "triple_recall",
                 "store_bytes_per_triple"],
    "kg_ingest": ["triple_precision", "triple_recall", "store_bytes_per_triple",
                  "backlog_pages_per_s", "ingest_p50_s", "ingest_tail_s"],
    "corpus_query": ["query_round_s", "near_dup_s"],
}


def test_tiny_run_prints_every_metric_with_unit():
    """Each workload at --size tiny, untraced then traced, from a working
    directory outside the repository. Correctness is not asserted here: at
    20-page arrivals kg_ingest's sticky representatives put P and R near
    0.91, under its gate (full size reaches 1.0); the gate tests above cover
    the checks."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "all", "--seed", "3", "--seconds", "1", "--trace", "1",
         "--size", "tiny"],
        cwd="/", capture_output=True, text=True, timeout=1500)
    assert out.returncode in (0, 1), out.stdout[-3000:] + out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    final = json.loads(lines[-1])
    assert final["attempted"] >= 3 and final["correct"] == (final["failed"] == 0)
    for w, names in REPORT_METRICS.items():
        block = out.stdout.split(f"== {w}:")[1].split("==")[0]
        for name in ["setup_s", "peak_rss_mb", "failed_frac"] + names:
            assert any(ln.split()[:1] == [name] and len(ln.split()) >= 3
                       for ln in block.splitlines()), (w, name)
        for name, unit in run.per_layer_names():
            m = final["metrics"][f"{w}.{name}"]
            assert m["unit"] == unit and isinstance(m["value"], (int, float))
    assert "tracing overhead" in out.stdout


def test_refuses_to_run_without_the_program(tmp_path):
    """With only the benchmark's own files present it exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0 and out.stdout == ""
