"""Independent references the benchmark checks the program's outputs against.

None of these call the Spark code paths under test:

- ``t07_exact``: exact near-duplicate clustering with the semantics
  ``kgx.ops.textops.t07_minhash_clusters`` documents (normalize, token
  3-grams with the whole-string fallback, exact Jaccard >=
  ``canon.JACCARD_THRESHOLD``, transitive closure, ``md5(min doc_id)``),
  computed with an inverted index and union-find instead of LSH blocking.
- ``duckdb_oracle``: a query's DuckDB oracle SQL over the same parquet files.
- ``triple_scores``: precision / recall of committed triples against
  ``kgx.fixtures.golden_triples``, the sequential per-page reference
  extractor.
- ``frame_hash`` is the order-insensitive row hash of ``tools/check_oracle``.
"""

from __future__ import annotations

import hashlib
import re
from collections import defaultdict

from tools.check_oracle import frame_hash

_NON_ALNUM = re.compile(r"[^a-z0-9 ]+")
_SPACES = re.compile(r"\s+")


def _grams(text: str, k: int = 3) -> frozenset[str]:
    norm = _SPACES.sub(" ", _NON_ALNUM.sub(" ", (text or "").lower())).strip()
    toks = norm.split(" ")
    if len(toks) < k:
        return frozenset([norm])
    return frozenset(" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1))


def t07_rows(docs: list[tuple[int, str]], threshold: float) -> tuple[list[tuple], dict]:
    """(doc_id, text) rows -> the t07 output rows (doc_id, cluster_key,
    cluster_size) and counts of the work done."""
    grams = {d: _grams(t) for d, t in docs}
    index: dict[str, list[int]] = defaultdict(list)
    for d, gs in grams.items():
        for g in gs:
            index[g].append(d)
    shared: dict[tuple[int, int], int] = defaultdict(int)
    for ids in index.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                shared[(a, b) if a < b else (b, a)] += 1
    parent = {d: d for d in grams}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    edges = 0
    for (a, b), n in shared.items():
        if n / (len(grams[a]) + len(grams[b]) - n) >= threshold:
            edges += 1
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = defaultdict(list)
    for d in grams:
        members[find(d)].append(d)
    rows = []
    for ids in members.values():
        key = hashlib.md5(str(min(ids)).encode()).hexdigest()
        rows.extend((d, key, len(ids)) for d in ids)
    counts = {"pairs_sharing_a_gram": len(shared), "verified_edges": edges,
              "clusters": len(members)}
    return rows, counts


T07_COLS = ["doc_id", "cluster_key", "cluster_size"]


def t07_exact(docs: list[tuple[int, str]], threshold: float) -> dict:
    rows, _ = t07_rows(docs, threshold)
    h, n = frame_hash(T07_COLS, rows)
    return {"hash": h, "rows": n, "cols": sorted(T07_COLS)}


def duckdb_oracle(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    h, n = frame_hash(cols, res.fetchall())
    return {"hash": h, "rows": n, "cols": sorted(cols)}


def triple_scores(got: set[tuple], gold: set[tuple]) -> tuple[float, float]:
    tp = len(got & gold)
    return (tp / len(got) if got else 0.0, tp / len(gold) if gold else 0.0)


# --------------------------------------------------------------------------- #
# gates: each returns the failures it found (empty = passed)
# --------------------------------------------------------------------------- #
INGEST_MIN_SCORE = 0.95


def build_gate(got: set[tuple], gold: set[tuple]) -> list[str]:
    """kg_build commits exactly the golden triples."""
    if got == gold:
        return []
    p, r = triple_scores(got, gold)
    return [f"kg_build: P={p:.4f} R={r:.4f} triples {len(got)}/{len(gold)}"]


def ingest_gate(before: set[tuple], after: set[tuple], gold: set[tuple]) -> list[str]:
    """kg_ingest reaches P and R >= 0.95 with golden's triple count, and
    compaction leaves the store's triples unchanged. Not exact: canonical
    representatives are sticky across triggers, so an org whose cheaper
    surface only arrives later keeps its earlier representative."""
    out = []
    p, r = triple_scores(after, gold)
    if p < INGEST_MIN_SCORE or r < INGEST_MIN_SCORE or len(after) != len(gold):
        out.append(f"kg_ingest: P={p:.4f} R={r:.4f} triples {len(after)}/{len(gold)}")
    if before != after:
        out.append(f"kg_ingest: compaction changed the triples "
                   f"({len(before - after)} lost, {len(after - before)} gained)")
    return out


def frame_gate(name: str, cols: list[str], rows: list[tuple], ref: dict) -> list[str]:
    """A query's rows hash, count and column set equal the reference's."""
    h, n = frame_hash(cols, rows)
    if h == ref["hash"] and n == ref["rows"] and sorted(cols) == ref["cols"]:
        return []
    return [f"corpus_query: {name} hash {h}/{ref['hash']} rows {n}/{ref['rows']} "
            f"cols {sorted(cols)}/{ref['cols']}"]
