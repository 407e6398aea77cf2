"""Entity canonicalization: MinHash-LSH blocking + connected components.

Replaces the reference's O(n^2) pairwise similarity loop + networkx
connected_components (scripts/analysis/PDD_categorization.py:46-74) with the
scale path mandated by BASELINE.json:north_rule:

1. normalize surface + character-3-gram shingles — pure JVM expressions
   (lower/regexp_replace/substring via transform over a sequence), no Python;
2. MinHash signature: 64 hashes = array_min over xxhash64(shingle, seed_i)
   (deterministic across any parallelism — critical for N-vs-4N reproducibility,
   SURVEY.md §7 "LSH determinism");
3. banding b=32 x r=2: P(miss | Jaccard 0.5) = (1 - 0.25)^32 ≈ 1e-4, so
   candidate recall is effectively total at the similarity levels that matter,
   while candidate count stays near-linear;
4. candidate pairs = self-equi-join on (band_id, band_hash) — a hash-partitioned
   shuffle join on the band key, NEVER an all-pairs product;
5. exact-Jaccard verification on the full shingle sets (array_intersect /
   array_union) >= threshold — LSH is only a blocker, correctness comes from the
   exact check, so output is deterministic given the input set;
6. connected components via alternating large-star/small-star contraction
   over the edge list (GraphFrames is not on this classpath; Kiveris et al.,
   'Connected Components in MapReduce and Beyond'), localCheckpoint per round
   to cut lineage — O(log n) rounds to a star fixpoint regardless of component
   diameter, and a non-converged exit raises instead of splitting components;
7. representative per component = min (normalized, raw) surface, matching the
   golden rule in kgx.fixtures._canon_groups.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_HASHES = 64
N_BANDS = 32  # r = 2 rows per band
JACCARD_THRESHOLD = 0.4



@dataclass(frozen=True)
class CanonicalMapping:
    """A (surface, rep) relation: canonical_mapping's result, or the store's
    entity dictionary (TripleStore.known_entities, where the union of
    snapshots need not be one rep per surface). ``df`` is the frame and
    ``rows`` the same rows as driver-side tuples when the relation lives on
    the driver: the driver path built it, the store read its snapshots with
    pyarrow, or pipeline._pinned pinned a distributed mapping and collected
    it within the driver budget (kgx.util.fits_driver). None means over
    that budget, or not sized yet. Consumers holding ``rows`` skip the
    localCheckpoint pin, the size measurement and the collect, all pure
    latency for a dictionary that already lives on the driver. Carried
    as a value, not as an attribute on the DataFrame, which any
    ``.select()`` would silently drop."""

    df: DataFrame
    rows: list[tuple[str, str]] | None = None

    def count(self) -> int:
        """Mapping row count; free when the rows are driver-side."""
        return len(self.rows) if self.rows is not None else self.df.count()


def banding_recall(j: float, n_bands: int, rows_per_band: int) -> float:
    """P(a pair at Jaccard ``j`` collides in at least one band):
    1 - (1 - j^r)^b — the closed-form LSH blocking recall."""
    return 1.0 - (1.0 - j**rows_per_band) ** n_bands


def banding_for(
    target_j: float, miss_rate: float, max_hashes: int = 256
) -> tuple[int, int]:
    """Pick (n_bands, rows_per_band) so that a pair at Jaccard >= ``target_j``
    misses LSH blocking with probability <= ``miss_rate``, using at most
    ``max_hashes`` MinHash slots (n_bands * rows_per_band <= max_hashes).

    Among feasible settings, rows_per_band is maximized: more rows per band is
    the precision knob — it suppresses candidates from the below-threshold mass
    (the r=2 candidate explosion on templated corpora, BENCH/BASELINE.md) while
    the band count b >= log(miss)/log(1 - j^r) keeps recall at the target.
    The returned miss bound holds for every j' >= target_j because recall is
    monotone in j. Raises when no setting within max_hashes achieves the miss
    rate (target_j too low for the hash budget — raise the budget or the
    threshold).
    """
    import math

    if not 0.0 < target_j < 1.0:
        raise ValueError(f"target_j must be in (0,1), got {target_j}")
    if not 0.0 < miss_rate < 1.0:
        raise ValueError(f"miss_rate must be in (0,1), got {miss_rate}")
    best: tuple[int, int] | None = None
    for r in range(1, max_hashes + 1):
        p_band = target_j**r
        if p_band >= 1.0:  # float rounding edge: j ~ 1
            b = 1
        elif p_band == 0.0:  # underflow: no band count can ever collide
            continue
        else:
            # log1p(-p), not log(1-p): 1-p rounds to 1.0 once p < ~1e-17 and
            # log(1.0) == 0 divides by zero; log1p stays exact for tiny p
            b = math.ceil(math.log(miss_rate) / math.log1p(-p_band))
        if b >= 1 and b * r <= max_hashes:
            best = (b, r)  # keep scanning: larger r that still fits wins
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {max_hashes} hashes reaches "
            f"miss<={miss_rate} at J>={target_j}"
        )
    return best


def normalize_col(col):
    """JVM-side mirror of kernel.normalize_surface (tested for parity)."""
    s = F.lower(col)
    s = F.regexp_replace(s, "[^a-z0-9 ]+", " ")
    s = F.regexp_replace(s, "\\s+", " ")
    return F.trim(s)


def shingle_col(norm_col, k: int = 3):
    """Sorted distinct k-grams; JVM mirror of kernel.shingles."""
    n = F.length(norm_col)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.substring(norm_col, i + 1, k),
    )
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.array_sort(F.array_distinct(grams))
    )


def token_shingle_col(norm_col, k: int = 3):
    """Token k-gram shingles (word-level) — the right granularity for document
    near-dup (char grams saturate on small vocabularies); falls back to the
    whole string when shorter than k tokens. Generic in k (slice, not
    positional indexing) so it stays the mirror of _py_grams_of_norm for the
    shingle_k=5 web preset too."""
    toks = F.split(norm_col, " ")
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n < k, F.array(norm_col)).otherwise(
        F.array_sort(F.array_distinct(grams))
    )


def _splitmix64(z):
    """Vectorized splitmix64 finalizer (numpy uint64, wraparound intended)."""
    import numpy as np

    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _minhash_seeds():
    import numpy as np

    return (
        np.arange(1, N_HASHES + 1, dtype=np.uint64)
        * np.uint64(0x9E3779B97F4A7C15)
    )


def _py_grams_of_norm(norm: str, shingle: str, k: int = 3) -> list[str]:
    """Python mirror of shingle_col/token_shingle_col gram extraction.

    Returns [] only for empty char-gram input; token mode falls back to the
    whole normalized string when shorter than k tokens (including '' for
    empty/punctuation-only text, so such rows still get a signature and empty
    docs dedup against each other)."""
    if shingle == "char":
        if len(norm) < k:
            return [norm] if norm else []
        return [norm[i : i + k] for i in range(len(norm) - k + 1)]
    toks = norm.split()
    if len(toks) < k:
        return [norm]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _hash_and_sig(grams: list[str], seeds):
    """grams -> (sorted distinct uint64 shingle ids, 64-slot MinHash sig).

    crc32 pairs give stable 64-bit shingle ids; splitmix64 over (id ^ seed_h)
    derives the 64 hash families."""
    import zlib

    import numpy as np

    b = [g.encode() for g in grams]
    h = np.unique(
        np.fromiter(
            ((zlib.crc32(g) << 32) | zlib.crc32(g + b"#") for g in b),
            dtype=np.uint64,
            count=len(b),
        )
    )
    sig = _splitmix64(h[None, :] ^ seeds[:, None]).min(axis=1)
    return h, sig


def _sig_gen(shingle: str):
    """mapInPandas generator: surface -> (surface, norm, sh_hash, sig).

    Shingle hashing + the 64-slot MinHash run in numpy inside Arrow batches.
    An earlier all-JVM version (nested transform()/xxhash64 higher-order
    expressions) was ~9 ms/doc: HOF lambdas are interpreted, not
    whole-stage-codegen'd, so each hash call pays boxed expression-eval — the
    'UDFs are the slow path' rule inverts here.
    """

    def gen(batches):
        import numpy as np
        import pandas as pd

        from kgx import kernel

        seeds = _minhash_seeds()
        with np.errstate(over="ignore"):
            for pdf in batches:
                out = {"surface": [], "norm": [], "sh_hash": [], "sig": []}
                for s in pdf["surface"]:
                    norm = kernel.normalize_surface(s)
                    grams = _py_grams_of_norm(norm, shingle)
                    if not grams or grams == [""]:
                        continue  # entity path: nothing to canonicalize
                    h, sig = _hash_and_sig(grams, seeds)
                    out["surface"].append(s)
                    out["norm"].append(norm)
                    out["sh_hash"].append(h.view(np.int64))
                    out["sig"].append(sig.view(np.int64))
                yield pd.DataFrame(out)

    return gen


_SURF_SCHEMA = (
    "surface string, norm string, sh_hash array<long>, sig array<long>"
)


def surfaces_with_shingles(mentions: DataFrame, shingle: str = "char") -> DataFrame:
    """distinct surface -> (surface, norm, sh_hash, sig).

    sh_hash = distinct stable 64-bit shingle ids; Jaccard verification runs on
    these long arrays (same set semantics as the strings, far cheaper). The
    result is localCheckpoint'ed: downstream band hashing indexes sig ~64
    times, and on an unmaterialized column each access would recompute the
    whole signature.
    """
    df = (
        mentions.select("surface")
        .distinct()
        .mapInPandas(_sig_gen(shingle), schema=_SURF_SCHEMA)
    )
    return df.localCheckpoint()


_KEYED_SCHEMA = "surface string, h string, sh_hash array<long>, sig array<long>"


_TOK_MEMO_MAX = 1_000_000  # ~100 MB ceiling; web vocabularies are open-ended


def _tok_hash(tok: str, memo: dict):
    """Stable 64-bit token id (crc32 pair), memoized per worker batch-iterator
    — real corpora repeat tokens heavily, so the hash cost collapses to the
    working vocabulary. The memo is CAPPED: an open web vocabulary (urls, ids,
    typos) would otherwise grow the dict unboundedly for the partition's
    lifetime and OOM the Python worker."""
    import zlib

    v = memo.get(tok)
    if v is None:
        b = tok.encode()
        v = (zlib.crc32(b) << 32) | zlib.crc32(b + b"#")
        if len(memo) >= _TOK_MEMO_MAX:
            memo.clear()
        memo[tok] = v
    return v


def _token_gram_hashes(norm: str, k: int, memo: dict):
    """Distinct token-k-gram hashes, numpy-vectorized: hash each token once
    (memoized), then fold the k window positions with rotate-xor + splitmix —
    no gram STRINGS are ever materialized. ~10x faster than hashing joined
    gram strings on multi-KB documents (measured 5 ms/doc -> sub-ms); the
    gram-hash values differ from the string-crc scheme but Jaccard over the
    hash SETS is the same statistic, which is all blocking/verification use.
    """
    import numpy as np

    toks = norm.split()
    if len(toks) < k:
        return np.unique(
            np.array([_tok_hash(norm, memo)], dtype=np.uint64)
        )
    th = np.fromiter(
        (_tok_hash(t, memo) for t in toks), dtype=np.uint64, count=len(toks)
    )
    n = len(toks) - k + 1
    h = th[:n].copy()
    for j in range(1, k):
        h = ((h << np.uint64(7)) | (h >> np.uint64(57))) ^ th[j : n + j]
    return np.unique(_splitmix64(h))


def _keyed_sig_gen(shingle: str, k: int = 3, counters=None):
    """mapInArrow generator for id-keyed corpora:
    (surface=id, _text) -> (surface, h=sha256(text), sh_hash, sig).

    ``counters``: optional (row_acc, byte_acc) Spark accumulators filled with
    the emitted row count and payload bytes (id + hash arrays) — the size
    check of dedup_clusters' regime choice rides the signature job itself
    instead of costing a separate size-probe action (round 7). Task
    retries can only OVER-count, which fails toward the shuffle fallback —
    safe.

    The text itself never leaves the Arrow batch — only the id, a 64-char
    content hash, and fixed-width hash arrays, so no downstream shuffle or
    join ever carries document bytes (round-1 review finding).

    mapInArrow, not mapInPandas: the output list columns are built as Arrow
    ListArrays from one flattened int64 buffer + offsets (zero-copy), where
    the pandas path boxed every per-document numpy array into object cells —
    measured ~5 ms/doc of pure conversion overhead vs ~0.6 ms/doc of actual
    signature compute on 3 KB documents."""

    def gen(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        from kgx import kernel

        seeds = _minhash_seeds()
        memo: dict = {}
        out_schema = pa.schema(
            [
                ("surface", pa.string()),
                ("h", pa.string()),
                ("sh_hash", pa.list_(pa.int64())),
                ("sig", pa.list_(pa.int64())),
            ]
        )
        with np.errstate(over="ignore"):
            for b in batches:
                names = b.schema.names
                keys = b.column(names.index("surface")).to_pylist()
                texts = b.column(names.index("_text")).to_pylist()
                n = len(keys)
                hs: list[str] = []
                hh_list: list = []
                lens = np.empty(n, dtype=np.int32)  # offsets are Arrow int32
                sig_flat = np.empty((n, N_HASHES), dtype=np.uint64)
                for i, text in enumerate(texts):
                    text = text or ""
                    norm = kernel.normalize_surface(text)
                    if shingle == "token":
                        hh = _token_gram_hashes(norm, k, memo)
                        sig_flat[i] = _splitmix64(
                            hh[None, :] ^ seeds[:, None]
                        ).min(axis=1)
                    else:
                        grams = _py_grams_of_norm(norm, shingle, k) or [norm]
                        hh, sig_flat[i] = _hash_and_sig(grams, seeds)
                    hh_list.append(hh)
                    lens[i] = len(hh)
                    hs.append(hashlib.sha256(text.encode()).hexdigest())
                flat = (
                    np.concatenate(hh_list)
                    if hh_list
                    else np.array([], dtype=np.uint64)
                )
                offs = np.zeros(n + 1, dtype=np.int32)
                np.cumsum(lens, out=offs[1:])
                sh_arr = pa.ListArray.from_arrays(
                    pa.array(offs), pa.array(flat.view(np.int64))
                )
                sig_offs = np.arange(
                    0, (n + 1) * N_HASHES, N_HASHES, dtype=np.int32
                )
                sig_arr = pa.ListArray.from_arrays(
                    pa.array(sig_offs),
                    pa.array(sig_flat.reshape(-1).view(np.int64)),
                )
                if counters is not None:
                    counters[0].add(n)
                    counters[1].add(
                        sum(len(key.encode()) for key in keys if key)
                        + 8 * (int(len(flat)) + n * N_HASHES)
                    )
                yield pa.RecordBatch.from_arrays(
                    [pa.array(keys, pa.string()), pa.array(hs, pa.string()),
                     sh_arr, sig_arr],
                    schema=out_schema,
                )

    return gen


def dedup_clusters(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle: str = "token",
    shingle_k: int = 3,
    bucket_cap: int | None = None,
    n_bands: int = N_BANDS,
    threshold: float = JACCARD_THRESHOLD,
    metrics: dict | None = None,
) -> DataFrame:
    """(id, text) -> (id string, component): near-duplicate document clustering.

    The corpus-scale variant of canonical_mapping, keyed by document id:

    1. one Arrow pass computes (id, sha256(text), shingle ids, MinHash sig) —
       the document text NEVER enters a keyed shuffle, a join key, or a
       driver collect (the round-1 t07 carried full text through all three);
       the only text movement is the round-robin ``spread`` guard in front of
       the pass, which fires only for under-split sources (one-row-group
       parquet) and is a no-op on well-split 100 TB inputs;
    2. exact-duplicate prepass keys rows by content hash (one h-window) and
       keeps one representative per distinct text, so boilerplate dup-groups
       can't blow an LSH band bucket past ``bucket_cap``;
    3. LSH banding + exact-Jaccard verification over representatives only;
    4. connected components over ids;
    5. every doc maps to its exact-rep's component; docs whose text is unique
       and un-clustered are their own singleton component.

    Two regimes for steps 3-4, same groups, chosen by the reps' (id,
    shingle ids, sig) payload as the signature pass's accumulators measured
    it (rows and encoded bytes of all docs, an upper bound), against the
    engine's driver budget (kgx.util.fits_driver):
    - driver (within the budget): the reps are collected from the pinned
      signature frame as one Arrow table and _lsh_on_driver does the
      banding, the sig gate and the exact Jaccard in numpy; the driver
      union-find (min_components) labels the touched reps and the labels
      come back as one broadcast local frame joined to the members (t07
      on 500 docs: 7 Spark jobs a call, where the joins took 14).
    - distributed (over it): the band self-join carries the id string
      through the band shuffle, the sig/shingle payloads are joined to the
      candidates, and the verified edges go to connected_components (whose
      own gate still picks the driver union-find for a small edge set).
    The budget is also the measured cap: no site cap tightens it. Timed
    with ``bench/driver_regime_bench.py t07`` (t07's settings, 5% planted
    near-dups, ``local[4]``, medians of 3 or 2 runs) against the
    broadcast-payload form of the joins with the driver CC: 500 docs
    1.36 s vs 2.37 s, 10k 1.53 vs 3.18, 50k 3.96 vs 7.69, 100k 7.98 vs
    15.06, 200k 16.6 vs 38.6, 270k 24.9 vs 61.2 (about 254 MB of payload,
    next to the 256 MB byte budget; driver peak RSS 1.1 GB); and on 10k
    docs in 100 families of near-variants (460k gated candidates, 430k
    edges) 7.0 s vs 101 s. Since that form won nowhere inside the budget
    it was deleted; past the budget the joins shuffle.

    Exact equality and near-dup merging compose transitively: members of an
    exact group share the rep's shingle set, so Jaccard against the rep equals
    Jaccard against any member.

    Tuning for corpus self-similarity: templated/boilerplate-heavy corpora
    (i.e. the web) have a high BASELINE Jaccard between unrelated documents at
    small gram sizes, which floods the LSH candidate set regardless of
    bucket_cap (measured: 100k template-generated docs at shingle_k=3,
    r=2 bands produced a candidate explosion). Raise ``shingle_k`` (5-13 is
    standard for web near-dup; RefinedWeb/Gopher use 13-gram MinHash) and/or
    rows-per-band (lower ``n_bands``) so unrelated docs stop colliding —
    true near-dups share long grams and still collide reliably.

    ``metrics``: an optional dict this call fills with blocking-stage counts
    — ``n_reps`` (exact-dup representatives entering LSH),
    ``candidate_pairs`` (distinct post-band, post-sig-gate pairs reaching
    the exact Jaccard check) and ``verified_pairs`` (edges surviving it).
    Diagnostics mode for scale attribution: wall time should track
    candidate/verified pair counts, and these counts make that checkable
    instead of argued. The driver regime counts them as it goes, at no
    cost. The distributed one re-executes the band join once from the
    checkpointed reps to count candidates (NOT pinned: the gated candidate
    rows carry two shingle arrays each, and checkpointing a corpus-scale
    pair set of multi-KB arrays into block storage is exactly the kind of
    hidden O(pairs·doc-size) memory cost this engine avoids); verified
    edges are slim (a, b) rows and ARE pinned so the count and connected
    components read one execution.
    """
    from kgx.util import fits_driver, spread

    keyed = docs.select(
        F.col(id_col).cast("string").alias("surface"), F.col(text_col).alias("_text")
    )
    # parquet scans split only at row-group boundaries, so a one-row-group
    # corpus file would feed the signature pass near-serially; one narrow
    # (id, text) shuffle buys full width for the one genuinely
    # O(corpus-bytes) compute here (no-op for well-split 100 TB inputs).
    # Exact-dup prepass: min id per distinct content hash via ONE h-keyed
    # window over the signature rows (round-7: replaces a groupBy +
    # equi-join + semi-join chain — three shuffles and two extra
    # checkpoints deriving the same columns). The single checkpoint pins the
    # one wide corpus copy that both consumers (members at the end, reps
    # through LSH) read; the un-checkpointed surf has exactly one consumer,
    # so the signature UDF still runs once.
    sc = docs.sparkSession.sparkContext
    n_acc, b_acc = sc.accumulator(0), sc.accumulator(0)
    surf = spread(keyed).mapInArrow(
        _keyed_sig_gen(shingle, shingle_k, counters=(n_acc, b_acc)),
        schema=_KEYED_SCHEMA,
    )
    wh = Window.partitionBy("h")
    surf2 = surf.withColumn("erep", F.min("surface").over(wh)).localCheckpoint()
    members = surf2.select("surface", "erep")
    reps = surf2.filter(F.col("surface") == F.col("erep")).select(
        "surface", "sh_hash", "sig"
    )
    # regime decision, against the accumulator totals the signature job
    # just filled: an upper bound on the reps' payload (reps <= all docs;
    # retries only inflate it), so no separate probe action runs. Within
    # the driver budget the reps are collected from the pin and blocking,
    # verification and CC run on the driver; past it the joins shuffle.
    # est_gate: 4 sigma under the exact-verify threshold, so weak candidates
    # die on the 512B sigs and true pairs reach the exact check
    est_gate = max(0.0, threshold - 0.25)
    if fits_driver(n_acc.value, b_acc.value):
        edges, counts = _lsh_on_driver(
            reps.toArrow(), bucket_cap, n_bands, est_gate, threshold
        )
        if metrics is not None:
            metrics.update(counts)
        comp = F.broadcast(_driver_cc_from_rows(docs.sparkSession, edges))
    else:
        cand = candidate_pairs(
            reps, bucket_cap=bucket_cap, n_bands=n_bands, est_gate=est_gate
        )
        edges = verified_edges(cand, threshold=threshold)
        if metrics is not None:
            metrics["n_reps"] = reps.count()
            # distinct pairs: the candidate STREAM carries one row per
            # colliding band, so the diagnostic dedups explicitly
            metrics["candidate_pairs"] = (
                cand.select("a", "b").dropDuplicates(["a", "b"]).count()
            )
            edges = edges.localCheckpoint()
            metrics["verified_pairs"] = edges.count()
        comp = connected_components(None, edges)
    # docs whose rep never touched an edge are their own singleton
    # component ('s:' namespace) via the coalesce fallback
    return members.join(
        comp.select(F.col("surface").alias("erep"), F.col("component").alias("_c")),
        "erep",
        "left",
    ).select(
        F.col("surface").alias(id_col),
        F.coalesce("_c", F.concat(F.lit("s:"), F.col("erep"))).alias("component"),
    )


def _lsh_on_driver(reps, bucket_cap, n_bands, est_gate, threshold):
    """dedup_clusters' blocking and verification over the reps' collected
    (surface, sh_hash, sig) Arrow table, in numpy: the same banding (a band
    is ``N_HASHES // n_bands`` consecutive sig slots; buckets over
    ``bucket_cap`` members are dropped), the same 64-slot agreement gate
    (skipped when ``est_gate`` is 0) and the same exact Jaccard on the
    shingle-hash sets as candidate_pairs + verified_edges. Buckets group by
    the band's slot values themselves, where the distributed form groups by
    their xxhash64; the two differ only on a 64-bit hash collision.

    Returns ``(edges, counts)``: the distinct verified (a, b) surface pairs
    and the metrics dedup_clusters reports (``n_reps``, distinct gated
    ``candidate_pairs``, ``verified_pairs``), counted as they are made."""
    import numpy as np

    surf = reps.column("surface").to_pylist()
    n = len(surf)
    sig = reps.column("sig").combine_chunks().flatten().to_numpy().reshape(n, N_HASHES)
    sh = reps.column("sh_hash").combine_chunks()
    offs = sh.offsets.to_numpy()
    vals = sh.values.to_numpy()
    r = N_HASHES // n_bands
    cap = n if bucket_cap is None else bucket_cap
    codes = [np.empty(0, dtype=np.int64)]
    for b in range(n_bands):
        keys = sig[:, b * r : (b + 1) * r]
        # stable sort by the band's slots: a bucket is a run of equal keys,
        # its members in ascending row order
        order = np.lexsort(keys.T[::-1])
        ks = keys[order]
        first = np.ones(n, dtype=bool)
        first[1:] = (ks[1:] != ks[:-1]).any(axis=1)
        starts = np.flatnonzero(first)
        bucket = np.cumsum(first) - 1
        size = np.diff(np.append(starts, n))[bucket]
        after = size - (np.arange(n) - starts[bucket]) - 1  # later members
        # every row pairs with each later member of its bucket: offset k
        # at a time, over the rows that still have a k-th later member
        live = np.flatnonzero((size <= cap) & (after > 0))
        k = 1
        while live.size:
            codes.append(order[live] * n + order[live + k])
            k += 1
            live = live[after[live] >= k]
    codes = np.unique(np.concatenate(codes))
    ia, ib = np.divmod(codes, max(n, 1))
    if est_gate > 0.0:
        agree = np.empty(len(ia), dtype=np.int64)
        for k in range(0, len(ia), 65536):  # bounded (pairs x 64) temporaries
            sl = slice(k, k + 65536)
            agree[sl] = (sig[ia[sl]] == sig[ib[sl]]).sum(axis=1)
        passed = agree / N_HASHES >= est_gate
        ia, ib = ia[passed], ib[passed]
    edges = []
    for i, j in zip(ia.tolist(), ib.tolist()):
        if surf[i] == surf[j]:  # the band join's a < b drops a repeated id
            continue
        a, b = vals[offs[i] : offs[i + 1]], vals[offs[j] : offs[j + 1]]
        inter = len(np.intersect1d(a, b, assume_unique=True))
        if inter / (len(a) + len(b) - inter) >= threshold:
            edges.append((surf[i], surf[j]))
    counts = {"n_reps": n, "candidate_pairs": len(ia), "verified_pairs": len(edges)}
    return edges, counts


def candidate_pairs(
    surf: DataFrame,
    bucket_cap: int | None = None,
    n_bands: int = N_BANDS,
    est_gate: float | None = None,
) -> DataFrame:
    """LSH banding self-join -> candidate (a, b) pairs, a < b (one row per
    colliding band — see the dedup note below; verified_edges dedups).

    Scale hygiene:
    - the band join carries ONLY (surface, band keys); shingle-set payloads are
      joined back for surviving candidates, so the widest shuffle here is
      O(#surfaces x #bands) narrow rows, not wide arrays;
    - ``bucket_cap`` drops band buckets with more than that many members — the
      standard guard against degenerate/boilerplate buckets that would
      otherwise quadratically explode one task (hot-key skew); capped buckets
      lose only candidates that other, less-common bands still surface;
    - ``est_gate``: two-stage verification — before joining the O(doc-size)
      shingle-set arrays, join the FIXED 64-slot signatures and drop pairs
      whose MinHash agreement fraction (an unbiased Jaccard estimate,
      sigma = sqrt(J(1-J)/64) ~ 0.06) falls below the gate. Candidates on
      boilerplate-heavy corpora are dominated by weak pairs; gating them on
      the 512-byte sigs instead of multi-KB shingle sets cuts the widest
      shuffle ~7x. Set the gate >= 3-4 sigma under the verify threshold so
      true pairs pass with certainty-in-practice (deterministic given sigs,
      so oracle parity is checkable, not probabilistic).
    """
    r = N_HASHES // n_bands
    bands = surf.select(
        "surface",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_bands - 1)),
                # hash all r signature slots of band b together
                lambda b: F.xxhash64(
                    *[F.element_at("sig", b * r + k + 1) for k in range(r)]
                ),
            )
        ).alias("band_id", "band_hash"),
    )
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_hash")
        bands = bands.withColumn("_n", F.count("*").over(w)).filter(
            F.col("_n") <= bucket_cap
        ).drop("_n")
    left = bands.select("band_id", "band_hash", F.col("surface").alias("a"))
    right = bands.select("band_id", "band_hash", F.col("surface").alias("b"))
    # NOT deduplicated (round 7): a pair colliding in k bands flows to the
    # gate/verify k times — those checks are idempotent filters, and
    # re-checking the few repeats costs far less than a corpus-wide
    # dropDuplicates shuffle of every candidate (measured 2.5x the whole
    # verify chain). verified_edges dedups the surviving edge set, which is
    # orders of magnitude smaller than the candidate stream.
    pairs = (
        left.join(right, ["band_id", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    if est_gate is not None and est_gate > 0.0:
        sigs = surf.select("surface", "sig")
        # the aggregate/zip_with agreement sum stays: a 64-term chain of
        # element_at equality adds was tried in round 7 and measured ~1.7x
        # SLOWER end to end (the giant Add tree defeats codegen), so the
        # interpreted HOF is the faster form here
        est = F.aggregate(
            F.zip_with("sig_a", "sig_b",
                       lambda x, y: F.when(x == y, 1).otherwise(0)),
            F.lit(0),
            lambda acc, v: acc + v,
        ) / F.lit(N_HASHES)
        pairs = (
            pairs.join(sigs.select(F.col("surface").alias("a"),
                                   F.col("sig").alias("sig_a")), "a")
            .join(sigs.select(F.col("surface").alias("b"),
                              F.col("sig").alias("sig_b")), "b")
            .filter(est >= est_gate)
            .select("a", "b")
        )
    sets = surf.select("surface", "sh_hash")
    return (
        pairs.join(sets.select(F.col("surface").alias("a"),
                               F.col("sh_hash").alias("sh_a")), "a")
        .join(sets.select(F.col("surface").alias("b"),
                          F.col("sh_hash").alias("sh_b")), "b")
    )


def verified_edges(pairs: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact Jaccard on full shingle sets — the correctness gate after blocking.

    Output is DISTINCT (a, b): candidate_pairs no longer dedups its stream
    (a pair repeats once per colliding band), so the dedup happens here on
    the verified edges — the small side by construction — keeping the
    distributed CC's round-1 shuffle (and the driver collect) sized by true
    edges, not band multiplicity."""
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )


# the driver regime of the canonical mapping (all-pairs on the driver) and of
# the store's entity dictionary (TripleStore.known_entities)
DRIVER_CANON_MAX_SURFACES = 1000


def _py_shingles(surface: str, shingle: str, k: int = 3) -> frozenset[str]:
    from kgx import kernel

    norm = kernel.normalize_surface(surface)
    if shingle == "char":
        return frozenset(kernel.shingles(surface))
    if not norm.split():
        return frozenset()
    return frozenset(_py_grams_of_norm(norm, "token", k))


def min_components(pairs, nodes=()) -> dict[str, str]:
    """Union-find on the driver: every node (the endpoints of ``pairs`` plus
    ``nodes``) -> the minimum node of its connected component. Union keeps
    the smaller root, so a component's root is its minimum member whatever
    the pair order. The one driver union-find of the engine: the driver
    canonical mapping, the driver CC path and the sameAs mapping
    (kgx.ops.graph.resolve_sameas) all call it."""
    parent: dict[str, str] = {s: s for s in nodes}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {s: find(s) for s in parent}


def _driver_canonical_mapping(spark, names, known_pairs, shingle, threshold):
    """Pure-driver exact mapping for small dictionaries (same semantics as the
    distributed path: exact-Jaccard >= threshold edges, known-group edges,
    sticky known reps, min-(norm,surface) representative). ``names`` is the
    sorted node list (the batch's surfaces plus every known surface and rep)
    and ``known_pairs`` the known (surface, rep) rows, both already on the
    driver: canonical_mapping collected them once, or the store read them."""
    from kgx import kernel
    from kgx.util import local_frame

    shs = {s: _py_shingles(s, shingle) for s in names}
    edges = list(known_pairs)
    for i, a in enumerate(names):
        sa = shs[a]
        if not sa:
            continue
        for b in names[i + 1 :]:
            sb = shs[b]
            if not sb:
                continue
            inter = len(sa & sb)
            if inter and inter / len(sa | sb) >= threshold:
                edges.append((a, b))

    comps: dict[str, list[str]] = {}
    for s, root in min_components(edges, names).items():
        comps.setdefault(root, []).append(s)
    known_reps = {rep for _, rep in known_pairs}
    rows = []
    for members in comps.values():
        cands = [m for m in members if m in known_reps] or members
        rep = min(cands, key=lambda v: (kernel.normalize_surface(v), v))
        rows.extend((m, rep) for m in members)
    return CanonicalMapping(
        local_frame(spark, rows, "surface string, rep string"), rows
    )


def mention_surfaces(mentions: DataFrame) -> list[str] | None:
    """The distinct ``surface`` values of ``mentions`` on the driver, or None
    when the mention rows do not fit the driver budget (kgx.util.fits_driver).
    One bounded collect: ``limit(DRIVER_MAX_ROWS + 1)`` over the raw mention
    rows, deduplicated on the driver, so an over-budget batch stops at the
    cap. Collected through Arrow: a limit executed as a plan is one job
    whose map stage runs every partition at once, where ``collect()``'s
    incremental take scans one partition first and then the rest (two
    jobs). On a streaming epoch this is the job that first materializes the
    persisted facts."""
    from kgx import util

    table = mentions.select("surface").limit(util.DRIVER_MAX_ROWS + 1).toArrow()
    got = table.column(0).to_pylist()
    if not util.fits_driver(len(got), sum(len(s.encode()) for s in got)):
        return None
    return list(dict.fromkeys(got))


def driver_edge_rows(edges: DataFrame):
    """``(pinned, rows)``: the (a, b) edge frame pinned once, and its rows on
    the driver when they fit the engine's driver budget
    (kgx.util.fits_driver), else None. The gate of the driver CC path here
    and of the sameAs driver mapping; utf-8 bytes are counted
    executor-side, on the pin's own pass, before anything is collected
    (kgx.util.driver_rows)."""
    from kgx.util import driver_rows

    return driver_rows(
        edges.select("a", "b"), F.octet_length("a") + F.octet_length("b")
    )


def connected_components(
    nodes: DataFrame | None, edges: DataFrame, max_iter: int = 40
) -> DataFrame:
    """(surface) x (a,b) -> (surface, component) via driver union-find or
    distributed large-star/small-star contraction.

    Only nodes touching an edge enter the CC computation; isolated nodes (the
    vast majority of a mostly-unique corpus) are their own component by
    definition and get their 's:'+surface label through a left join +
    coalesce fallback — so the CC graph is sized by the duplicate
    population, not the corpus. Edge endpoints must be a subset of ``nodes``
    (true for every in-repo caller; endpoints outside ``nodes`` are not
    emitted). Pass ``nodes=None`` to get the TOUCHED mapping only (e.g.
    sameAs resolution, or dedup_clusters' member join, which apply the same
    coalesce fallback themselves): None skips the node distinct entirely.

    Two physical strategies, same semantics:
    - small graphs (entity dictionaries after blocking are typically tiny
      relative to the corpus): collect the edge list and union-find on the
      driver — the iterative version costs ~10s of pure scheduler latency for
      a 40-node graph, which dominates small-corpus runs. The fast path is
      gated by the engine's driver budget, rows AND encoded bytes
      (kgx.util.fits_driver, measured on the edge pin: driver_edge_rows);
    - large graphs: distributed large-star/small-star contraction with
      localCheckpoint per round to cut lineage (SURVEY.md §7 'What's hard');
      O(log n) rounds independent of component diameter; deterministic labels
      (min xxhash64(surface) over the component, 'h:'-prefixed strings).
    Component ids differ between the two paths (min-surface vs min-hash) but
    grouping — the only thing consumers use — is identical.
    """
    # materialize once: the guard and the chosen CC strategy both read the
    # pin instead of each re-running the whole upstream blocking/verification
    # pipeline. Guard FIRST, executor-side: the collect happens ONLY after
    # the row and byte budgets both pass — an edge set under the row cap but
    # over the byte cap (long CJK surfaces) must route to the distributed
    # path WITHOUT ever being pulled onto the driver
    edges, rows = driver_edge_rows(edges)
    if rows is not None:
        # the touched mapping is a local frame the planner sizes exactly,
        # but a mapping within the row+byte budget can still exceed
        # autoBroadcastJoinThreshold (10 MB); the hint keeps the broadcast
        # decision with the budget the collect already passed, so downstream
        # equi-joins never shuffle a driver-sized table (round 7: the t07
        # members join shuffled 50k rows to attach 2.4k components).
        comp = F.broadcast(_driver_cc_from_rows(edges.sparkSession, rows))
    else:
        comp = distributed_components(edges, max_iter)
    if nodes is None:
        return comp
    # 's:' namespace (see _driver_cc_from_rows): never collides with
    # 'h:'+hash labels, and 's:'+isolated never equals 's:'+driver-label
    # because isolated and touched surfaces are disjoint (the left join
    # misses only untouched nodes). Round-7: one left join + coalesce
    # replaces the anti-join + union — one exchange fewer, identical rows
    # for every in-repo caller
    # (their edge endpoints are always a subset of ``nodes``; endpoints
    # outside ``nodes`` would be dropped here where the union kept them,
    # which is the documented contract now).
    return (
        nodes.select("surface")
        .distinct()
        .join(comp.withColumnRenamed("component", "_c"), "surface", "left")
        .select(
            "surface",
            F.coalesce(
                "_c", F.concat(F.lit("s:"), F.col("surface"))
            ).alias("component"),
        )
    )


def _driver_cc_from_rows(spark, edge_rows, extra_surfaces=()) -> DataFrame:
    """Union-find over an ALREADY-COLLECTED list of (a, b) edges (the
    caller collects the checkpointed edges once the executor-side row+byte
    guard passes, or dedup_clusters' driver regime verifies them).
    Touched nodes are the edge endpoints; callers add ``extra_surfaces`` for
    nodes that must appear as singletons."""
    from kgx.util import local_frame

    roots = min_components(edge_rows, extra_surfaces)
    # 's:' namespace: label spaces of the three producers (driver surface-min,
    # distributed 'h:'+hash, isolated 's:'+surface) are disjoint BY CONSTRUCTION
    # — a raw surface that literally looks like another path's label (e.g.
    # 'h:123') could otherwise merge unrelated groups
    rows = [(s, "s:" + root) for s, root in roots.items()]
    return local_frame(spark, rows, "surface string, component string")


def distributed_components(edges: DataFrame, max_iter: int = 40) -> DataFrame:
    """(surface, component) over the endpoints of a pinned (a, b) edge
    frame by distributed large-star/small-star CC: the over-budget branch
    of connected_components, for callers that already ran its gate
    (driver_edge_rows)."""
    touched = (
        edges.select(F.col("a").alias("surface"))
        .unionByName(edges.select(F.col("b").alias("surface")))
        .distinct()
    )
    return _distributed_cc(touched, edges, max_iter)


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node u connects each strictly-larger
    neighbor to m = min(N(u) ∪ {u}). Edges in/out are unordered (p, q) pairs.

    Shuffle shape: the u-keyed exchange is planned twice (groupBy + join) but
    AQE's ReusedExchange executes it once; the output is NOT deduplicated —
    the round-final distinct in _small_star dedups anyway, so each round pays
    three real exchanges (two u-exchanges + one distinct) instead of four
    (round-4 review)."""
    sym = e.select(F.col("p").alias("u"), F.col("q").alias("v")).unionAll(
        e.select(F.col("q").alias("u"), F.col("p").alias("v"))
    )
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    return (
        sym.join(mins, "u")
        .withColumn("m", F.least("mv", "u"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("p"), F.col("m").alias("q"))
        .filter(F.col("p") != F.col("q"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small; every node u connects
    its smaller neighbors (and itself) to m = min of those neighbors. The
    trailing distinct is the round's ONLY dedup and also what the convergence
    signature hashes."""
    oriented = e.select(
        F.greatest("p", "q").alias("u"), F.least("p", "q").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(mins, "u")
        .select(F.col("v").alias("p"), F.col("m").alias("q"))
        .unionAll(mins.select(F.col("u").alias("p"), F.col("m").alias("q")))
        .filter(F.col("p") != F.col("q"))
        .distinct()
    )


def _distributed_cc(nodes: DataFrame, edges: DataFrame, max_iter: int = 40) -> DataFrame:
    """Distributed connected components by alternating large-star/small-star
    contraction (Kiveris et al., 'Connected Components in MapReduce and
    Beyond') — O(log n) rounds to a star-graph fixpoint, vs O(component
    diameter) for plain min-label propagation. The switch is a correctness
    fix, not a tuning: a chain-shaped duplicate component (serially mutated
    boilerplate A≈B≈C≈…) of diameter > the round budget made the old
    propagation loop exit with SPLIT components and no warning; star
    contraction cannot outrun any sane budget (2^40 nodes fit in 40 rounds),
    and a non-converged exit now RAISES instead of returning wrong groups.

    Node identity is a 128-BIT pair of independent xxhash64 values —
    deterministic across any parallelism, orderable as a struct, and
    collision-safe at web scale: a single 64-bit hash has ~50% chance of one
    collision around 5e9 distinct surfaces (birthday bound), which would
    silently merge two unrelated variant clusters; requiring BOTH halves to
    collide pushes the same bound past 1e19 surfaces (round-4 review). The
    component label is the minimum id pair.
    """
    # ids, not surfaces, through every shuffle: fixed-width (16-byte) pairs,
    # and the final label ('h:'+min id pair) falls out of the star roots
    # directly
    def _node_id(col):
        return F.struct(
            F.xxhash64(col).alias("h1"),
            F.xxhash64(F.lit("kgx-cc-2"), col).alias("h2"),
        )

    e = (
        edges.select(_node_id(F.col("a")).alias("p"), _node_id(F.col("b")).alias("q"))
        .filter(F.col("p") != F.col("q"))
        .distinct()
        .localCheckpoint()
    )
    # decimal(38,0) sum: an order-independent edge-set signature that cannot
    # hit ANSI long-overflow regardless of edge count
    sig_cols = [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("p", "q").cast("decimal(38,0)")), F.lit(0)
        ).alias("s"),
    ]
    prev_sig = None
    converged = e.isEmpty()
    for _ in range(max_iter):
        if converged:
            break
        # localCheckpoint per round: cuts lineage AND pins the edge set so the
        # signature action doesn't re-run the round (every action re-executes
        # a lazy plan)
        e = _small_star(_large_star(e)).localCheckpoint()
        row = e.agg(*sig_cols).first()
        sig = (row["n"], row["s"])
        if sig == prev_sig:
            converged = True
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iter} "
            "large-star/small-star rounds — pathological graph or a bug; "
            "raise max_iter"
        )
    # fixpoint edge set = stars (child p -> component-min root q)
    comp = (
        e.select(F.col("p").alias("id"), F.col("q").alias("label"))
        .unionAll(e.select(F.col("q").alias("id"), F.col("q").alias("label")))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    ids = nodes.select("surface").distinct().withColumn(
        "id", _node_id(F.col("surface"))
    )
    # 'h:' prefix keeps hash labels distinct from the driver path's
    # surface-valued labels when isolated nodes are appended by the caller;
    # coalesce: a node whose only edges were self-loops labels itself
    lbl = F.coalesce("label", "id")
    return ids.join(comp, "id", "left").select(
        "surface",
        F.concat(
            F.lit("h:"),
            lbl["h1"].cast("string"),
            F.lit(":"),
            lbl["h2"].cast("string"),
        ).alias("component"),
    )


def canonical_mapping(
    mentions: DataFrame,
    known: CanonicalMapping | DataFrame | None = None,
    shingle: str = "char",
    bucket_cap: int | None = None,
    n_bands: int = N_BANDS,
    surfaces: list[str] | None = None,
) -> CanonicalMapping:
    """mentions(surface,...) -> (surface, rep): representative per component.

    rep = surface of the min (norm, surface) struct in the component — struct
    min gives lexicographic ordering, identical to the golden rule.

    ``known`` is an optional persisted (surface, rep) dictionary from earlier
    snapshot commits (the cross-run stickiness dimension): known surfaces join
    the node set, known groupings are injected as edges, and a component that
    contains previously-assigned reps keeps the smallest of them, so triples
    committed in earlier runs stay consistent with new ones.

    Two regimes, same mapping:

    - driver: the node set (the batch's distinct mentions plus every known
      surface and rep) fits DRIVER_CANON_MAX_SURFACES and the driver budget
      (kgx.util.fits_driver), and the exact all-pairs mapping runs on the
      driver. When ``known`` carries driver ``rows`` (the store's
      driver-regime dictionary, a streaming run's cached mapping) the probe
      collects only the batch's mentions (mention_surfaces) — or nothing
      when the caller already holds them and passes them as ``surfaces`` —
      and the known pairs are read from the rows, never collected.
    - distributed: MinHash-LSH blocking + connected components, for a node
      set over the cap. A ``known`` held only as a frame (the store's
      dictionary over its driver budget) is probed first: one bounded
      ``limit(cap + 1)`` collect of its distinct union with the mentions
      decides the regime and, under the cap, already holds the node list.

    Returns a CanonicalMapping; its ``rows`` are set only on the driver path.
    """
    from kgx.util import fits_driver

    if isinstance(known, DataFrame):
        known = CanonicalMapping(known)
    nodes = mentions.select("surface").distinct()
    if known is not None:
        nodes = nodes.unionByName(known.df.select("surface")).unionByName(
            known.df.select(F.col("rep").alias("surface"))
        ).distinct()
    pairs = None
    if known is None or known.rows is not None:
        pairs = known.rows if known is not None else []
        if surfaces is None:
            surfaces = mention_surfaces(mentions)
        names = None if surfaces is None else sorted(
            {*surfaces, *(x for pair in pairs for x in pair)}
        )
    else:
        # one limit(cap+1) collect both decides the path and holds the node
        # list (count() then collect() would run the upstream twice)
        names = sorted(
            r[0] for r in nodes.limit(DRIVER_CANON_MAX_SURFACES + 1).collect()
        )
    if names is not None and fits_driver(
        len(names), sum(len(s.encode()) for s in names), DRIVER_CANON_MAX_SURFACES
    ):
        # tiny dictionary: ~10 near-empty distributed jobs cost more scheduler
        # latency than the whole computation — do exact all-pairs on the driver
        # (strictly more candidate recall than LSH blocking, same exact-Jaccard
        # gate, same rep rule; the all-pairs Jaccard is quadratic, hence the
        # site cap)
        if pairs is None:
            pairs = [(r["surface"], r["rep"]) for r in known.df.collect()]
        return _driver_canonical_mapping(
            mentions.sparkSession, names, pairs, shingle, JACCARD_THRESHOLD
        )
    # size the stage to the dictionary, not the session: a few-thousand-surface
    # dictionary on 64 shuffle partitions means every downstream stage pays for
    # dozens of empty tasks (measured: the whole mapping phase was SLOWER on 32
    # cores than 8 before this)
    n = nodes.count()
    # ~250 surfaces per task: signature computation is ~ms per surface for
    # document-sized strings, so tasks stay in the 0.1-1s sweet spot; capped at
    # 4x parallelism so a billion-surface dictionary doesn't over-split
    par = mentions.sparkSession.sparkContext.defaultParallelism
    parts = max(1, min(4 * par, n // 250 + 1))
    nodes = nodes.repartition(parts)
    surf = surfaces_with_shingles(nodes, shingle=shingle)
    edges = verified_edges(candidate_pairs(surf, bucket_cap=bucket_cap, n_bands=n_bands))
    if known is not None:
        known_edges = (
            known.df.filter(F.col("surface") != F.col("rep"))
            .select(F.col("surface").alias("a"), F.col("rep").alias("b"))
            .distinct()
        )
        edges = edges.unionByName(known_edges).dropDuplicates(["a", "b"])
    comp = connected_components(surf.select("surface"), edges)
    with_norm = comp.join(surf.select("surface", "norm"), "surface")
    reps = (
        with_norm.groupBy("component")
        .agg(F.min(F.struct("norm", "surface")).alias("_rep"))
        .select("component", F.col("_rep.surface").alias("rep"))
    )
    if known is not None:
        sticky = (
            with_norm.join(
                known.df.select(F.col("rep").alias("surface")).distinct(), "surface"
            )
            .groupBy("component")
            .agg(F.min(F.struct("norm", "surface")).alias("_k"))
            .select("component", F.col("_k.surface").alias("krep"))
        )
        reps = (
            reps.join(sticky, "component", "left")
            .select("component", F.coalesce("krep", "rep").alias("rep"))
        )
    return CanonicalMapping(with_norm.join(reps, "component").select("surface", "rep"))
