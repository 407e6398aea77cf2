"""Similarity search over the `embeddings` table (array<float>, dim 64).

- s01: brute-force cosine top-k — the exactness baseline. Scoring is a numpy
  pandas UDF (Arrow-batched); the query side is broadcast so the scan side
  streams without a shuffle. (The interpreted zip_with/aggregate HOF this
  replaced measured 8.6s vs 2.6s at 100k vectors — SURVEY §8.3.)
- s02: embedding-cosine near-duplicate pairs above a threshold (label-blocked).
- s03 / ann_lsh: LSH-bucketed ANN (random hyperplane signatures, Hamming-band
  blocking) — candidates come from equi-joined signature bands instead of a
  full cross product; exact cosine re-ranks candidates. Within the driver
  budget the whole query runs in numpy on the driver over one collect.
  Exact DuckDB oracle via an engine-portable integer scheme.
- s04 / ivf_build + ivf_query: IVF index — train the coarse quantizer once,
  materialize cell membership, amortize per-query probe + re-rank. Within
  the driver budget the whole index runs in numpy on the driver over one
  collect of the corpus; over it, as Spark passes.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgx.ops import load

K = 3
N_QUERIES = 10  # vec_id < 10 are queries; the rest is the corpus


def _dvec(col):
    return F.transform(col, lambda x: x.cast("double"))


def _split(spark: SparkSession, sf: str):
    e = load(spark, sf, "embeddings").withColumn("v", _dvec(F.col("embedding")))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv"), "label"
    )
    return q, c


def s01_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force EXACT top-k, shaped for scale: the O(queries) matrix rides
    the UDF closure, ONE mapInPandas pass scores each candidate batch against
    all queries with a numpy matmul and emits only per-batch top-k partials,
    and a window over the (batches x queries x K)-row partial set picks the
    global top-k. Exactness is preserved because the global top-k is a subset
    of the per-batch top-ks (same (cos desc, cand_id asc) order both levels).

    Evolution, measured at 100k vectors x 10 queries (SURVEY §8.3):
    interpreted zip_with/aggregate HOF on a 1M-row crossJoin = 8.6s; numpy
    UDF on the same crossJoin = 6.9s (Arrow transfer of 1M vector PAIRS
    dominates); this shape = no pair materialization at all."""
    import numpy as np
    import pandas as pd

    q, c = _split(spark, sf)
    qrows = sorted(q.collect(), key=lambda r: r.query_id)  # O(queries) driver
    Q = np.stack([np.asarray(r.qv, dtype=np.float64) for r in qrows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    qids = np.array([r.query_id for r in qrows], dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Qn.T  # (batch, queries)
            # round half-away-from-zero: matches F.round/DuckDB (see _cos_np_udf)
            S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
            cand = pdf["cand_id"].to_numpy()
            out = []
            for j in range(len(qids)):
                col = S[:, j]
                # top-K by (cos desc, cand_id asc): lexsort on (-cos, cand)
                order = np.lexsort((cand, -col))[:K]
                out.append(
                    pd.DataFrame(
                        {"query_id": qids[j], "cand_id": cand[order],
                         "cos": col[order]}
                    )
                )
            yield pd.concat(out, ignore_index=True)

    partials = c.select("cand_id", "cv").mapInPandas(
        gen, "query_id long, cand_id long, cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "cand_id", "rank", "cos")
    )


S01_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
           WHERE vec_id < {N_QUERIES}),
     c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings
           WHERE vec_id >= {N_QUERIES}),
     s AS (SELECT query_id, cand_id,
                  ROUND(list_dot_product(qv, cv)
                        / (sqrt(list_dot_product(qv, qv))
                           * sqrt(list_dot_product(cv, cv))), 6) AS cos
           FROM q, c)
SELECT query_id, cand_id, rank, cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rank
  FROM s
) WHERE rank <= {K}
"""


SIM_THRESHOLD = 0.3  # embedding-similarity pair threshold (label-blocked)


def s02_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine similar pairs within each label block (>= threshold).

    The blocking column keeps the self-join linear in block sizes — the same
    shape as near-dup detection over shard/domain blocks at corpus scale."""
    e = load(spark, sf, "embeddings").withColumn("v", _dvec(F.col("embedding")))
    a = e.select(F.col("vec_id").alias("a"), F.col("v").alias("va"), "label")
    b = e.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"), "label")
    return (
        a.join(b, "label")
        .filter(F.col("a") < F.col("b"))
        .withColumn("cos", _cos_np_udf(F.col("va"), F.col("vb")))
        .filter(F.col("cos") >= SIM_THRESHOLD)
        .select("a", "b", "cos")
    )


S02_SQL = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT x.vec_id AS a, y.vec_id AS b,
       ROUND(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v))
                * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
FROM e x JOIN e y
  ON x.label = y.label AND x.vec_id < y.vec_id
WHERE list_dot_product(x.v, y.v)
      / (sqrt(list_dot_product(x.v, x.v))
         * sqrt(list_dot_product(y.v, y.v))) >= {SIM_THRESHOLD}
"""


# --- LSH-bucketed ANN: random-hyperplane signature + band join ---------------------- #
# 8 bands x 2 bits: for a pair at cosine ~0.4 (the top-neighbor regime of the
# test corpus) per-bit collision ~0.63 -> band ~0.40 -> candidate recall
# 1-(1-0.40)^8 ~ 0.98. Tighten bits-per-band for corpora with stronger
# similarity structure (real near-dups sit at cosine > 0.9 where 4-bit bands
# still collide reliably and prune much harder).
N_PLANES = 16
N_BANDS_ANN = 8  # 2 bits per band

import pandas as pd
from pyspark.sql import types as T


# Engine-portable hyperplane scheme (gives s03 an exact DuckDB oracle):
# - integer weights W[p][j] in [-128, 127] from a 3-round modular LCG over the
#   flat index i = p*dim + j (mod 2^55 keeps every product inside BIGINT on
#   overflow-strict engines — same trick as textops.t08);
# - vectors quantized to integers with floor(x*1e6 + 0.5) (IEEE-identical on
#   both engines, unlike round(): numpy rounds half-to-even, DuckDB half-away);
# - signature bit = (integer dot product >= 0) — exact arithmetic, so there is
#   no float-summation-order hazard between numpy and SQL.
_LCG_MOD = 1 << 55
_LCG_MULT = 181
_LCG_SEED = 25214903917
_QUANT = 1_000_000


def _plane_weights(n_planes: int, dim: int):
    import numpy as np

    i = (np.arange(n_planes, dtype=np.int64)[:, None] * dim
         + np.arange(dim, dtype=np.int64)[None, :])
    h = np.full_like(i, _LCG_SEED)
    for r in (7919, 15838, 23757):
        h = (h * _LCG_MULT + i + r) % _LCG_MOD
    return (h % 256 - 128).astype(np.int64)  # (planes, dim) in [-128, 127]


def _rh_bands_np(V):
    """Hyperplane-LSH band signatures of the rows of ``V`` (n, dim) float64,
    as an (n, N_BANDS_ANN) array of '0'/'1' strings. The one home of the
    banding: the Spark UDF and s03's driver regime both call it, so every
    regime blocks a vector identically.

    Deterministic across runs/parallelism AND engines (see the portable
    scheme above). Interpreted HOF expressions for this were the s03
    bottleneck — same finding as the canon MinHash."""
    import numpy as np

    W = _plane_weights(N_PLANES, V.shape[1])
    r = N_PLANES // N_BANDS_ANN
    Vq = np.floor(V * _QUANT + 0.5).astype(np.int64)
    bits = (Vq @ W.T >= 0).astype(np.uint8)  # (n, planes)
    # band signature strings built column-wise in numpy (round 7): the
    # per-row python join loop was ~25us/row — the dominant cost of the
    # whole banding pass on a one-task scan; same '0'/'1' strings.
    B = bits.astype("<U1")
    bands = []
    for b in range(N_BANDS_ANN):
        s = B[:, b * r]
        for k in range(1, r):
            s = np.char.add(s, B[:, b * r + k])
        bands.append(s)
    return np.stack(bands, axis=1)


@F.pandas_udf(T.ArrayType(T.StringType()))
def _rh_bands_udf(vec: pd.Series) -> pd.Series:
    """_rh_bands_np per Arrow batch."""
    import numpy as np

    V = np.stack(vec.to_numpy()) if len(vec) else np.zeros((0, 0))
    return pd.Series(_rh_bands_np(V).tolist())


def _cos_np(A, B):
    """Row-wise cosine of two (n, dim) float64 matrices, rounded to 6
    decimals half-away-from-zero: matches Spark's F.round (BigDecimal
    HALF_UP) and DuckDB's round(); np.round is half-to-even and would
    diverge on exact midpoints. The one home of the pairwise cosine: the
    s02/s04 UDF, s03's re-rank and s04's driver re-rank all call it, so
    every regime scores a pair bit-identically."""
    import numpy as np

    num = (A * B).sum(axis=1)
    den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
    r = num / den
    return np.sign(r) * np.floor(np.abs(r) * 1e6 + 0.5) / 1e6


@F.pandas_udf(T.DoubleType())
def _cos_np_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    import numpy as np

    return pd.Series(_cos_np(np.stack(a.to_numpy()), np.stack(b.to_numpy())))


def s03_ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """ANN top-k over the embeddings: ann_lsh, queries vec_id < N_QUERIES."""
    e = load(spark, sf, "embeddings")
    return ann_lsh(e.select("vec_id", _dvec(F.col("embedding")).alias("v")))


def ann_lsh(e: DataFrame) -> DataFrame:
    """(vec_id, v) -> (query_id, cand_id, rank, cos): hyperplane-LSH band
    blocking -> exact cosine re-rank -> top-K by (-cos, cand_id), with the
    rows vec_id < N_QUERIES as the queries and the rest as the corpus. Two
    regimes, same rows and schema:
    - Driver (the vectors fit the driver budget and IVF_DRIVER_MAX_VECTORS,
      kgx.util.driver_rows, as s04's index): one collect, then the band
      signatures (_rh_bands_np), the blocking into distinct (query, cand)
      pairs, the _cos_np scores and the top-K in numpy, returned as a
      local frame. s03 on sf0.001: 2 Spark jobs a call (the pin and its
      collect), where the distributed form takes 6.
    - Distributed (over budget), over the pinned vectors: the band join
      carries only (id, band) — vectors join back per surviving candidate;
      scoring is numpy per Arrow batch. At corpus scale the band join
      replaces the q x c cross product (on THIS test corpus the vectors
      are weakly correlated, so wide-recall banding admits most pairs —
      real embedding corpora with near-dup structure prune hard at the
      same geometry); recall vs s01 is asserted in tests.

    The site cap is s04's: ``bench/driver_regime_bench.py s03`` (dim 64,
    10 queries, ``local[4]``, medians of 3) measured the driver form ahead
    at every size, 500 vectors 0.14 s vs 1.11 s, 5k 0.19 vs 0.93, 20k 0.45
    vs 1.05, 50k 0.90 vs 1.38 (driver peak RSS 370 MB), so the crossover
    lies past 50k and the 20k cap bounds the driver's memory.
    """
    import numpy as np

    from kgx.util import driver_rows, local_frame

    e, rows = driver_rows(e, _vec_bytes("v"), max_rows=IVF_DRIVER_MAX_VECTORS)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = e.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("cand_id"), F.col("v").alias("cv")
    )
    if rows is not None:
        schema = T.StructType(
            [
                q.schema["query_id"],
                c.schema["cand_id"],
                T.StructField("rank", T.IntegerType(), False),
                T.StructField("cos", T.DoubleType()),
            ]
        )
        return local_frame(e.sparkSession, _ann_lsh_on_driver(rows), schema)

    qb = q.select(
        "query_id", F.posexplode(_rh_bands_udf("qv")).alias("band_id", "band_sig")
    )
    cb = c.select(
        "cand_id", F.posexplode(_rh_bands_udf("cv")).alias("band_id", "band_sig")
    )
    # Round 7: the query band rows are O(queries x bands) — broadcast them so
    # the corpus band stream never shuffles for the blocking join.
    cand = (
        F.broadcast(qb).join(cb, ["band_id", "band_sig"])
        .select("query_id", "cand_id")
        .dropDuplicates(["query_id", "cand_id"])
    )
    # Round 7: the O(queries) matrix rides the UDF closure (the s01 shape) —
    # the re-rank joins back only the CANDIDATE vector and gathers the query
    # row by id inside the batch, instead of also shuffling a qv array per
    # surviving pair. Scored by _cos_np like every other pair.
    qrows = sorted(q.collect(), key=lambda r: r.query_id)
    Q = np.stack([np.asarray(r.qv, dtype=np.float64) for r in qrows])
    qindex = {int(r.query_id): i for i, r in enumerate(qrows)}

    @F.pandas_udf(T.DoubleType())
    def _cos_vs_query(qid: pd.Series, cv: pd.Series) -> pd.Series:
        A = Q[[qindex[int(x)] for x in qid]]
        return pd.Series(_cos_np(A, np.stack(cv.to_numpy())))

    scored = cand.join(c, "cand_id").withColumn(
        "cos", _cos_vs_query("query_id", "cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("query_id", "cand_id", "rank", "cos")
    )


def _ann_lsh_on_driver(rows):
    """ann_lsh's blocking, scoring and top-k over collected (vec_id, v)
    rows: [(query_id, cand_id, rank, cos)]. Mirrors the distributed form
    row for row: a query pairs with every candidate sharing one of its
    (band_id, band_sig) keys, every corpus row of a paired cand_id is
    scored against the query's vector (the last of a repeated query_id,
    as the closure's index keeps it), and a NaN cosine (a zero vector)
    is null and ranks last, as the UDF's NaN reaches Spark."""
    import numpy as np

    if not rows:
        return []
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    V = np.array([r[1] for r in rows], dtype=np.float64)
    S = _rh_bands_np(V)
    qi = np.flatnonzero(ids < N_QUERIES)
    ci = np.flatnonzero(ids >= N_QUERIES)
    cand = ids[ci]
    hit = (S[qi][:, None, :] == S[ci][None, :, :]).any(axis=2)  # (queries, corpus)
    out = []
    for qid in np.unique(ids[qi]).tolist():
        mine = ids[qi] == qid
        sel = np.flatnonzero(np.isin(cand, cand[hit[mine].any(axis=0)]))
        if not sel.size:
            continue
        qv = V[qi[np.flatnonzero(mine)[-1]]]
        cos = _cos_np(np.repeat(qv[None, :], sel.size, axis=0), V[ci[sel]])
        top = np.lexsort((cand[sel], -cos))[:K]
        out.extend(
            (qid, int(cand[sel[j]]), r + 1, None if np.isnan(cos[j]) else float(cos[j]))
            for r, j in enumerate(top)
        )
    return out


_DIM = 64  # embeddings table dim (all sfs); _plane_weights derives from data,
# so a dim change shows up as an oracle mismatch, not silent drift

_R_BITS = N_PLANES // N_BANDS_ANN
S03_SQL = f"""
WITH w AS (
  SELECT p, j, CAST(h3 % 256 - 128 AS DOUBLE) AS wgt
  FROM (
    SELECT p, j,
           (((({_LCG_SEED} * {_LCG_MULT} + i + 7919) % {_LCG_MOD})
              * {_LCG_MULT} + i + 15838) % {_LCG_MOD}
             * {_LCG_MULT} + i + 23757) % {_LCG_MOD} AS h3
    FROM (SELECT pr.range AS p, jr.range AS j, pr.range * {_DIM} + jr.range AS i
          FROM range({N_PLANES}) pr, range({_DIM}) jr)
  )
),
wl AS (SELECT p, list(wgt ORDER BY j) AS ws FROM w GROUP BY p),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
vq AS (SELECT vec_id, [floor(x * {_QUANT} + 0.5) FOR x IN v] AS q FROM e),
bits AS (
  SELECT vec_id, p,
         CASE WHEN list_dot_product(q, ws) >= 0 THEN '1' ELSE '0' END AS bit
  FROM vq CROSS JOIN wl
),
sigs AS (
  SELECT vec_id, p // {_R_BITS} AS band_id,
         string_agg(bit, '' ORDER BY p) AS band_sig
  FROM bits GROUP BY vec_id, p // {_R_BITS}
),
qs AS (SELECT vec_id AS query_id, band_id, band_sig FROM sigs
       WHERE vec_id < {N_QUERIES}),
cs AS (SELECT vec_id AS cand_id, band_id, band_sig FROM sigs
       WHERE vec_id >= {N_QUERIES}),
cand AS (SELECT DISTINCT query_id, cand_id FROM qs JOIN cs
         USING (band_id, band_sig)),
qv AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
cv AS (SELECT vec_id AS cand_id, v AS cv FROM e WHERE vec_id >= {N_QUERIES}),
s AS (SELECT cand.query_id, cand.cand_id,
             ROUND(list_dot_product(qv, cv)
                   / (sqrt(list_dot_product(qv, qv))
                      * sqrt(list_dot_product(cv, cv))), 6) AS cos
      FROM cand JOIN qv USING (query_id) JOIN cv USING (cand_id))
SELECT query_id, cand_id, rank, cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rank
  FROM s
) WHERE rank <= {K}
"""


# --- IVF ANN: coarse quantizer (Lloyd iterations) -> probe cells -> re-rank ---------- #
# All cluster arithmetic runs on integer-quantized, NON-NEGATIVE vectors
# (floor(x*1e6+0.5) + 1e6): distances and centroid floor-divisions are exact
# integers, so numpy/Spark and DuckDB agree bit-for-bit (shifting makes
# truncating division == floor division; DuckDB's // truncates, numpy floors).
K_CELLS = 8
N_PROBE = 2
IVF_ITERS = 2  # centroid updates; assignments = IVF_ITERS + 1 (final)
# corpus size cap of ivf_build's driver regime: under half the measured
# crossover (bench/driver_regime_bench.py s04, dim 64, local[4]: driver 1.5 s
# vs 3.8 s over Spark at 20k vectors, 2.2 vs 3.7 at 30k, even at 50k, 5.9 vs
# 4.0 at 100k; the driver process peaks near 300 MB at 20k)
IVF_DRIVER_MAX_VECTORS = 20_000


def _quant_shifted(col):
    return F.transform(
        col, lambda x: (F.floor(x * _QUANT + 0.5) + _QUANT).cast("long")
    )


def _sqdist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _sq_dists(V, C):
    """Exact int64 squared distances between the rows of V (n, dim) and the
    centroids C (K, dim), as an (n, K) matrix, via the
    ||v||^2 - 2 v.C^T + ||c||^2 expansion — O(n*K) memory, no (n, K, dim)
    tensor, and every term stays exact in int64 (values <= 2^48 at the 1e6
    quantization and dim 64). Column j is centroid j, so a stable sort of a
    row orders cells by (distance, cidx). The one home of the IVF distance:
    the assignment UDF and the driver regime's Lloyd rounds, assignment
    and probe all call it."""
    return (
        (V * V).sum(axis=1)[:, None] - 2 * (V @ C.T) + (C * C).sum(axis=1)[None, :]
    )


def nearest_cidx_udf(cents: list[tuple[int, list[int]]]):
    """Nearest-centroid assignment as a numpy pandas UDF: argmin over exact
    int64 squared distances (_sq_dists) with the (distance, cidx) tie-break
    (argmin takes the first minimum; centroid rows are ordered by cidx).

    This replaces the corpus x K crossJoin + interpreted-HOF `_sqdist` + a
    Window over every candidate that the training loop used before round 3 —
    the exact anti-pattern SURVEY.md §8.3 measured at ~50x slower than numpy,
    plus a full corpus-sized exchange per Lloyd iteration. Here assignment is
    a map-only pass: the K x dim int64 centroid matrix (a few KB) ships in
    the UDF closure."""
    import numpy as np

    C = np.array([v for _, v in sorted(cents)], dtype=np.int64)  # (K, dim)

    @F.pandas_udf(T.IntegerType())
    def nearest(vq: pd.Series) -> pd.Series:
        if not len(vq):
            return pd.Series([], dtype="int32")
        V = np.stack(vq.to_numpy()).astype(np.int64)  # (n, dim)
        return pd.Series(_sq_dists(V, C).argmin(axis=1).astype("int32"))

    return nearest


def _vec_bytes(col: str):
    """Encoded size of an (id, array<double>) row for the driver budget."""
    return F.lit(8) + F.lit(8) * F.size(col)


class IvfIndex(NamedTuple):
    """ivf_build's output. ``cents`` are the [(cidx, int64 centroid)] rows,
    ``cells`` the (cand_id, cv, cidx) membership frame; ``rows`` holds the
    same membership on the driver when the index was built there, else
    None. ivf_query follows the regime the build chose, so a query neither
    re-sizes nor re-pins the cells."""

    cents: list[tuple[int, list[int]]]
    cells: DataFrame
    rows: list | None = None


def ivf_build(c: DataFrame, k_cells: int = K_CELLS, iters: int = IVF_ITERS) -> IvfIndex:
    """Train the coarse quantizer and materialize cell membership ONCE —
    the build-once/query-many half of the IVF index (at corpus scale this is
    a persisted table keyed by cidx).

    ``c`` must carry (cand_id, cv). Returns an IvfIndex. Seeds are the
    k_cells smallest cand_ids; each Lloyd round assigns every vector to its
    nearest centroid and moves each non-empty cell's centroid to the
    floor-divided integer mean of its members. Integer quantization (see
    above) keeps every number engine-exact. Two regimes, same centroids and
    cells:
    - Driver (the quantized corpus fits the driver budget and
      IVF_DRIVER_MAX_VECTORS, kgx.util.driver_rows): one collect of the
      vectors Spark quantized, then Lloyd and the final assignment in numpy
      through the same _sq_dists kernel; the index keeps the cell rows and
      the cells frame is a local frame.
    - Distributed (over budget): over the corpus the gate pinned, centroids
      are O(K), collected per round (the standard k-means dataflow);
      assignment is the map-only numpy pandas UDF (nearest_cidx_udf — no
      corpus exchange per round) and the only shuffle is the K x dim
      partial-aggregated centroid-sum groupBy; cells are pinned with
      localCheckpoint.
    """
    from kgx.util import driver_rows

    cq = c.select("cand_id", "cv", _quant_shifted("cv").alias("vq"))
    cq, rows = driver_rows(
        cq, _vec_bytes("cv") + _vec_bytes("vq"), max_rows=IVF_DRIVER_MAX_VECTORS
    )
    if rows is not None:
        return _ivf_build_on_driver(c, rows, k_cells, iters)

    seeds = cq.orderBy("cand_id").limit(k_cells).select("vq").collect()
    cents = [(i, [int(x) for x in r["vq"]]) for i, r in enumerate(seeds)]

    dim = len(cents[0][1])
    for _ in range(iters):
        sums = (
            cq.select("vq", nearest_cidx_udf(cents)("vq").alias("cidx"))
            .groupBy("cidx")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.element_at("vq", i + 1)).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        new = {
            r["cidx"]: [int(r[f"s{i}"]) // int(r["n"]) for i in range(dim)]
            for r in sums
        }
        cents = [(i, new.get(i, v)) for i, v in cents]  # empty cell keeps its centroid

    cells = (
        cq.select("cand_id", "cv", nearest_cidx_udf(cents)("vq").alias("cidx"))
        .localCheckpoint()
    )
    return IvfIndex(cents, cells)


def _ivf_build_on_driver(c: DataFrame, rows, k_cells: int, iters: int):
    """ivf_build's rounds over collected (cand_id, cv, vq) rows."""
    import numpy as np

    from kgx.util import local_frame

    rows = sorted(rows, key=lambda r: r[0])  # (cand_id, cv, vq)
    Vq = np.array([r[2] for r in rows], dtype=np.int64)
    C = Vq[:k_cells].copy()
    for _ in range(iters):
        cidx = _sq_dists(Vq, C).argmin(axis=1)
        for i in np.unique(cidx):  # an empty cell keeps its centroid
            members = Vq[cidx == i]
            C[i] = members.sum(axis=0) // len(members)
    cidx = _sq_dists(Vq, C).argmin(axis=1)
    cents = [(i, [int(x) for x in C[i]]) for i in range(len(C))]
    schema = T.StructType(
        [c.schema["cand_id"], c.schema["cv"], T.StructField("cidx", T.IntegerType())]
    )
    cell_rows = [(r[0], r[1], int(i)) for r, i in zip(rows, cidx)]
    return IvfIndex(cents, local_frame(c.sparkSession, cell_rows, schema), cell_rows)


def ivf_query(
    q: DataFrame, index: IvfIndex, n_probe: int = N_PROBE, k: int = K
) -> DataFrame:
    """Probe the n_probe nearest cells per query (by (distance, cidx)), exact-
    cosine re-rank the probed members (by (-cos, cand_id)). O(queries x K)
    probe + O(probed members) re-rank — the amortized per-query half of the
    index. Two regimes, same rows:
    - Driver (the index was built on the driver): the queries are
      collected (O(queries), as in s01/s03) and probe and re-rank run in
      numpy through _sq_dists and _cos_np; the top-k returns as a local
      frame.
    - Distributed (the index was built over budget): the query x centroid
      crossJoin against the broadcast centroids, a window for the probe,
      the cells join and the _cos_np_udf re-rank under a window.

    Picking an operating point (measured 100k-vector curve in
    BENCH/BASELINE.md round 4, raw data BENCH/ann_sweep.json): prefer MORE,
    SMALLER cells — at a fixed probed fraction of the space, finer
    quantization improves recall AND latency (8/32 cells: recall 1.0 in
    1.83 s vs 2/8 cells: 0.70 in 2.14 s on the same corpus), and build cost
    does not grow. Then set n_probe for the recall target: at k_cells=32,
    probing 1/16 of the space gave ~0.63 recall@3, 1/8 gave ~0.90, 1/4 gave
    1.00 — on an adversarially unclustered corpus (random directions), so
    real embedding corpora do better. The module defaults (8 cells, 2
    probes) are sized for the tiny driver-contract tables, not for scale."""
    from kgx.util import local_frame

    spark = q.sparkSession
    cents, cells = index.cents, index.cells
    if index.rows is not None:
        qrows = q.select(
            "query_id", "qv", _quant_shifted("qv").alias("vq")
        ).collect()
        schema = T.StructType(
            [
                q.schema["query_id"],
                cells.schema["cand_id"],
                T.StructField("rank", T.IntegerType(), False),
                T.StructField("cos", T.DoubleType()),
            ]
        )
        return local_frame(
            spark, _ivf_query_on_driver(qrows, cents, index.rows, n_probe, k), schema
        )

    cent_df = local_frame(spark, cents, "cidx int, cent array<long>")
    qq = q.select("query_id", "qv", _quant_shifted("qv").alias("vq"))
    wq = Window.partitionBy("query_id").orderBy("d", "cidx")
    probe = (
        qq.crossJoin(F.broadcast(cent_df))
        .withColumn("d", _sqdist("vq", "cent"))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= n_probe)
        .select("query_id", "qv", "cidx")
    )
    scored = probe.join(cells, "cidx").withColumn(
        "cos", _cos_np_udf(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", "rank", "cos")
    )


def _ivf_query_on_driver(qrows, cents, cell_rows, n_probe: int, k: int):
    """ivf_query's probe and re-rank over collected rows:
    [(query_id, cand_id, rank, cos)]."""
    import numpy as np

    C = np.array([v for _, v in sorted(cents)], dtype=np.int64)
    cand = np.array([r[0] for r in cell_rows], dtype=np.int64)
    CV = np.array([r[1] for r in cell_rows], dtype=np.float64)
    cidx = np.array([r[2] for r in cell_rows])
    out = []
    for qid, qv, vq in qrows:
        qv = np.array(qv, dtype=np.float64)
        d = _sq_dists(np.array([vq], dtype=np.int64), C)[0]
        probed = np.argsort(d, kind="stable")[:n_probe]
        sel = np.flatnonzero(np.isin(cidx, probed))
        cos = _cos_np(np.repeat(qv[None, :], len(sel), axis=0), CV[sel])
        top = np.lexsort((cand[sel], -cos))[:K]
        out.extend(
            (qid, int(cand[sel][j]), r + 1, float(cos[j])) for r, j in enumerate(top)
        )
    return out


def s04_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-style ANN: K_CELLS-cell coarse quantizer trained with IVF_ITERS
    deterministic Lloyd iterations (seeds = the K smallest cand_ids), queries
    probe the N_PROBE nearest cells, exact cosine re-ranks the probed members.
    Composition of ivf_build (train once) + ivf_query (amortized per-query);
    the oracle (S04_SQL) is value-exact, tie-breaks included."""
    q, c = _split(spark, sf)
    return ivf_query(q, ivf_build(c))


def _sql_sqdist(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum([({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        f"FOR i IN range(1, {dim} + 1)])"
    )


def _sql_assign(cent_cte: str, tag: str) -> str:
    """One Lloyd assignment + centroid update, mirrored from the Spark loop."""
    d = _sql_sqdist("c.vq", "ct.cent", _DIM)
    return f"""
a{tag} AS (
  SELECT cand_id, vq, cidx FROM (
    SELECT c.cand_id, c.vq, ct.cidx,
           ROW_NUMBER() OVER (PARTITION BY c.cand_id
                              ORDER BY {d}, ct.cidx) AS rn
    FROM c CROSS JOIN {cent_cte} ct
  ) WHERE rn = 1
),
sums{tag} AS (
  SELECT cidx, i, CAST(SUM(vq[i]) // COUNT(*) AS BIGINT) AS s
  FROM a{tag}, range(1, {_DIM} + 1) r(i)
  GROUP BY cidx, i
),
newcent{tag} AS (SELECT cidx, list(s ORDER BY i) AS cent FROM sums{tag} GROUP BY cidx),
cent{tag} AS (
  SELECT c0.cidx, COALESCE(n.cent, c0.cent) AS cent
  FROM {cent_cte} c0 LEFT JOIN newcent{tag} n USING (cidx)
)"""


S04_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
c AS (SELECT vec_id AS cand_id, v AS cv,
             [(floor(x * {_QUANT} + 0.5) + {_QUANT})::BIGINT FOR x IN v] AS vq
      FROM e WHERE vec_id >= {N_QUERIES}),
q AS (SELECT vec_id AS query_id, v AS qv,
             [(floor(x * {_QUANT} + 0.5) + {_QUANT})::BIGINT FOR x IN v] AS vq
      FROM e WHERE vec_id < {N_QUERIES}),
cent0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY cand_id) - 1 AS cidx, vq AS cent
  FROM (SELECT cand_id, vq FROM c ORDER BY cand_id LIMIT {K_CELLS})
),{_sql_assign("cent0", "1")},{_sql_assign("cent1", "2")},
cells AS (
  SELECT cand_id, cidx FROM (
    SELECT c.cand_id, ct.cidx,
           ROW_NUMBER() OVER (PARTITION BY c.cand_id
                              ORDER BY {_sql_sqdist("c.vq", "ct.cent", _DIM)},
                                       ct.cidx) AS rn
    FROM c CROSS JOIN cent2 ct
  ) WHERE rn = 1
),
probe AS (
  SELECT query_id, cidx FROM (
    SELECT q.query_id, ct.cidx,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_sql_sqdist("q.vq", "ct.cent", _DIM)},
                                       ct.cidx) AS rn
    FROM q CROSS JOIN cent2 ct
  ) WHERE rn <= {N_PROBE}
),
s AS (
  SELECT p.query_id, cl.cand_id,
         ROUND(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos
  FROM probe p
  JOIN cells cl USING (cidx)
  JOIN q ON q.query_id = p.query_id
  JOIN c ON c.cand_id = cl.cand_id
)
SELECT query_id, cand_id, rank, cos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, cand_id) AS rank
  FROM s
) WHERE rank <= {K}
"""


QUERIES = {
    "s01_cosine_topk": (s01_cosine_topk, S01_SQL),
    "s02_neardup_pairs": (s02_neardup_pairs, S02_SQL),
    "s03_ann_lsh": (s03_ann_lsh, S03_SQL),
    "s04_ann_ivf": (s04_ann_ivf, S04_SQL),
}
