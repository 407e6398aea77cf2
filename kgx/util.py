"""Small shared Spark-side helpers used across pipeline/canon/streaming."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The driver budget: how large a relation may get before an operator stops
# holding it on the driver (rows AND utf-8 bytes; a row cap alone admits
# multi-GB collects of long keys). The ceiling of every driver regime
# (fits_driver); each site passes the cap measured for its own driver form
# against its distributed one (canon.DRIVER_CC_MAX_*, graph.PR_DRIVER_MAX_ROWS,
# simsearch.IVF_DRIVER_MAX_VECTORS), which may only tighten it, or none where
# the driver form won up to this budget (canon.dedup_clusters), so zeroing
# these two sends every driver regime to its distributed fallback at once.
DRIVER_MAX_ROWS = 2_000_000
DRIVER_MAX_BYTES = 256 * 1024 * 1024


def bounded_stats(df: DataFrame, max_rows: int, nbytes_expr):
    """Executor-side (count, byte-sum) probe over a ``limit(max_rows + 1)``
    slice — the safe way to ask "is this frame within a row AND byte budget"
    BEFORE any collect/broadcast of it.

    The limit bounds the work; ``octet_length``-based ``nbytes_expr`` counts
    utf-8 ENCODED bytes so multi-byte text can't undercount 2-4x; and doing
    it as an aggregate keeps the probe off the driver — collecting cap+1
    rows to measure them is itself the OOM the budget exists to prevent
    (the collect-as-probe hazard, fixed repeatedly in review rounds 3-5;
    this helper is the single home for the idiom).

    Returns a Row with fields ``n`` and ``nbytes``. When ``n`` comes back
    equal to ``max_rows + 1`` the frame is over-budget and the true count is
    unknown (the slice stopped counting)."""
    return (
        df.limit(max_rows + 1)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(nbytes_expr), F.lit(0)).alias("nbytes"),
        )
        .first()
    )


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``defaultParallelism`` (one task per core)
    when the frame has fewer partitions than that — the shared partition
    guard in front of CPU-bound per-row passes (Arrow kernels, hashing
    scans). Parquet scans split only at row-group boundaries, so a
    one-fat-file / giant-row-group source arrives near-serial and the pass
    next to it would run on a couple of cores; one shuffle of the (already
    column-pruned) projection buys full width. No-op for well-split inputs
    (the 100 TB many-file case), so it costs nothing at scale.

    One task per core, not two: every Python task wave (worker hand-off,
    Arrow round trip, result commit) has a fixed cost of about 0.3 s on a
    4-vCPU ``local[4]`` session even when the data is tiny, and the second
    wave of a 2x split bought no balance on the small inputs this guard
    fires for. Measured on a 120-page one-row-group batch, ``local[4]``,
    medians of 10: the extraction ``mapInArrow`` took 0.76 s at 8 tasks
    against 0.48 s at 4, and the proponent rewrite (which inherits this
    partitioning through the persisted facts) 0.66 s against 0.33 s. One
    definition: the threshold/target were retuned twice already and per-site
    copies would drift."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores)
    return df


def content_sha_col():
    """The page content hash as a Column: hex sha256 of the ``html``
    column, with a null html (a failed fetch) hashed as empty content.
    Byte-equal to the extraction kernels' ``hashlib.sha256(html or b"")``,
    so the sha a page is deduplicated under is the sha its committed
    triples carry; a bare ``sha2(html)`` gives null-html pages a null key,
    which no anti join or state lookup ever matches. The single home for
    the expression."""
    return F.sha2(F.coalesce(F.col("html"), F.lit(b"")), 256)


def local_frame(spark, rows, schema) -> DataFrame:
    """Driver-held rows as a DataFrame, shipped as one pyarrow Table.

    ``schema`` is a DDL string or a StructType. ``createDataFrame`` on a
    Python list pickles the rows into a Python RDD, so the first action on
    the frame pays a Python-worker task wave (a 40-row frame measured
    0.36-0.52 s and one job per collect on ``local[4]``); through Arrow the
    frame is a ``LocalRelation`` (up to
    ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by default;
    past that Spark parallelizes it), which collects with no job, plans as
    ``LocalTableScan`` and carries its exact row count to the planner.

    Built column by column with each field's Arrow type, not through
    pandas: pandas turns an int column holding a null into float64 and
    loses int64 precision above 2**53."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def driver_rows(df: DataFrame, nbytes_expr, max_rows=None, max_bytes=None):
    """The gate of every driver regime: returns ``(pinned, rows)``, where
    ``pinned`` is ``df`` materialized once (localCheckpoint) and ``rows``
    are its rows collected to the driver when they fit the driver budget
    (DRIVER_MAX_ROWS / DRIVER_MAX_BYTES, or the site's tighter caps), else
    None — the caller then runs its distributed form over ``pinned``.
    ``nbytes_expr`` sizes one row in utf-8 encoded bytes, as for
    bounded_stats.

    The size check costs no pass of its own: the row and byte counts ride
    on the pin's own execution as an Observation, executor-side, so nothing
    reaches the driver before both budgets pass, and the collect reads the
    pin. (A bounded_stats probe is two more jobs per gate, on a path where
    each job is most of the latency.) The pin is the whole frame, not a
    ``limit(cap + 1)`` slice: every distributed fallback reads the frame
    again anyway, so it is materialized once for both.

    Should the observed metrics row not reach the driver (an Observation on
    a commit write once failed that way, BENCH/BASELINE.md round 6), the
    pin is counted instead: one more job, same answer. A map-stage retry
    can only add to the observed counts, which sends a fitting frame to the
    fallback, never an oversized one to the driver."""
    from py4j.protocol import Py4JJavaError
    from pyspark.sql import Observation

    size = Observation()
    metrics = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(nbytes_expr), F.lit(0)).alias("nbytes"),
    )
    pinned = df.observe(size, *metrics).localCheckpoint()
    try:
        got = size.get
        n, nbytes = got["n"], got["nbytes"]
    except (KeyError, Py4JJavaError):
        n, nbytes = pinned.agg(*metrics).first()
    if fits_driver(n, nbytes, max_rows, max_bytes):
        return pinned, pinned.collect()
    return pinned, None


def fits_driver(n: int, nbytes: int, max_rows=None, max_bytes=None) -> bool:
    """Whether ``n`` rows of ``nbytes`` utf-8 encoded bytes may be held on
    the driver: within DRIVER_MAX_ROWS / DRIVER_MAX_BYTES and the site's own
    caps, which may only tighten the shared budget. The one budget check of
    every driver regime, for sizes measured executor-side (driver_rows'
    observed pin, canon.dedup_clusters' signature-pass accumulators)."""
    cap_rows = DRIVER_MAX_ROWS if max_rows is None else min(max_rows, DRIVER_MAX_ROWS)
    cap_bytes = (
        DRIVER_MAX_BYTES if max_bytes is None else min(max_bytes, DRIVER_MAX_BYTES)
    )
    return n <= cap_rows and nbytes <= cap_bytes
