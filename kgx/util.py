"""Small shared Spark-side helpers used across pipeline/canon/streaming."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The driver budget: how large a relation may get before an operator stops
# holding it on the driver (rows AND utf-8 bytes; a row cap alone admits
# multi-GB collects of long keys). Broadcasting a relation holds it on the
# driver too, so every driver collect AND every broadcast decision asks
# fits_driver. g08's driver mapping measured against its distributed CC
# (bench/driver_regime_bench.py g08, chains of 10, local[4]): 3.5 s vs 13.9 s
# at 100k edges, 27 vs 58 at 1M, 28 vs 119 at 2M, the driver process peaking
# near 1.2 GB at 2M. Three sites check a tighter cap measured for their own
# driver form: graph.PR_DRIVER_MAX_ROWS and simsearch.IVF_DRIVER_MAX_VECTORS
# (against the distributed form) and canon.DEDUP_DRIVER_MAX_BYTES (t07's
# and the canonical mapping's signatures on the driver, in bytes). Zeroing
# these two sends every driver and broadcast regime to its distributed
# fallback at once.
DRIVER_MAX_ROWS = 2_000_000
DRIVER_MAX_BYTES = 256 * 1024 * 1024


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


def sized_pin(df: DataFrame, nbytes_expr):
    """``(pinned, n, nbytes)``: ``df`` materialized once (localCheckpoint),
    with its row count and utf-8 encoded byte size (``nbytes_expr`` sizes
    one row; ``octet_length`` counts encoded bytes, so multi-byte text
    cannot undercount). The one executor-side measurement behind
    fits_driver: the counts ride on the pin's own execution as an
    Observation, so sizing costs no pass of its own and nothing reaches the
    driver before the caller's budget check. (A separate ``limit(cap + 1)``
    count probe is two more jobs per gate, on paths where each job is most
    of the latency.) The pin is the whole frame, not a slice: every
    consumer, driver collect or distributed fallback, reads it again.

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
        return pinned, got["n"], got["nbytes"]
    except (KeyError, Py4JJavaError):
        return (pinned, *pinned.agg(*metrics).first())


def driver_rows(df: DataFrame, nbytes_expr, max_rows=None, cols=None):
    """The gate of every driver regime: returns ``(pinned, rows)``, where
    ``pinned`` is ``df`` materialized and sized once (sized_pin) and
    ``rows`` are its rows collected to the driver when they fit the driver
    budget (fits_driver, within the site's tighter row cap), else None — the
    caller then runs its distributed form over ``pinned``. ``cols``
    collects only those columns of the pin (size them alone in
    ``nbytes_expr``); an empty frame always fits, so rows of None also mean
    the frame is not empty."""
    pinned, n, nbytes = sized_pin(df, nbytes_expr)
    if fits_driver(n, nbytes, max_rows):
        return pinned, (pinned.select(*cols) if cols else pinned).collect()
    return pinned, None


def fits_driver(n: int, nbytes: int, max_rows=None) -> bool:
    """Whether ``n`` rows of ``nbytes`` utf-8 encoded bytes may be held on
    the driver, as collected rows or as a broadcast: within DRIVER_MAX_ROWS
    / DRIVER_MAX_BYTES and the site's own row cap, which may only tighten
    the shared budget. The one budget check of every driver regime and every
    broadcast decision, for sizes measured executor-side (sized_pin, an
    aggregate the site already runs, canon.dedup_clusters' signature-pass
    accumulators) or on rows already on the driver."""
    cap_rows = DRIVER_MAX_ROWS if max_rows is None else min(max_rows, DRIVER_MAX_ROWS)
    return n <= cap_rows and nbytes <= DRIVER_MAX_BYTES
