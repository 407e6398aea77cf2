"""contexts -> facts -> validated triples.

Replaces the reference's per-row OpenAI loop (scripts/run_pipeline.py:76-105)
with a deterministic, schema-guided extractor running inside Arrow-batched
mapInPandas — the batched-inference seam where a real model would slot in
(load once per worker, score a batch at a time).

Methodology codes are validated against the CDM-style dimension
(ground_truth_project_detail_formatter.py:110,178-179) via a
broadcast-literal array_intersect (see validate_methodologies for why the
earlier LEFT SEMI join shape was retired);
proponent surfaces are emitted as a side channel for canonicalization; the
structured-output JSON Schemas of initial_pipeline/section/*.py become
from_json StructTypes + required-field constraint checks in validate_triples.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.sql.types import ArrayType

from kgx import kernel
from kgx.config import METHODOLOGY_CODES
from kgx.schema import FACTS, OBJ_SCHEMAS, REQUIRED_FIELDS


def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # a real-model variant would load the model here, once per worker
    for pdf in batches:
        out: dict[str, list] = {f.name: [] for f in FACTS.fields}
        for row in pdf.itertuples(index=False):
            fact = kernel.extract_fact(row.category, row.context or "")
            if fact is None:
                continue
            codes = surfaces = None
            obj = kernel.canonical_json(fact)
            if row.category == "methodology":
                codes = fact  # validated relationally downstream
                obj = None
            elif row.category == "project_proponents":
                surfaces = [p["organization_name"] for p in fact]
            out["url"].append(row.url)
            out["warc_ts"].append(row.warc_ts)
            out["content_sha"].append(row.content_sha)
            out["pred"].append(row.category)
            out["obj"].append(obj)
            out["codes"].append(codes)
            out["surfaces"].append(surfaces)
        if not out["url"]:
            # a batch where no context yields a fact: pandas types the empty
            # columns float64 and Arrow refuses the double->timestamp cast
            continue
        yield pd.DataFrame(out)


def extract_facts(contexts: DataFrame) -> DataFrame:
    return contexts.mapInPandas(_extract_batches, schema=FACTS)


def _fused_arrow_batches(batches):
    """Iterator[pyarrow.RecordBatch] -> Iterator[pyarrow.RecordBatch].

    mapInArrow, not mapInPandas: the pandas conversion materializes every input
    column (including the multi-KB html payloads) into pandas objects before
    the UDF sees them — measured 3x slower than raw Arrow batches on a 1M-page
    corpus. We only need plain python values per row, which to_pylist() gives
    directly."""
    import hashlib

    import pyarrow as pa

    out_type = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("content_sha", pa.string()),
            ("pred", pa.string()),
            ("obj", pa.string()),
            ("codes", pa.list_(pa.string())),
            ("surfaces", pa.list_(pa.string())),
        ]
    )
    for b in batches:
        cols = {name: b.column(i).to_pylist() for i, name in enumerate(b.schema.names)}
        out: dict[str, list] = {f.name: [] for f in FACTS.fields}
        for url, warc_ts, html in zip(cols["url"], cols["warc_ts"], cols["html"]):
            # null html (failed fetch — a certainty in real WARC input)
            # degrades to an empty page, never a task-killing TypeError
            raw = bytes(html) if html is not None else b""
            text = kernel.html_to_text(raw)
            sha = hashlib.sha256(raw).hexdigest()
            for cat, fact in kernel.page_facts(text):
                codes = surfaces = None
                obj = kernel.canonical_json(fact)
                if cat == "methodology":
                    codes, obj = fact, None
                elif cat == "project_proponents":
                    surfaces = [p["organization_name"] for p in fact]
                out["url"].append(url)
                out["warc_ts"].append(warc_ts)
                out["content_sha"].append(sha)
                out["pred"].append(cat)
                out["obj"].append(obj)
                out["codes"].append(codes)
                out["surfaces"].append(surfaces)
        yield pa.RecordBatch.from_arrays(
            [pa.array(out[f.name], type=out_type.field(i).type)
             for i, f in enumerate(FACTS.fields)],
            schema=out_type,
        )


def extract_facts_fused(pages: DataFrame) -> DataFrame:
    """pages -> facts in ONE Arrow pass (html->text, headings, spans, category,
    context top-k, extraction — all row-local kernel work).

    This is the hot path at scale: the relational decomposition
    (kgx.textextract + kgx.sections + extract_facts) computes identical output
    — asserted by tests/test_pipeline.py — but spends ~6 shuffles and ~40
    scheduler stages on per-document work; fused, the whole per-page chain is
    embarrassingly parallel and the only shuffles left are the genuinely
    cross-document ones (methodology semi-join re-collect, canonicalization,
    the partitioned write).

    Partition guard: parquet scans can only split at row-group boundaries, so
    an input written with giant row groups (or one fat file) arrives as fewer
    partitions than cores and would run this CPU-bound pass nearly serially —
    exactly what a 4000-page single-row-group bench corpus did (4.9s -> 6.8s
    end-to-end). When the scan yields fewer partitions than the session
    parallelism, one round-robin shuffle of the (url, warc_ts, html)
    projection (kgx.util.spread) buys full parallelism for the dominant
    stage — one task per core, so the pass runs in ONE Python wave: a wave
    costs about 0.3 s of fixed overhead on a 4-vCPU ``local[4]`` session
    whatever the data size, and a 2x split doubled it for nothing on the
    small streaming arrivals this guard fires for (120 pages: 0.76 s at 8
    tasks, 0.48 s at 4). At 100 TB inputs have
    ~10^5 splits and the guard never fires; when it does fire the input
    layout was the bottleneck, not the shuffle."""
    from kgx.util import spread

    slim = spread(pages.select("url", "warc_ts", "html"))
    return slim.mapInArrow(_fused_arrow_batches, schema=FACTS)


def validate_methodologies(facts: DataFrame) -> DataFrame:
    """Validate code mentions against the CDM-style dimension.

    The dimension is tiny and static, so the validation is a broadcast-literal
    ``array_intersect`` — zero shuffles, stays inside the scan stage. (The
    explode + broadcast LEFT SEMI join shape this replaces is still exercised
    in the operator library, kgx.ops.relational.q10_semi_join; at this
    dimension size the join's shuffle-side groupBy to re-collect the array was
    a measurable non-scaling cost at 1M pages.) Facts with no valid code are
    dropped, matching the golden semantics.

    to_json(array_sort(...)) is byte-equal to the kernel's canonical_json of a
    sorted string list (both emit compact JSON).
    """
    is_meth = F.col("pred") == "methodology"
    valid = F.array_sort(
        F.array_intersect("codes", F.array(*[F.lit(c) for c in METHODOLOGY_CODES]))
    )
    return (
        facts.withColumn(
            "obj", F.when(is_meth, F.to_json(valid)).otherwise(F.col("obj"))
        )
        .filter(~is_meth | (F.size(valid) > 0))
        .select([f.name for f in FACTS.fields])
    )


def _validity_column():
    """The per-pred structured-output validity expression shared by both
    validate_triples variants: from_json parse success + required-field
    presence (or the sector two-label domain check)."""
    checks = []
    for pred, schema in OBJ_SCHEMAS.items():
        if pred == "sector":
            # scalar JSON payload: from_json needs struct/array/map, so check the
            # (stronger) two-label domain constraint directly
            # (ground_truth_project_detail_formatter.py:155-156)
            checks.append(
                (pred, F.col("obj").rlike('^"(Renewable Energy|Forestry and Land Use)"$'))
            )
            continue
        parsed = F.from_json("obj", schema)
        ok = parsed.isNotNull()
        def _null_field(f):
            # NB: a 2-arg lambda would be treated as (element, index) by
            # pyspark's higher-order functions — bind the field via closure.
            return lambda x: x[f].isNull()

        for field in REQUIRED_FIELDS.get(pred, []):
            if isinstance(schema, ArrayType):
                # array<struct>: every element must carry the required field
                ok = ok & (F.size(F.filter(parsed, _null_field(field))) == 0)
            else:
                ok = ok & parsed[field].isNotNull()
        checks.append((pred, ok))

    valid_col = F.lit(False)
    for pred, ok in checks:
        valid_col = F.when(F.col("pred") == pred, ok).otherwise(valid_col)
    return valid_col


def violation_metrics(triples: DataFrame) -> dict[str, dict[str, int]]:
    """Per-pred ``{"rows", "violations"}`` counters over ``triples`` in one
    aggregate (result-stage counts: exact by construction, never inflated by
    map-stage retries). TripleStore.commit runs it over the unit it just
    wrote, so the counters cost a scan of the unit's files instead of a
    second execution of the plan that produced them. An empty frame yields
    ``{}``."""
    counts = (
        triples.groupBy("pred")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(~_validity_column(), 1).otherwise(0)).alias("violations"),
        )
        .collect()
    )
    return {r["pred"]: {"rows": r["n"], "violations": r["violations"]} for r in counts}


def validate_triples(triples: DataFrame) -> tuple[DataFrame, dict[str, int]]:
    """Structured-output constraint checks (SURVEY.md §1.2 'schema system').

    Parses each obj with its per-pred StructType via from_json and counts:
    - parse failures (obj not conforming to the declared schema),
    - required-field nulls (the JSON-Schema `required` mirror).
    Returns (triples_with_valid_flag, violation_counters); on healthy input
    the counters are zero.

    A standalone check: the counters run ``triples`` once and any action on
    the flagged frame runs it again. Writers do not call it —
    TripleStore.commit records the same counters (violation_metrics) from
    the files of the unit it wrote, before the manifest publishes, so a
    commit executes its plan once. (Riding the counters on the commit write
    via the Observation API was tried and reverted in round 6: it raises on
    an empty unit's write, and a CollectMetrics node below the commit's
    exchange is only at-least-once under map-stage retries.)"""
    return triples.withColumn("valid", _validity_column()), violation_metrics(triples)
