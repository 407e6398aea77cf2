"""Heading rows -> categorized section spans -> retrieved contexts.

All-relational stage between the two pandas kernels:
- section end offsets via a lead() window (the reference's
  `end_page = start.shift(-1)`, tools/PDFExtraction.py:71 /
  context_extractor.py:68);
- category matching = broadcast theta join of headings against the tiny
  heading-variant dimension (contains-match, context_extractor.py:78-81) —
  BroadcastNestedLoopJoin over ~25 variant rows, never a shuffle;
- body slicing by joining matched sections back to the page-text rows;
- retrieval = chunk-explode -> deterministic hash-embedding score (Arrow-batched
  pandas UDF over the shared kernel) -> top-ceil(n/2) window -> re-join chunks
  in document order (context_extractor.py:84-149).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx import kernel
from kgx.config import HEADING_VARIANTS
from kgx.util import local_frame

# (?U): Java \s is ASCII-only by default; Python str.strip() (the golden
# kernel) strips Unicode whitespace (nbsp and friends — routine in
# HTML-extracted text), so the JVM side must match or chunks diverge
# byte-for-byte at whitespace edges
_STRIP_RE = r"(?U)^\s+|\s+$"  # Spark-side equivalent of str.strip()


def variant_dim(spark: SparkSession) -> DataFrame:
    """(category, variant, priority, vprio) broadcast dimension from config;
    priority orders categories, vprio orders variants within a category."""
    rows = []
    for prio, (cat, variants) in enumerate(HEADING_VARIANTS.items()):
        for vprio, v in enumerate(variants):
            rows.append((cat, v, prio, vprio))
    return local_frame(
        spark, rows, "category string, variant string, priority int, vprio int"
    )


def section_spans(heading_rows: DataFrame) -> DataFrame:
    """end_off = lead(start_off) over one CRAWL ordered by start_off, default
    text_len. The partition key is (url, warc_ts, content_sha), not url
    alone: a corpus can carry the same url twice (re-crawl), and a url-only
    window would interleave both versions' headings, computing one crawl's
    end_off from the other's start_off."""
    w = Window.partitionBy("url", "warc_ts", "content_sha").orderBy("start_off")
    return heading_rows.withColumn(
        "end_off", F.coalesce(F.lead("start_off").over(w), F.col("text_len"))
    ).withColumn("body_off", F.least("body_off", "end_off"))


def categorize(sections: DataFrame, variants: DataFrame) -> DataFrame:
    """Broadcast contains-join; first matching category wins (dict order), like
    kernel.categorize_heading."""
    joined = sections.join(
        F.broadcast(variants),
        F.col("title").isNotNull()
        & F.lower(F.col("title")).contains(F.col("variant")),
        "inner",
    )
    w = Window.partitionBy("url", "warc_ts", "content_sha", "sec_idx").orderBy(
        "priority"
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "variant", "priority", "vprio")
    )


def categorize_last_match(sections: DataFrame, variants: DataFrame) -> DataFrame:
    """'Last match wins' resolution, the reference's initial-pipeline variant
    (app.py:245-271; mirrored by kernel.resolve_sections_last_match): match by
    compressed containment (lower + strip '- ') against the full heading line;
    per (url, category) the first variant (vprio) with any match claims the
    category and its LAST document-order match wins — the first can be the
    document's real ToC listing. One heading may win several categories (the
    reference resolves each section key independently)."""

    def comp(c):
        return F.translate(F.lower(c), "- ", "")

    joined = sections.join(
        F.broadcast(variants),
        comp(F.col("heading")).contains(comp(F.col("variant"))),
        "inner",
    )
    wcat = Window.partitionBy("url", "warc_ts", "content_sha", "category")
    best = (
        joined.withColumn("_bv", F.min("vprio").over(wcat))
        .filter(F.col("vprio") == F.col("_bv"))
    )
    wlast = wcat.orderBy(F.desc("start_off"))
    return (
        best.withColumn("_rn", F.row_number().over(wlast))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_bv", "variant", "priority", "vprio")
    )


def section_bodies(categorized: DataFrame, page_text: DataFrame) -> DataFrame:
    """Slice each categorized section's body out of ITS OWN crawl's text.

    The join matches the full crawl identity (url, content_sha, null-safe
    warc_ts) — a url-only join against a re-crawled corpus would slice each
    section's offsets out of BOTH versions' texts. ``sec_idx`` rides along so
    retrieval stays per-section (two same-category sections in one document
    must not merge — the golden path emits one context per section)."""
    pt = page_text.select(
        F.col("url").alias("_u"), F.col("warc_ts").alias("_w"),
        F.col("content_sha").alias("_c"), "text",
    )
    cond = (
        (F.col("url") == F.col("_u"))
        & (F.col("content_sha") == F.col("_c"))
        & F.col("warc_ts").eqNullSafe(F.col("_w"))
    )
    body = F.substring(
        F.col("text"), F.col("body_off") + 1, F.col("end_off") - F.col("body_off")
    )
    return (
        categorized.join(pt, cond)
        .withColumn("body", F.regexp_replace(body, _STRIP_RE, ""))
        .select("url", "warc_ts", "content_sha", "sec_idx", "category", "body")
    )


_CHUNK_SCHEMA = T.ArrayType(T.StringType())

# Full identity of one section of one crawl: url alone is NOT unique (re-crawl
# keeps the url, changes warc_ts/content_sha), and (url, category) is not
# either (two sections can categorize identically). Every retrieval-stage
# group/window keys on all five.
_SECTION_KEYS = ("url", "warc_ts", "content_sha", "category", "sec_idx")

# Persisted chunk frames created by _chunked_single_topk, kept so the
# cross-validation path can release executor memory deterministically.
# Bounded FIFO (round-5 advice): a session that builds relational contexts
# repeatedly without calling release_context_caches() would otherwise pin
# cache blocks forever (the module-global strong ref defeats ContextCleaner
# GC); evicting the oldest entry past the cap unpersists it — by then its
# consumers have long been materialized, and a late re-use just recomputes.
_CACHED_CHUNKS: list[DataFrame] = []
_CACHED_CHUNKS_MAX = 8


def release_context_caches() -> None:
    """Unpersist every chunk cache created by the relational retrieval path.

    The relational contexts builders persist the exploded-chunk frame because
    the single- and multi-chunk branches both consume it, and the branches are
    returned lazy. Callers (parity tests, cross-validation runs) should call
    this once the returned DataFrames have been materialized."""
    while _CACHED_CHUNKS:
        _CACHED_CHUNKS.pop().unpersist()


@F.pandas_udf(_CHUNK_SCHEMA)
def _chunks_udf(body: pd.Series) -> pd.Series:
    # an empty body still yields ONE empty chunk: the golden path emits an
    # empty context for a body-less section (heading directly followed by the
    # next heading); returning [] would posexplode the section out of
    # existence and break parity
    return body.map(lambda b: kernel.chunk_text(b) if b else [""])


@F.pandas_udf(T.DoubleType())
def _score_udf(chunk: pd.Series, category: pd.Series) -> pd.Series:
    return pd.Series(
        [kernel.chunk_score(c, cat) for c, cat in zip(chunk, category)],
        dtype="float64",
    )


def _chunked_single_topk(bodies: DataFrame):
    """Shared retrieval prefix: chunk-explode, per-section counts, single-chunk
    fast path, and the top-ceil(n/2) retrieval window over the scored
    multi-chunk groups. Returns (single_contexts, kept_topk_rows)."""
    from pyspark import StorageLevel

    chunked = bodies.select(
        "url", "warc_ts", "content_sha", "category", "sec_idx",
        F.posexplode(_chunks_udf("body")).alias("chunk_id", "chunk"),
    )
    # per SECTION OF ONE CRAWL, not per (url, category): two sections of one
    # document can categorize identically, and a re-crawled url carries two
    # page versions whose sec_idx values collide — merging either would
    # interleave chunk_ids from different bodies into one garbled context
    # (golden = one context per section per crawl). Keys mirror contexts()'s
    # rejoin keys exactly.
    grp = Window.partitionBy(*_SECTION_KEYS)
    # persisted: the single-chunk and multi-chunk branches both consume it.
    # The branches are returned lazy, so there is no in-function unpersist
    # point; the handle is tracked so release_context_caches() can drop it
    # once the caller has materialized both branches
    chunked = chunked.withColumn("n_chunks", F.count("*").over(grp)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _CACHED_CHUNKS.append(chunked)
    while len(_CACHED_CHUNKS) > _CACHED_CHUNKS_MAX:
        _CACHED_CHUNKS.pop(0).unpersist()
    single = chunked.filter(F.col("n_chunks") <= 1).select(
        "url", "warc_ts", "content_sha", "category",
        F.regexp_replace("chunk", _STRIP_RE, "").alias("context"),
    )
    multi = chunked.filter(F.col("n_chunks") > 1).withColumn(
        "score", _score_udf("chunk", "category")
    )
    w = grp.orderBy(F.desc("score"), F.asc("chunk_id"))
    kept = multi.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= F.ceil(F.col("n_chunks") / 2)
    ).drop("_rn", "n_chunks")
    return single, kept


def contexts(bodies: DataFrame) -> DataFrame:
    """Chunk -> score -> keep top ceil(n/2) in document order -> join with \\n.

    Single-chunk sections skip scoring entirely (the common case: no pandas UDF
    on that path beyond chunking). Matches kernel.select_context bit-for-bit.
    """
    single, kept = _chunked_single_topk(bodies)
    rejoined = (
        kept.groupBy("url", "warc_ts", "content_sha", "category", "sec_idx")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("chunk_id", "chunk"))
            ).alias("_chunks")
        )
        .select(
            "url", "warc_ts", "content_sha", "category",
            F.array_join(
                F.transform(
                    "_chunks",
                    lambda c: F.regexp_replace(c["chunk"], _STRIP_RE, ""),
                ),
                "\n",
            ).alias("context"),
        )
    )
    return single.unionByName(rejoined)


_CTX_SCHEMA = (
    "url string, warc_ts timestamp, content_sha string, "
    "category string, context string"
)


def _refine_group_fn(mode: str, threshold: float):
    """applyInPandas kernel for one section-of-one-crawl chunk group (grouped
    by _SECTION_KEYS — url, warc_ts, content_sha, category, sec_idx): retrieval
    top-k (score desc, chunk_id asc), greedy redundancy drop, then either
    re-join survivors in document order ('redundant') or keep the single best
    ('best1'). The greedy pass is inherently sequential, but a group is one
    section's chunks (tens of rows), so the pandas hop is O(section), never
    O(corpus).

    Embeddings come from the kgx.embedder seam (captured in the closure at
    plan-build time): the hash-embed fallback is byte-identical to the golden
    extractor — the parity tests pin THAT path; with a real model installed
    (or injected) the filter upgrades and the hash-embed golden no longer
    applies, by design."""
    from kgx import embedder

    factory = embedder.current_factory()

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["score", "chunk_id"], ascending=[False, True])
        chunks = pdf["chunk"].tolist()
        ids = pdf["chunk_id"].tolist()
        embeds = embedder.embed_batch(chunks, factory=factory)
        kept = kernel.redundancy_filter(embeds, threshold)
        if mode == "best1":
            context = chunks[kept[0]].strip()
        else:
            in_doc_order = sorted(kept, key=lambda j: ids[j])
            context = "\n".join(chunks[j].strip() for j in in_doc_order)
        head = pdf.iloc[[0]]
        return pd.DataFrame(
            {
                "url": head["url"].values,
                "warc_ts": head["warc_ts"].values,
                "content_sha": head["content_sha"].values,
                "category": head["category"].values,
                "context": [context],
            }
        )

    return fn


def contexts_refined(
    bodies: DataFrame, mode: str = "best1", threshold: float = 0.95
) -> DataFrame:
    """Redundancy-filtered retrieval (context_extractor.py:132-146).

    mode='redundant': top-ceil(n/2) chunks minus near-duplicates (cosine >=
    threshold against an earlier-retained chunk), joined in document order —
    the EmbeddingsRedundantFilter stage.
    mode='best1': the full reference compression pipeline — redundancy drop
    then EmbeddingsFilter(k=1) keep-best — one chunk per section per crawl.

    Shapes: chunk-explode + score exactly like contexts(); the per-group
    greedy filter runs in applyInPandas over _SECTION_KEYS (url, warc_ts,
    content_sha, category, sec_idx — one group per section of one crawl),
    group-local, O(chunks-per-section) each. Single-chunk sections bypass
    scoring entirely.
    Byte-equal to kernel.select_context_{redundant,best1} (tested)."""
    if mode not in ("best1", "redundant"):
        raise ValueError(f"unknown mode {mode!r}")
    single, kept = _chunked_single_topk(bodies)
    refined = kept.groupBy(*_SECTION_KEYS).applyInPandas(
        _refine_group_fn(mode, threshold), schema=_CTX_SCHEMA
    )
    return single.unionByName(refined)


def _bodies(spark: SparkSession, kernel_df: DataFrame) -> DataFrame:
    from kgx import textextract

    hs = textextract.heading_rows(kernel_df)
    pt = textextract.page_text(kernel_df)
    spans = section_spans(hs)
    cat = categorize(spans, variant_dim(spark))
    return section_bodies(cat, pt)


def build_contexts(spark: SparkSession, kernel_df: DataFrame) -> DataFrame:
    """heading+page rows (textextract.kernel_pass output) -> contexts DF."""
    return contexts(_bodies(spark, kernel_df))


def build_contexts_refined(
    spark: SparkSession, kernel_df: DataFrame, mode: str = "best1",
    threshold: float = 0.95,
) -> DataFrame:
    """Same chain with the redundancy-filter / best-1 compression retrieval."""
    return contexts_refined(_bodies(spark, kernel_df), mode=mode, threshold=threshold)
