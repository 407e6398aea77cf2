"""Training-data pipeline text operators over the `documents` table.

The large-scale corpus-hygiene suite the task brief asks for beyond the
reference's own operators: exact + near dedup, language ID, quality scoring,
token counting, fingerprinting. Everything stays JVM-side (split / filter /
aggregate / hash built-ins) except where noted; near-dup MinHash reuses the
kgx.canon LSH machinery (same code path as entity canonicalization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kgx.ops import load
from kgx.util import fits_driver, local_frame, sized_pin, spread

# small English stopword list shared verbatim with the SQL oracles
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_SW_LIT = ", ".join(f"'{w}'" for w in STOPWORDS)


def _tokens(col):
    return F.split(F.trim(F.lower(col)), "\\s+")


def _once(col):
    """Force exactly-once evaluation of an interpreted (HOF-bearing)
    expression: a one-element explode(array(col)) is a Generate node that
    CollapseProject/PushDownPredicates cannot inline through, so every
    downstream reference sees a materialized attribute instead of
    re-evaluating the subtree per reference. Load-bearing: HOFs
    (transform/aggregate/filter/array_distinct) are CodegenFallback and
    excluded from codegen CSE — a consumer's pushed-down filter on t14's
    `keep` cost 27.6 s vs 0.75 s at 10k docs before/after this barrier
    (PLANS.md "HOF evaluate-once discipline"). Do not "simplify" a
    `select(_once(x))` back to a plain projection."""
    return F.explode(F.array(col))


def _ngrams(toks, k: int):
    """Token k-gram array over a MATERIALIZED token-array column — pass an
    attribute (e.g. produced by `_once(_tokens(...))`), never an inline
    split: inside the interpreted transform lambda an inline split
    re-tokenizes the whole document once per gram position (O(tokens²)/doc;
    measured 12x on 20k 150-token docs). The gram itself is concat_ws over
    k element_at lookups, NOT slice(toks, i, k): slice with a column start
    allocates a fresh array per gram position in the interpreted evaluator
    — measured 8x slower on the same input (14.7 s vs 1.4 s for the bigram
    walk at 100k docs). Empty for <k tokens, guarded because Spark's
    sequence(1, n) is DESCENDING for n < 1, not empty. kgx.canon's shingle
    builders stay separate on purpose: their oracle-pinned semantics differ
    (whole-string fallback below k, distinct+sort)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        ),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


# --- exact dedup: hash-groupBy, keep min doc_id ------------------------------ #
def t01_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    return (
        d.withColumn("content_md5", F.md5("text"))
        .withColumn("keep_id", F.min("doc_id").over(w.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
        .select(
            "doc_id", "content_md5",
            (F.col("doc_id") != F.col("keep_id")).cast("int").alias("is_dup"),
        )
    )


T01_SQL = """
SELECT doc_id, md5(text) AS content_md5,
       CASE WHEN doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text))
            THEN 1 ELSE 0 END AS is_dup
FROM documents
"""


# --- token counting: whitespace + BPE-ish subword estimate -------------------- #
def t02_token_count(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    ws = F.size(_tokens(F.col("text")))
    # BPE-ish: alnum runs + single non-space punctuation marks
    bpe = F.size(F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+|[^a-z0-9\\s]"), 0))
    return d.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        F.length("text").alias("n_chars"),
    )


T02_SQL = """
SELECT doc_id,
       len(string_split_regex(trim(lower(text)), '\\s+'))                 AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]'))     AS bpe_tokens,
       length(text)                                                       AS n_chars
FROM documents
"""


# --- language ID: stopword-ratio heuristic ------------------------------------ #
def t03_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    """Evaluate-once shape (see t14's docstring): toks and the ratio each
    sit behind a one-element explode barrier so the interpreted stopword
    filter runs once per row, not once per reference (the ratio is
    referenced by both the output column and the lang_pred threshold) —
    measured 1.6x on materialize at 100k docs, identical rows."""
    d = load(spark, sf, "documents")
    # spread (round 7): the interpreted stopword filter is the whole cost
    # here and a one-row-group parquet would run it on one core
    tk = spread(d.select("doc_id", "text")).select(
        "doc_id", _once(_tokens(F.col("text"))).alias("toks")
    )
    sw = F.size(F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS)))
    ratio = F.round(sw / F.greatest(F.size("toks"), F.lit(1)), 4)
    return tk.select(
        "doc_id", _once(ratio).alias("stopword_ratio")
    ).select(
        "doc_id",
        "stopword_ratio",
        F.when(F.col("stopword_ratio") >= 0.05, "en")
        .otherwise("other")
        .alias("lang_pred"),
    )


T03_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       ROUND(len(list_filter(toks, x -> x IN ({_SW_LIT})))::DOUBLE
             / greatest(len(toks), 1), 4) AS stopword_ratio,
       CASE WHEN ROUND(len(list_filter(toks, x -> x IN ({_SW_LIT})))::DOUBLE
                 / greatest(len(toks), 1), 4) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_pred
FROM t
"""


# --- quality score: length/punct/stopword composition --------------------------- #
def t04_quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Evaluate-once shape (see t14's docstring): toks behind a one-element
    explode barrier, so the token split feeds the stopword filter and the
    size() as an attribute instead of being re-inlined per reference."""
    d = load(spark, sf, "documents")
    # spread (round 7): same rationale as t03 — HOF work should arrive wide
    tk = spread(d.select("doc_id", "text")).select(
        "doc_id", "text", _once(_tokens(F.col("text"))).alias("toks")
    )
    sw_ratio = F.size(F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS))) / F.greatest(
        F.size("toks"), F.lit(1)
    )
    punct = F.length(F.regexp_replace("text", "[^.,;:!?]", "")) / F.greatest(
        F.length("text"), F.lit(1)
    )
    len_score = F.least(F.length("text") / F.lit(500.0), F.lit(1.0))
    score = F.round(0.5 * len_score + 0.4 * sw_ratio + 0.1 * (1 - punct), 4)
    return tk.select("doc_id", score.alias("quality"))


T04_SQL = f"""
WITH t AS (
  SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       ROUND(0.5 * least(length(text) / 500.0, 1.0)
           + 0.4 * (len(list_filter(toks, x -> x IN ({_SW_LIT})))::DOUBLE
                    / greatest(len(toks), 1))
           + 0.1 * (1 - length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                        / greatest(length(text), 1)), 4) AS quality
FROM t
"""


# --- fingerprint: md5 of whitespace-normalized text ------------------------------ #
def t05_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    d = load(spark, sf, "documents")
    norm = F.regexp_replace(F.trim(F.lower("text")), "\\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


T05_SQL = """
SELECT doc_id, md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# --- n-gram Jaccard near-dup pairs (within source blocks) -------------------------- #
def t06_ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Token-3-gram Jaccard >= 0.5 pairs, blocked by `source`.

    Blocking keeps the self-join O(sum of block^2) instead of O(n^2); the
    unblocked scale path is t07 (MinHash-LSH).

    Gram walk via the shared _ngrams over a materialized token attribute
    (review round 6): the original inline-split lambda re-tokenized the doc
    3x per gram position, AND its unguarded sequence(0, greatest(n-3, 0))
    indexed out of bounds for <3-token docs — a job-killing
    INVALID_ARRAY_INDEX under ANSI mode (Spark 4 default) and a silent
    NULL-vs-'a b' oracle divergence with ANSI off. <3-token docs now have
    EMPTY gram sets on both engines and are dropped BEFORE the self-join —
    they can pair with nothing, and keeping them would make the Jaccard
    divisor 0/0 (a DIVIDE_BY_ZERO under ANSI). Pinned by a crafted
    short-doc corpus test asserting exact Spark-vs-DuckDB parity."""
    d = load(spark, sf, "documents")
    g = (
        d.select(
            "doc_id", "source", _once(_tokens(F.col("text"))).alias("toks")
        )
        .select(
            "doc_id", "source", F.array_distinct(_ngrams("toks", 3)).alias("grams")
        )
        .filter(F.size("grams") > 0)
    )
    a = g.select(F.col("doc_id").alias("a"), "source", F.col("grams").alias("ga"))
    b = g.select(F.col("doc_id").alias("b"), "source", F.col("grams").alias("gb"))
    jac = F.size(F.array_intersect("ga", "gb")) / F.size(F.array_union("ga", "gb"))
    return (
        a.join(b, "source")
        .filter(F.col("a") < F.col("b"))
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= 0.5)
        .select("a", "b", "jaccard")
    )


T06_SQL = """
WITH g AS (
  SELECT doc_id, source,
         CASE WHEN len(toks) >= 3 THEN
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks) - 1)])
         ELSE [] END AS grams
  FROM (SELECT doc_id, source,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents)
),
ng AS (SELECT * FROM g WHERE len(grams) > 0)
SELECT x.doc_id AS a, y.doc_id AS b,
       ROUND(len(list_intersect(x.grams, y.grams))::DOUBLE
             / len(list_distinct(list_concat(x.grams, y.grams))), 4) AS jaccard
FROM ng x JOIN ng y ON x.source = y.source AND x.doc_id < y.doc_id
WHERE len(list_intersect(x.grams, y.grams))::DOUBLE
      / len(list_distinct(list_concat(x.grams, y.grams))) >= 0.5
"""


# --- MinHash-LSH near-dup clusters (the scale path) ---------------------------------- #
def t07_minhash_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Whole-corpus near-dup clustering via canon.dedup_clusters: id-keyed
    MinHash-LSH banding + exact-Jaccard verification + connected components.
    Document text never enters a shuffle — only doc_id, sha256(text), and
    fixed-width hash arrays (round-1 carried full text as the join key).

    cluster_key = md5(min doc_id of the cluster): independent of the CC
    label scheme, so the driver/distributed CC paths and the SQL oracle all
    agree. The oracle (T07_SQL) computes the same clustering exactly —
    all-pairs token-3-gram Jaccard >= threshold + recursive-CTE transitive
    closure — which is feasible at oracle scale and checks the LSH path
    end-to-end (blocking recall included: signatures are deterministic, so
    parity at a given sf is stable, verified at sf0.001/sf0.01).

    Scope of the parity claim: LSH blocking is probabilistic, so exact oracle
    agreement is a per-corpus fact, not a theorem — at r=2/b=32 a borderline
    J~0.4 pair misses blocking with ~0.4% probability (banding_recall(0.4, 32,
    2) ~ 0.996), and the 512B sig gate adds a small deterministic tail. On a
    NEW corpus/sf, a legitimate blocking miss would surface as a hash
    mismatch here even though the operator is behaving exactly as designed;
    the claim is pinned to the sfs above, and cluster-recall-floor assertions
    (tests/test_textops.py) are the corpus-independent check.
    """
    from kgx import canon

    d = load(spark, sf, "documents")
    comp = canon.dedup_clusters(
        d, id_col="doc_id", text_col="text", shingle="token",
        bucket_cap=1000, n_bands=32,
    )
    # ONE window pass: cluster_key = md5(min doc_id over the component) is
    # injective over components (each doc lives in exactly one component, so
    # distinct components have distinct min ids; md5 of distinct 64-bit
    # inputs never collides in practice and the oracle would merge on the
    # same md5 values if it ever did), hence count over cluster_key == count
    # over component — both aggregates share the single component-keyed
    # exchange instead of re-shuffling by the derived key (round-7: was two
    # windows / two exchanges).
    wc = Window.partitionBy("component").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return comp.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(
            F.min(F.col("doc_id").cast("long")).over(wc).cast("string")
        ).alias("cluster_key"),
        F.count("*").over(wc).alias("cluster_size"),
    )


from kgx.canon import JACCARD_THRESHOLD as _J_THRESH  # noqa: E402

# Exact mirror of the Spark clustering: normalize (lower, non-alnum -> space,
# collapse), token 3-grams with the whole-string fallback, all-pairs Jaccard
# >= canon.JACCARD_THRESHOLD edges (interpolated below so engine and oracle
# can't desync), transitive closure by recursive CTE,
# cluster key = md5(min doc_id).
T07_SQL = f"""
WITH RECURSIVE d AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [norm]
              ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  for i in range(1, len(toks) - 1)])
         END AS grams
  FROM (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM d)
), e AS (
  SELECT x.doc_id AS a, y.doc_id AS b
  FROM g x JOIN g y ON x.doc_id < y.doc_id
  WHERE len(list_intersect(x.grams, y.grams))::DOUBLE
        / len(list_distinct(list_concat(x.grams, y.grams))) >= {_J_THRESH}
), sym AS (
  SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e
), reach AS (
  SELECT doc_id AS a, doc_id AS b FROM d
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
), comp AS (
  SELECT a AS doc_id, MIN(b) AS rep_id FROM reach GROUP BY a
)
SELECT doc_id, md5(CAST(rep_id AS VARCHAR)) AS cluster_key,
       CAST(COUNT(*) OVER (PARTITION BY rep_id) AS BIGINT) AS cluster_size
FROM comp
"""


# --- SimHash (55-bit, engine-portable token hashing) --------------------------------- #
# modular LCG hash: modulus 2^55 keeps acc*181+code < 2^63 (no BIGINT overflow
# on either engine — both are overflow-strict); the large odd seed plus three
# finalizer rounds spread even 1-char tokens across all 55 bits
_POLY_MOD = 1 << 55
_POLY_MULT = 181
_POLY_SEED = 25214903917


def t08_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """55-bit SimHash, fully JVM-side: per-token modular LCG hash over the
    token's characters, per-bit sign sums via aggregate() over the
    distinct-token array, bits reassembled with bit ops.

    The token hash is overflow-safe modular arithmetic rather than xxhash64 so
    the DuckDB oracle can compute the identical value (xxhash64 isn't
    portable); the SimHash semantics — near-identical docs agree on most
    bits — are unchanged, and a production swap to xxhash64 is one expression.
    SQL expression form: the Python-API shiftright/shiftleft demand literal
    shift amounts, but the SQL functions take column operands."""
    d = load(spark, sf, "documents")
    step = f"(a, c) -> (a * {_POLY_MULT} + c) % {_POLY_MOD}L"
    tok_hash = (
        f"aggregate(array(11L, 11L, 11L), "
        f"aggregate(transform(split(t, ''), ch -> bigint(ascii(ch))), "
        f"{_POLY_SEED}L, {step}), {step})"
    )
    # hs behind the _once Generate barrier, NOT merely "its own select":
    # a single-referenced alias gets inlined by CollapseProject regardless
    # of cost (the multi-reference cost check does not apply), which put
    # the char-level fold INSIDE the per-bit lambda — recomputed 55x per
    # document (caught by a round-6 review reading the optimized plan; the
    # separate-select comment this replaces described a barrier that did
    # not survive optimization)
    hs = (
        "transform(array_distinct(split(trim(lower(text)), '\\\\s+')),"
        f" t -> {tok_hash})"
    )
    sim = (
        "aggregate("
        "  transform(sequence(0, 54), b -> CASE WHEN aggregate("
        "      hs, 0, (acc, h) -> acc + CASE WHEN (shiftright(h, b) & 1) = 1"
        "                               THEN 1 ELSE -1 END) > 0"
        "    THEN shiftleft(1L, b) ELSE 0L END),"
        "  0L, (acc, x) -> acc | x) AS simhash"
    )
    return d.select("doc_id", _once(F.expr(hs)).alias("hs")).selectExpr(
        "doc_id", sim
    )


T08_SQL = f"""
WITH h AS (
  SELECT doc_id,
         [list_reduce(list_prepend(
             list_reduce(list_prepend({_POLY_SEED}::BIGINT,
                                      [ascii(c)::BIGINT for c in string_split(t, '')]),
                         (a, b) -> (a * {_POLY_MULT} + b) % {_POLY_MOD}),
             [11::BIGINT, 11::BIGINT, 11::BIGINT]),
             (a, b) -> (a * {_POLY_MULT} + b) % {_POLY_MOD})
          for t in list_distinct(string_split_regex(trim(lower(text)), '\\s+'))] AS hs
  FROM documents
)
SELECT doc_id,
       CAST(list_sum([CASE WHEN list_sum([CASE WHEN (v >> b) & 1 = 1
                                               THEN 1 ELSE -1 END
                                          for v in hs]) > 0
                           THEN (1::BIGINT << b) ELSE 0::BIGINT END
                      for b in range(0, 55)]) AS BIGINT) AS simhash
FROM h
"""


# --- keyword search with hit lists (PDFExtraction.py:281-309 / find_keyword_in_pdf) --- #
KEYWORDS = ["table", "spark", "join", "window", "hash"]


def t09_keyword_hits(spark: SparkSession, sf: str) -> DataFrame:
    """keyword -> sorted list of matching doc_ids + hit count; the
    explode+rlike+groupBy/collect_list shape of the reference's keyword-page
    search, with the keyword dimension broadcast."""
    d = load(spark, sf, "documents")
    kw = local_frame(spark, [(k,) for k in KEYWORDS], "keyword string")
    # Column.rlike only takes a literal pattern in the Python API; the SQL
    # form accepts a column expression
    hits = d.join(
        F.broadcast(kw), F.expr(r"text rlike ('\\b' || keyword || '\\b')")
    )
    return hits.groupBy("keyword").agg(
        F.count("*").alias("n_docs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("doc_ids"),
    )


_KW_LIT = ", ".join(f"('{k}')" for k in KEYWORDS)
T09_SQL = f"""
WITH kw(keyword) AS (VALUES {_KW_LIT})
SELECT keyword, COUNT(*) AS n_docs,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
FROM documents JOIN kw ON regexp_matches(text, '\\b' || keyword || '\\b')
GROUP BY keyword
"""


# --- keyword positional hits (PDFExtraction.py:281-309 keyword -> page numbers) ------- #
def t11_keyword_positions(spark: SparkSession, sf: str) -> DataFrame:
    """Positional variant of t09: per (keyword, doc) the token offsets of every
    exact-token hit — the document-local analog of the reference's keyword ->
    page-number lists. posexplode of the token split + broadcast keyword dim,
    then groupBy re-collect; the explode keeps rows narrow (doc_id + one
    token), so the shuffle is O(hits), not O(corpus text)."""
    d = load(spark, sf, "documents")
    kw = local_frame(spark, [(k,) for k in KEYWORDS], "keyword string")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", "\\s+")).alias("pos", "tok")
    )
    hits = toks.join(F.broadcast(kw), F.col("tok") == F.col("keyword"))
    return hits.groupBy("keyword", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min("pos").cast("long").alias("first_pos"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("pos")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("positions"),
    )


T11_SQL = f"""
WITH kw(keyword) AS (VALUES {_KW_LIT}),
t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
p AS (
  SELECT keyword, doc_id,
         [i - 1 FOR i IN range(1, len(toks) + 1) IF toks[i] = keyword] AS ps
  FROM t CROSS JOIN kw
)
SELECT keyword, doc_id,
       CAST(len(ps) AS BIGINT) AS n_hits,
       CAST(ps[1] AS BIGINT) AS first_pos,
       array_to_string(list_transform(ps, x -> x::VARCHAR), ',') AS positions
FROM p WHERE len(ps) > 0
"""



# --- keyword -> page-number lists (PDFExtraction.py:281-309, page-granular) ----------- #
PAGE_TOKENS = 8  # tokens per synthetic "page" of the flat documents table


def t12_keyword_pages(spark: SparkSession, sf: str) -> DataFrame:
    """The page-granular form of the reference's keyword search: keyword ->
    sorted distinct page numbers per document (find_keyword_in_pdf returns
    keyword -> page lists; the flat `documents` table has no physical pages,
    so a page = a fixed window of PAGE_TOKENS tokens — the same bucketing a
    paginated render applies). Same narrow explode shape as t11: only (doc_id,
    pos) rows for actual hits reach the shuffle."""
    d = load(spark, sf, "documents")
    kw = local_frame(spark, [(k,) for k in KEYWORDS], "keyword string")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", "\\s+")).alias("pos", "tok")
    )
    hits = toks.join(F.broadcast(kw), F.col("tok") == F.col("keyword")).select(
        "keyword", "doc_id", (F.col("pos") / PAGE_TOKENS).cast("long").alias("page")
    )
    return hits.groupBy("keyword", "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.size(F.array_distinct(F.collect_list("page"))).cast("long").alias("n_pages"),
        F.array_join(
            F.transform(
                F.array_sort(F.array_distinct(F.collect_list("page"))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("pages"),
    )


T12_SQL = f"""
WITH kw(keyword) AS (VALUES {_KW_LIT}),
t AS (SELECT doc_id, string_split_regex(text, '\\s+') AS toks FROM documents),
p AS (
  SELECT keyword, doc_id,
         [(i - 1) // {PAGE_TOKENS} FOR i IN range(1, len(toks) + 1)
          IF toks[i] = keyword] AS ps
  FROM t CROSS JOIN kw
),
u AS (SELECT keyword, doc_id, ps, list_sort(list_distinct(ps)) AS pages
      FROM p WHERE len(ps) > 0)
SELECT keyword, doc_id,
       CAST(len(ps) AS BIGINT) AS n_hits,
       CAST(len(pages) AS BIGINT) AS n_pages,
       array_to_string(list_transform(pages, x -> x::VARCHAR), ',') AS pages
FROM u
"""



# --- BM25 keyword ranking (training-data retrieval scoring, SURVEY "beyond") ---------- #
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 3


def t13_bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """BM25 top-k documents per keyword — the retrieval-quality scorer a
    training-data pipeline uses to mine topical documents at corpus scale.

    Fully relational (no UDFs), one projection of ``documents``: each doc's
    token array gives its length ``dl`` and its keyword hits (the tokens
    that are keywords, filtered in place, so only hits ever leave the row).
    One aggregate over that projection returns the corpus scalars N and
    SUM(dl) together (one ``first()``). The hits explode into
    (keyword, doc_id, dl) rows whose count is ``tf``; ``df`` is a count
    window over ``keyword``, and the per-keyword top-k rank window sorts
    within the same keyword partitioning, so the two windows share one
    exchange and no join runs at all (doc length rides along in the group
    key). Every shuffle is O(hits); the corpus-sized pass feeds a
    partial-aggregated groupBy. Exact DuckDB oracle: idf/tf math is
    double-precision on both engines, rounded to 6 before ranking AND
    output (ties broken by doc_id, so the rank column is deterministic even
    under last-ulp drift)."""
    d = load(spark, sf, "documents")
    # _once: the filter lambda is interpreted (no codegen CSE), so an inline
    # split would tokenize every document twice, once per consumer
    toks = d.select("doc_id", _once(F.split("text", "\\s+")).alias("toks"))
    docs = toks.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        F.filter("toks", lambda t: t.isin(KEYWORDS)).alias("hits"),
    )
    # avgdl as exact-sum / count, NOT avg(): dl values are integer-valued
    # doubles and sums of integer-valued doubles are EXACT in IEEE754 (below
    # 2^53) regardless of partial-sum order — so one final division is
    # bit-identical across engines, where avg()'s engine-specific accumulation
    # (incremental mean vs sum/count) could drift an ulp and flip the
    # 6-decimal ROUND at a boundary (the per-corpus-parity caveat class the
    # t07 docstring documents). The oracle SQL mirrors SUM(dl)/COUNT(*).
    srow = docs.agg(F.sum("dl").alias("s"), F.count(F.lit(1)).alias("c")).first()
    n_docs, avgdl = float(srow["c"]), float(srow["s"]) / float(srow["c"])
    tf = (
        docs.select("doc_id", "dl", F.explode("hits").alias("keyword"))
        .groupBy("keyword", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_ = F.count(F.lit(1)).over(Window.partitionBy("keyword")).cast("double")
    idf = F.log((F.lit(n_docs) - df_ + 0.5) / (df_ + 0.5) + 1.0)
    scored = tf.withColumn(
        "score",
        F.round(
            idf
            * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)),
            6,
        ),
    )
    w = Window.partitionBy("keyword").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= BM25_TOPK)
        .select("keyword", "doc_id", "rank", "score")
    )


T13_SQL = f"""
WITH kw(keyword) AS (VALUES {_KW_LIT}),
dl AS (SELECT doc_id, len(string_split_regex(text, '\\s+'))::DOUBLE AS dl
       FROM documents),
stats AS (SELECT COUNT(*)::DOUBLE AS n, SUM(dl) / COUNT(*) AS avgdl FROM dl),
tok AS (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        FROM documents),
tf AS (SELECT keyword, doc_id, COUNT(*)::DOUBLE AS tf
       FROM tok JOIN kw ON tok = keyword GROUP BY keyword, doc_id),
df AS (SELECT keyword, COUNT(*)::DOUBLE AS df FROM tf GROUP BY keyword),
s AS (
  SELECT tf.keyword, tf.doc_id,
         ROUND(ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl)),
               6) AS score
  FROM tf JOIN df USING (keyword) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT keyword, doc_id, rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY keyword
                               ORDER BY score DESC, doc_id) AS rank
  FROM s
) WHERE rank <= {BM25_TOPK}
"""


# --- gazetteer mention detection (Aho-Corasick batch UDF, SURVEY §2.7) ---------------- #
# term -> kind; includes a multi-word term, where the one-pass automaton
# genuinely differs from per-keyword regex scans (t09)
GAZETTEER = {
    "spark": "engine",
    "hash join": "operator",
    "window": "operator",
    "customer": "dimension",
    "vector": "type",
}


def t10_gazetteer_hits(spark: SparkSession, sf: str) -> DataFrame:
    """Broadcast-gazetteer entity mention counts per document: the flashgeotext
    shape of the reference (ground_truth_project_detail_formatter.py:47-49)
    run as an Aho-Corasick scan inside Arrow batches (kgx.gazetteer). Match
    semantics are regex-\\b-exact, so the oracle verifies counts by value."""
    from kgx import gazetteer

    d = load(spark, sf, "documents")
    return gazetteer.spark_scan(d, "doc_id", "text", GAZETTEER)


_GZ_LIT = ", ".join(f"('{t}', '{k}')" for t, k in sorted(GAZETTEER.items()))
T10_SQL = f"""
WITH gz(entity, kind) AS (VALUES {_GZ_LIT})
SELECT doc_id, entity, kind,
       CAST(len(regexp_extract_all(lower(text), '\\b' || entity || '\\b')) AS BIGINT)
           AS n_hits
FROM documents CROSS JOIN gz
WHERE regexp_matches(lower(text), '\\b' || entity || '\\b')
"""


# --- Gopher-style composition/repetition quality rules (webtext filtering) ------------ #
# Thresholds follow the published Gopher rules (Rae et al. 2021, table A1)
# where the synthetic corpus can exercise them; the keep flag is computed from
# the ROUNDED metrics in both engines so boundary docs cannot diverge.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_DUP_2GRAM = 0.5
GOPHER_MIN_STOPWORDS = 2


def t14_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-rule document quality filter: word count, mean word length,
    duplicate-2-gram fraction, distinct-stopword presence, and the composite
    keep flag — the standard pre-training webtext repetition/composition
    gate (Rae et al. 2021 §A1; same family C4/RefinedWeb apply).

    Scale shape: a pure per-row JVM map — zero shuffles, zero UDFs; every
    metric is an array expression over the token split. The 2-gram walk is
    transform(sequence(...)) guarded for <2-token docs (Spark's
    sequence(1,0) is DESCENDING [1,0], not empty — the guard is
    load-bearing). Sum-of-token-lengths folds as a LONG so mean_word_len is
    an exact-integer division in both engines.

    Evaluate-once discipline (measured, not theoretical): higher-order
    functions (transform/aggregate/filter/array_distinct) are
    CodegenFallback — interpreted, and EXCLUDED from codegen's
    common-subexpression elimination — so every alias substitution the
    optimizer performs (CollapseProject, and especially
    PushDownPredicates inlining a filter on `keep`) re-evaluates the whole
    HOF subtree per reference. A one-element explode(array(...)) is a
    Generate node the optimizer cannot inline through, so `toks` and the
    metric struct are each forced to evaluate exactly once per row, and
    every downstream reference (the keep flag, a consumer's
    filter(keep=1) as in t17) is a cheap field extraction. At 10k
    synthetic docs: full materialize 3.4 s -> 1.1 s; filter(keep=1) 27.6 s
    -> 0.75 s, identical rows."""
    d = load(spark, sf, "documents")
    # two chained Generate barriers (one generator per select): toks, then
    # the bigram array — dup_frac references the bigram subtree three times
    # (the when-condition's size, the divisor, array_distinct), and each
    # reference of a non-attribute re-runs the interpreted gram walk
    t = d.select(
        "doc_id", _once(_tokens(F.col("text"))).alias("toks")
    ).select("doc_id", "toks", _once(_ngrams("toks", 2)).alias("bg"))
    n = F.size("toks")
    mean_len = F.round(
        F.aggregate("toks", F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        / F.greatest(n, F.lit(1)),
        4,
    )
    nb = F.size("bg")
    dup_frac = F.round(
        F.when(nb > 0, 1.0 - F.size(F.array_distinct("bg")) / nb).otherwise(0.0),
        4,
    )
    sw = F.size(F.array_distinct(F.filter(F.col("toks"), lambda x: x.isin(*STOPWORDS))))
    m = t.select(
        "doc_id",
        _once(
            F.struct(
                n.alias("n_words"),
                mean_len.alias("mean_word_len"),
                dup_frac.alias("dup_2gram_frac"),
                sw.cast("long").alias("n_stopwords"),
            )
        ).alias("m"),
    )
    keep = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("dup_2gram_frac") <= GOPHER_MAX_DUP_2GRAM)
        & (F.col("n_stopwords") >= GOPHER_MIN_STOPWORDS)
    )
    return m.select("doc_id", "m.*").select("*", keep.cast("int").alias("keep"))


T14_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         ROUND(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
               / greatest(len(toks), 1), 4) AS mean_word_len,
         ROUND(CASE WHEN len(toks) >= 2 THEN
             1.0 - len(list_distinct(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])))::DOUBLE
                 / (len(toks) - 1)
             ELSE 0.0 END, 4) AS dup_2gram_frac,
         CAST(len(list_distinct(list_filter(toks, x -> x IN ({_SW_LIT}))))
              AS BIGINT) AS n_stopwords
  FROM t
)
SELECT *, CASE WHEN n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN} AND {GOPHER_MAX_MEAN_WORD_LEN}
                AND dup_2gram_frac <= {GOPHER_MAX_DUP_2GRAM}
                AND n_stopwords >= {GOPHER_MIN_STOPWORDS}
           THEN 1 ELSE 0 END AS keep
FROM m
"""


# --- corpus-LM negative log-likelihood (CCNet-style perplexity proxy) ------------------ #
def t15_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document mean negative log-probability under the corpus's own
    unigram LM — the CCNet/CC-100 perplexity-filter shape (Wenzek et al.
    2020) with the corpus itself as the LM, so no external model ships.

    Scale shape: one corpus explode feeds a partially-aggregated
    groupBy(doc_id, tok); the vocabulary frequency table derives from THAT
    (O(vocab) rows, never re-scanning text) and joins back broadcast when it
    fits the engine's driver budget (kgx.util.fits_driver, rows AND bytes,
    sized by the stats row the query already computes; real webtext
    vocabulary after this dedup is ~10^7 rows — over budget it falls back
    to a shuffle join on tok, where AQE's skew split handles the Zipf
    head). Determinism: each (doc, tok)
    contribution is fixed-pointed to integer micro-nats BEFORE the per-doc
    sum, so the sum is exact integer arithmetic and immune to Spark's
    partial-aggregation ordering; the only residual cross-engine hazard is a
    last-ulp ln() difference flipping the micro-nat rounding, the same
    accepted class as t13's BM25 oracle."""
    d = load(spark, sf, "documents")
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    freq = tf.groupBy("tok").agg(F.sum("tf").alias("cnt"))
    # ONE stats job serves both the total-token scalar and the broadcast
    # budget check (review round 6: a separate limit+count probe was a
    # second full evaluation of the explode+tf+freq pipeline — its limit()
    # cannot push below the aggregations, so it saved nothing). The final
    # join below re-derives freq once more; that recompute is deliberate
    # for a self-contained query (lineage-recoverable, no cache to manage)
    # — a curation RUN would persist tf/freq across consumers.
    stats = freq.agg(
        F.sum("cnt").alias("total"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.octet_length("tok") + F.lit(8)).alias("nbytes"),
    ).first()
    total = float(stats["total"])
    if fits_driver(stats["n"], stats["nbytes"] or 0):
        freq = F.broadcast(freq)
    contrib = F.round(
        F.col("tf") * F.log(F.col("cnt") / F.lit(total)) * 1_000_000.0, 0
    ).cast("long")
    return (
        tf.join(freq, "tok")
        .select("doc_id", "tf", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("n_tokens"), F.sum("c").alias("sc"))
        .select(
            "doc_id",
            "n_tokens",
            F.round(-(F.col("sc") / 1_000_000.0) / F.col("n_tokens"), 4).alias("nll"),
        )
    )


T15_SQL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY doc_id, tok),
freq AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY tok),
tot AS (SELECT SUM(cnt)::DOUBLE AS total FROM freq),
c AS (
  SELECT doc_id, tf,
         CAST(ROUND(tf * ln(cnt / tot.total) * 1000000.0, 0) AS BIGINT) AS c
  FROM tf JOIN freq USING (tok) CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(-(SUM(c) / 1000000.0) / SUM(tf), 4) AS nll
FROM c GROUP BY doc_id
"""


# --- per-source corpus report card with exact percentiles ------------------------------ #
def t16_source_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus report: doc count, exact mean and exact interpolated
    p50/p90 of document length — the partition-level health report a corpus
    curation run emits per crawl/source shard.

    Exact `percentile` (R-7 interpolation, same estimator as DuckDB's
    quantile_cont — parity probed) buffers each group's values, which is fine
    for a per-SOURCE rollup (group count = number of crawls, values = one
    long per doc) but would not be for a per-token key; at 100 TB the drop-in
    web-scale variant is approx_percentile(n_chars, p, accuracy), the same
    sketch trade q29 documents for distinct-counting. Mean is SUM/COUNT of
    integers (exact in both engines), not avg()."""
    d = load(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("n_chars") / F.count(F.lit(1)), 4).alias("mean_chars"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
    )


T16_SQL = """
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(SUM(n_chars) / COUNT(*), 4) AS mean_chars,
       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       ROUND(quantile_cont(n_chars, 0.9), 4) AS p90_chars
FROM documents GROUP BY source
"""


# --- capstone curation query: Gopher gate + exact dedup + CCNet NLL buckets ------------ #
# tercile probabilities written as explicit literals so Spark and the SQL
# oracle interpolate from bit-identical p values
CCNET_P33 = 0.33333333
CCNET_P67 = 0.66666667


def t17_curated_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The end-to-end corpus-curation composition a pre-training data run
    executes: Gopher composition gate (t14) AND exact-dup drop (t01), then
    CCNet-style head/middle/tail quality buckets over the survivors'
    corpus-LM NLL (t15) — Wenzek et al. 2020's tercile split, labeled by
    VALUE against exact percentile cut points rather than ntile().

    Value-based labeling is the deliberate scale choice: ntile(3) needs a
    single-partition global sort (the one shape that cannot survive 10^12
    docs) and splits rounded-NLL ties by arbitrary sort position; comparing
    against two percentile scalars is one aggregate + a broadcastable pair
    of doubles, and ties land in one bucket deterministically. The exact
    `percentile` buffers the kept docs' NLL values in one buffer — at 100 TB
    swap in approx_percentile (the q29/t16 sketch trade) without touching
    the labeling logic.

    The kept frame executes twice (cut-point aggregate, then labeling) —
    deliberate: both executions are lineage-recoverable recomputes, and a
    curation RUN (as opposed to this self-contained query) would persist
    the upstream metrics frame once and derive gate+buckets from it."""
    gq = t14_gopher_quality(spark, sf).select("doc_id", "n_words", "keep")
    dup = t01_dedup_exact(spark, sf).select("doc_id", "is_dup")
    nll = t15_unigram_logprob(spark, sf).select("doc_id", "nll")
    kept = (
        gq.join(dup, "doc_id")
        .join(nll, "doc_id")
        .filter((F.col("keep") == 1) & (F.col("is_dup") == 0))
        .select("doc_id", "n_words", "nll")
    )
    cuts = kept.agg(
        F.expr(f"percentile(nll, {CCNET_P33})").alias("p33"),
        F.expr(f"percentile(nll, {CCNET_P67})").alias("p67"),
    ).first()
    if cuts["p33"] is None:  # nothing survived the gates: percentile of ∅
        return kept.select(
            "doc_id", "n_words", "nll", F.lit("tail").alias("bucket")
        )
    bucket = (
        F.when(F.col("nll") <= float(cuts["p33"]), "head")
        .when(F.col("nll") <= float(cuts["p67"]), "middle")
        .otherwise("tail")
    )
    return kept.select("doc_id", "n_words", "nll", bucket.alias("bucket"))


T17_SQL = f"""
WITH kept AS (
  SELECT g.doc_id, g.n_words, n.nll
  FROM ({T14_SQL}) g
  JOIN ({T01_SQL}) d USING (doc_id)
  JOIN ({T15_SQL}) n USING (doc_id)
  WHERE g.keep = 1 AND d.is_dup = 0
),
cuts AS (
  SELECT quantile_cont(nll, {CCNET_P33}) AS p33,
         quantile_cont(nll, {CCNET_P67}) AS p67
  FROM kept
)
SELECT doc_id, n_words, nll,
       CASE WHEN nll <= p33 THEN 'head'
            WHEN nll <= p67 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM kept CROSS JOIN cuts
"""


# --- benchmark decontamination: n-gram overlap vs an eval set -------------------------- #
# token n-gram width: published decontamination uses 8-13 grams (GPT-3 App. C,
# PaLM); 5 here so the small-vocab driver fixture actually exercises overlap
DECON_GRAM_K = 5
# deterministic "eval set": every 97th doc stands in for the benchmark corpus
DECON_EVAL_MOD = 97


def t18_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Training-set decontamination: flag documents sharing any token
    5-gram (DECON_GRAM_K) with a held-out eval set — the GPT-3 appendix-C /
    PaLM overlap rule. The eval set is carved deterministically from the
    corpus (doc_id % 97 == 0, DECON_EVAL_MOD) so the op needs no external
    data; a real run would substitute the benchmark suite's texts.

    Scale shape: eval-side grams are O(eval corpus) — thousands of
    benchmark docs for a real suite — distinct-ed, pinned once and sized on
    that pass (kgx.util.sized_pin), and broadcast within the engine's
    driver budget (kgx.util.fits_driver; the self-contained doc_id%97 carve
    grows with the corpus, so over budget the join falls back to a shuffle
    over the pin, pinned identical), making the training-corpus side one
    map-side pass: tokens behind the evaluate-once barrier, the gram walk
    over the materialized token attribute (_ngrams — an inline split in the
    lambda would re-tokenize per gram position), explode,
    broadcast-hash-join, then one groupBy(doc_id) that carries only
    (doc_id, gram) survivors. The training corpus is never shuffled by
    gram; past the pin, the only exchange is the final per-doc count of
    O(matches) rows. Output: contaminated non-eval
    docs with their distinct shared-gram count."""
    d = load(spark, sf, "documents")

    def grams_of(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", _once(_tokens(F.col("text"))).alias("toks")
        ).select("doc_id", _ngrams("toks", DECON_GRAM_K).alias("grams"))

    ev = (
        grams_of(d.filter(F.col("doc_id") % DECON_EVAL_MOD == 0))
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train = grams_of(d.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)).select(
        "doc_id", F.explode(F.array_distinct("grams")).alias("gram")
    )
    ev, n, nbytes = sized_pin(ev, F.octet_length("gram") + F.lit(16))
    if fits_driver(n, nbytes):
        ev = F.broadcast(ev)
    return (
        train.join(ev, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


T18_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {DECON_GRAM_K} THEN
           list_transform(range(1, len(toks) - {DECON_GRAM_K - 2}),
                          i -> array_to_string(toks[i:i+{DECON_GRAM_K - 1}], ' '))
         ELSE [] END AS grams
  FROM t
),
ev AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g
  WHERE doc_id % {DECON_EVAL_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(list_distinct(grams)) AS gram FROM g
  WHERE doc_id % {DECON_EVAL_MOD} <> 0
)
SELECT doc_id, COUNT(*) AS n_shared_grams
FROM train JOIN ev USING (gram)
GROUP BY doc_id
"""


QUERIES = {
    "t01_dedup_exact": (t01_dedup_exact, T01_SQL),
    "t02_token_count": (t02_token_count, T02_SQL),
    "t03_lang_id": (t03_lang_id, T03_SQL),
    "t04_quality_score": (t04_quality_score, T04_SQL),
    "t05_fingerprint": (t05_fingerprint, T05_SQL),
    "t06_ngram_jaccard_pairs": (t06_ngram_jaccard_pairs, T06_SQL),
    "t07_minhash_clusters": (t07_minhash_clusters, T07_SQL),
    "t08_simhash": (t08_simhash, T08_SQL),
    "t09_keyword_hits": (t09_keyword_hits, T09_SQL),
    "t10_gazetteer_hits": (t10_gazetteer_hits, T10_SQL),
    "t11_keyword_positions": (t11_keyword_positions, T11_SQL),
    "t12_keyword_pages": (t12_keyword_pages, T12_SQL),
    "t13_bm25_topk": (t13_bm25_topk, T13_SQL),
    "t14_gopher_quality": (t14_gopher_quality, T14_SQL),
    "t15_unigram_logprob": (t15_unigram_logprob, T15_SQL),
    "t16_source_stats": (t16_source_stats, T16_SQL),
    "t17_curated_corpus": (t17_curated_corpus, T17_SQL),
    "t18_decontaminate": (t18_decontaminate, T18_SQL),
}
