"""Text / dedup / similarity ops: determinism and recall properties not covered
by the SQL oracles (t07 minhash clusters, t08 simhash, s03 ANN recall)."""

from __future__ import annotations

from pyspark.sql import functions as F

from kgx.ops import simsearch, textops

SF = "/root/testdata/sf0.001"


def test_minhash_clusters_deterministic_and_cover_all_docs(spark):
    a = textops.t07_minhash_clusters(spark, SF)
    rows_a = {(r.doc_id, r.cluster_key) for r in a.collect()}
    rows_b = {(r.doc_id, r.cluster_key) for r in textops.t07_minhash_clusters(spark, SF).collect()}
    assert rows_a == rows_b
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len({d for d, _ in rows_a}) == n_docs


def test_simhash_deterministic_and_64bit(spark):
    a = {r.doc_id: r.simhash for r in textops.t08_simhash(spark, SF).collect()}
    b = {r.doc_id: r.simhash for r in textops.t08_simhash(spark, SF).collect()}
    assert a == b
    assert all(isinstance(v, int) for v in a.values())
    # near-identical docs must agree on most bits: sanity via self-comparison
    assert len(a) == spark.read.parquet(f"{SF}/documents.parquet").count()


def test_ann_lsh_recall_vs_bruteforce(spark):
    exact = simsearch.s01_cosine_topk(spark, SF)
    approx = simsearch.s03_ann_lsh(spark, SF)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"ANN recall too low: {recall}"


def test_exact_dedup_marks_no_dups_on_unique_corpus(spark):
    d = textops.t01_dedup_exact(spark, SF)
    # driver corpus is all-unique; every doc keeps itself
    assert d.filter(F.col("is_dup") == 1).count() == 0


def test_ann_ivf_recall_vs_bruteforce(spark):
    exact = simsearch.s01_cosine_topk(spark, SF)
    approx = simsearch.s04_ann_ivf(spark, SF)
    e = {(r.query_id, r.cand_id) for r in exact.collect()}
    a = {(r.query_id, r.cand_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.3, f"IVF recall too low: {recall}"
    # every query returns a full top-k from its probed cells
    import collections
    per_q = collections.Counter(q for q, _ in a)
    assert all(v == 3 for v in per_q.values())


def test_ivf_nearest_udf_matches_hof_assignment(spark):
    """The round-3 numpy assignment (nearest_cidx_udf) must agree exactly —
    tie-breaks included — with the crossJoin + interpreted-HOF + window shape
    it replaced (kept here as the reference implementation)."""
    from pyspark.sql import Window

    from kgx.ops.simsearch import _sqdist, nearest_cidx_udf

    # deterministic integer vectors incl. exact ties (rows 0/1 equidistant)
    rows = [(i, [((i * 7 + j * 13) % 29) for j in range(8)]) for i in range(200)]
    rows[1] = (1, rows[0][1])
    df = spark.createDataFrame(rows, "cand_id int, vq array<long>")
    cents = [(k, [((k * 11 + j * 3) % 29) for j in range(8)]) for k in range(4)]
    cents[2] = (2, cents[0][1])  # duplicate centroid: forces the cidx tie-break

    cent_df = spark.createDataFrame(cents, "cidx int, cent array<long>")
    w = Window.partitionBy("cand_id")
    hof = {
        (r.cand_id, r.cidx)
        for r in (
            df.crossJoin(F.broadcast(cent_df))
            .withColumn("d", _sqdist("vq", "cent"))
            .withColumn("best", F.min(F.struct("d", "cidx")).over(w))
            .filter((F.col("d") == F.col("best.d")) & (F.col("cidx") == F.col("best.cidx")))
            .collect()
        )
    }
    udf = {
        (r.cand_id, r.cidx)
        for r in df.select("cand_id", nearest_cidx_udf(cents)("vq").alias("cidx")).collect()
    }
    assert udf == hof


def test_dedup_clusters_degenerate_corpora(spark):
    """Web-scale edge shapes must not break clustering: empty texts (exact
    dups of each other), an all-identical corpus, a single doc, and an empty
    corpus."""
    from kgx import canon

    def run(rows):
        df = spark.createDataFrame(rows, "doc_id string, text string")
        out = canon.dedup_clusters(df, id_col="doc_id", text_col="text").collect()
        comps = {}
        for r in out:
            comps.setdefault(r.component, set()).add(r.doc_id)
        return len(out), {frozenset(v) for v in comps.values()}

    n, groups = run([("1", ""), ("2", ""), ("3", "x")])
    assert n == 3 and groups == {frozenset({"1", "2"}), frozenset({"3"})}
    n, groups = run([("1", "same same"), ("2", "same same"), ("3", "same same")])
    assert n == 3 and groups == {frozenset({"1", "2", "3"})}
    n, groups = run([("1", "only doc")])
    assert n == 1 and groups == {frozenset({"1"})}
    n, groups = run([])
    assert n == 0 and groups == set()


def test_gazetteer_punctuation_edge_terms_match_regex(spark):
    """Terms whose edge chars are NON-word ('washington d.c.') must follow
    regex \b semantics: \b after a trailing '.' requires the NEXT char to be
    a word char — the inverse of the word-edged case."""
    import re

    from kgx.gazetteer import automaton

    text = "From Washington D.C. we flew; washington d.c.is lovely. (d.c.)"
    terms = ["washington d.c.", "d.c."]
    ac = automaton(terms)
    got = ac.counts(text.lower())
    for t in terms:
        pat = re.compile(r"\b" + re.escape(t) + r"\b")
        want = len(pat.findall(text.lower()))
        assert got.get(t, 0) == want, (t, got.get(t, 0), want)


def _write_docs(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_gopher_bigram_guard_and_repetition(spark, tmp_path):
    """The sequence()-bigram walk must survive 0/1-token docs (Spark's
    sequence(1,0) is DESCENDING, not empty — the guard is load-bearing), and
    a two-token loop doc must score dup_2gram_frac near 1 and be dropped."""
    keepable = " ".join(f"word{i:02d}" for i in range(58)) + " the is"
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "hello", "en", "s", 5),
            (2, "", "en", "s", 0),
            (3, ("spam ham " * 40).strip(), "en", "s", 0),
            (4, keepable, "en", "s", len(keepable)),
        ],
    )
    got = {r.doc_id: r for r in textops.t14_gopher_quality(spark, sf).collect()}
    assert got[1].n_words == 1 and got[1].dup_2gram_frac == 0.0 and got[1].keep == 0
    assert got[2].keep == 0  # empty text never passes the word-count gate
    # 80 alternating tokens -> 79 bigrams, 2 distinct -> 1 - 2/79
    assert got[3].dup_2gram_frac == round(1 - 2 / 79, 4) and got[3].keep == 0
    assert got[4].keep == 1, got[4]


def test_unigram_logprob_uniform_and_rarity_order(spark, tmp_path):
    """A corpus of one repeated token has p=1 everywhere -> nll exactly 0;
    a doc carrying a rarer token must score a strictly higher nll."""
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (1, "x x x x", "en", "s", 7),
            (2, "x x x y", "en", "s", 7),
        ],
    )
    got = {r.doc_id: r for r in textops.t15_unigram_logprob(spark, sf).collect()}
    assert got[1].n_tokens == 4 and got[2].n_tokens == 4
    assert got[2].nll > got[1].nll > 0.0
    uni = _write_docs(spark, tmp_path / "uni", [(1, "x x x", "en", "s", 5)])
    only = textops.t15_unigram_logprob(spark, uni).collect()[0]
    assert only.nll == 0.0


def test_source_stats_percentiles_match_numpy(spark):
    """Spark's exact percentile() and the op's mean must agree with numpy's
    R-7 linear interpolation per source (the estimator the DuckDB oracle's
    quantile_cont also implements)."""
    import numpy as np
    import pandas as pd

    got = {r.source: r for r in textops.t16_source_stats(spark, SF).collect()}
    pdf = pd.read_parquet(f"{SF}/documents.parquet", columns=["source", "n_chars"])
    for src, grp in pdf.groupby("source"):
        v = grp["n_chars"].to_numpy()
        assert got[src].n_docs == len(v)
        assert got[src].mean_chars == round(v.sum() / len(v), 4)
        assert got[src].p50_chars == round(
            float(np.percentile(v, 50, method="linear")), 4
        )
        assert got[src].p90_chars == round(
            float(np.percentile(v, 90, method="linear")), 4
        )


def test_curated_corpus_buckets_and_gates(spark):
    """t17: every surviving doc passed the Gopher gate and is not an exact
    dup; tercile buckets are value-consistent (every head nll <= every
    middle nll <= every tail nll) and all three appear on the fixture."""
    rows = textops.t17_curated_corpus(spark, SF).collect()
    keep = {r.doc_id: r.keep for r in textops.t14_gopher_quality(spark, SF).collect()}
    dup = {r.doc_id: r.is_dup for r in textops.t01_dedup_exact(spark, SF).collect()}
    assert rows and all(keep[r.doc_id] == 1 and dup[r.doc_id] == 0 for r in rows)
    by = {}
    for r in rows:
        by.setdefault(r.bucket, []).append(r.nll)
    assert set(by) == {"head", "middle", "tail"}
    assert max(by["head"]) <= min(by["middle"]) <= max(by["middle"]) <= min(by["tail"])


def test_gopher_and_nll_match_pure_python_reference(spark, tmp_path):
    """Engine-portability on RANDOM corpora (the class of check that caught
    the sequence(1,0) hazard): t14's metrics and t15's NLL recomputed in
    pure Python must match Spark within the documented rounding slop
    (metrics are rounded half-up to 4dp; NLL additionally fixed-points each
    token to 1e-6 nats, so the bound is 5e-5 + n_tokens*5e-7/n_tokens)."""
    import math
    import random
    import re

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)] + ["the", "is", "of"]
    rows = [(0, "", "en", "s", 0), (1, "solo", "en", "s", 4), (2, "x x x x x", "en", "s", 9)]
    for i in range(3, 40):
        n = rng.randint(1, 120)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n)), "en", "s", 0))
    sf = _write_docs(spark, tmp_path, rows)

    def toks(text):
        return re.split(r"\s+", text.strip().lower())

    g = {r.doc_id: r for r in textops.t14_gopher_quality(spark, sf).collect()}
    for doc_id, text, *_ in rows:
        t = toks(text)
        assert g[doc_id].n_words == len(t)
        mean = sum(len(x) for x in t) / max(len(t), 1)
        assert abs(g[doc_id].mean_word_len - mean) <= 5.1e-5
        big = [f"{t[i]} {t[i+1]}" for i in range(len(t) - 1)]
        dup = (1 - len(set(big)) / len(big)) if big else 0.0
        assert abs(g[doc_id].dup_2gram_frac - dup) <= 5.1e-5

    freq: dict = {}
    for _, text, *_ in rows:
        for x in toks(text):
            freq[x] = freq.get(x, 0) + 1
    total = sum(freq.values())
    n = {r.doc_id: r for r in textops.t15_unigram_logprob(spark, sf).collect()}
    for doc_id, text, *_ in rows:
        t = toks(text)
        ref = -sum(math.log(freq[x] / total) for x in t) / len(t)
        assert n[doc_id].n_tokens == len(t)
        assert abs(n[doc_id].nll - ref) <= 6e-5, (doc_id, n[doc_id].nll, ref)


def test_curated_corpus_empty_survivor_set_is_empty_not_crash(spark, tmp_path):
    """A corpus where nothing survives the gates must yield ZERO rows (the
    oracle's shape), not a float(None) crash computing percentiles of the
    empty kept set."""
    sf = _write_docs(spark, tmp_path, [(1, "tiny doc", "en", "s", 8)])
    assert textops.t17_curated_corpus(spark, sf).count() == 0


def test_decontaminate_flags_exact_gram_overlap_only(spark, tmp_path):
    """A train doc sharing a full 5-gram with an eval doc (doc_id 0 is in
    the eval carve-out) is flagged with the right distinct-gram count; a
    doc sharing only a 4-gram window is NOT; eval docs never appear."""
    eval_text = "alpha beta gamma delta epsilon zeta"
    contaminated = "intro alpha beta gamma delta epsilon outro"  # 5-gram hit
    near_miss = "alpha beta gamma delta X epsilon zeta"  # max 4-gram overlap
    sf = _write_docs(
        spark,
        tmp_path,
        [
            (0, eval_text, "en", "s", 0),
            (1, contaminated, "en", "s", 0),
            (2, near_miss, "en", "s", 0),
            (3, "totally unrelated words here now", "en", "s", 0),
        ],
    )
    got = {r.doc_id: r.n_shared_grams for r in
           textops.t18_decontaminate(spark, sf).collect()}
    assert got == {1: 1}, got


def test_ngram_jaccard_short_docs_no_crash_and_oracle_parity(spark, tmp_path):
    """<3-token docs must have EMPTY gram sets: no INVALID_ARRAY_INDEX
    under ANSI mode, no pairs from NULL-gram artifacts, and exact parity
    with T06_SQL on the same crafted corpus (two identical 2-token docs
    diverged silently before the guard: Spark paired them, DuckDB not)."""
    import duckdb

    rows = [
        (1, "", "en", "s", 0),
        (2, "one", "en", "s", 3),
        (3, "two words", "en", "s", 9),
        (4, "two words", "en", "s", 9),
        (5, "alpha beta gamma delta", "en", "s", 0),
        (6, "alpha beta gamma zeta", "en", "s", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {(r.a, r.b, r.jaccard) for r in
           textops.t06_ngram_jaccard_pairs(spark, sf).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(textops.T06_SQL).fetchall()}
    assert got == want, (got, want)
    assert all(a not in (1, 2, 3, 4) and b not in (1, 2, 3, 4) for a, b, _ in got)


def test_decontaminate_shuffle_fallback_identical(spark, monkeypatch):
    """Over the eval-gram broadcast budget t18 falls back to a shuffle join
    with identical rows."""
    expected = {tuple(r) for r in textops.t18_decontaminate(spark, SF).collect()}
    from kgx import util

    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 0)
    monkeypatch.setattr(util, "DRIVER_MAX_BYTES", 0)
    got = {tuple(r) for r in textops.t18_decontaminate(spark, SF).collect()}
    assert got == expected
