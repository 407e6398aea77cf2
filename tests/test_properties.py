"""Property-based invariants (hypothesis) for the pure kernels — the seams
whose contracts everything else leans on: chunk coverage, normalization
idempotence, Jaccard bounds, Aho-Corasick == regex-\\b, redundancy-filter
monotonicity. No Spark session needed."""

from __future__ import annotations

import re

from hypothesis import given, settings
from hypothesis import strategies as st

from kgx import kernel
from kgx.gazetteer import AhoCorasick

_text = st.text(
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=600,
)
_words = st.lists(
    st.text(alphabet="abcdefgh ", min_size=1, max_size=12), min_size=0, max_size=80
).map(" ".join)


@given(_text, st.integers(50, 300), st.integers(0, 40))
@settings(max_examples=150, deadline=None)
def test_chunk_text_covers_every_position(text, size, overlap):
    overlap = min(overlap, size // 2)
    chunks = kernel.chunk_text(text, size=size, overlap=overlap)
    if not text:
        assert chunks == []
        return
    # every chunk within size bound; concatenated coverage is total & ordered
    assert all(0 < len(c) <= size for c in chunks)
    pos = 0
    for c in chunks:
        start = text.find(c, max(0, pos - max(overlap, 1) - 1))
        assert start != -1, "chunk must be a substring at/after the previous end"
        pos = max(pos, start + len(c))
    assert pos == len(text), "chunks must cover the text to its end"
    # determinism
    assert chunks == kernel.chunk_text(text, size=size, overlap=overlap)


@given(_text)
@settings(max_examples=200, deadline=None)
def test_normalize_surface_idempotent_and_clean(s):
    n = kernel.normalize_surface(s)
    assert kernel.normalize_surface(n) == n
    assert n == n.strip()
    assert not re.search(r"[^a-z0-9 ]", n)
    assert "  " not in n


@given(_text, _text)
@settings(max_examples=200, deadline=None)
def test_jaccard_bounds_and_symmetry(a, b):
    sa, sb = kernel.shingles(a), kernel.shingles(b)
    j = kernel.jaccard(sa, sb)
    assert 0.0 <= j <= 1.0
    assert j == kernel.jaccard(sb, sa)
    if sa:
        assert kernel.jaccard(sa, sa) == 1.0


# terms are word-sequences (single-space separated, word chars at both ends —
# the shape gazetteer entries have). Multi-word terms can SELF-OVERLAP in
# text ('a b a' in 'a b a b a'), which is exactly where naive Aho-Corasick
# counting diverges from re.finditer's non-overlapping semantics.
_terms = st.lists(
    st.lists(
        st.text(alphabet="abc", min_size=1, max_size=3), min_size=1, max_size=3
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(_words, _terms)
@settings(max_examples=200, deadline=None)
def test_aho_corasick_matches_regex_word_boundaries(text, terms):
    ac = AhoCorasick(terms)
    got = ac.counts(text)
    want = {}
    for t in {x.lower() for x in terms}:
        n = len(re.findall(r"\b" + re.escape(t) + r"\b", text.lower()))
        if n:
            want[t] = n
    assert got == want


@given(st.lists(st.lists(st.floats(-1, 1), min_size=4, max_size=4), min_size=1, max_size=12))
@settings(max_examples=150, deadline=None)
def test_redundancy_filter_invariants(vecs):
    import math

    # normalize to unit-ish vectors (zero vectors stay zero: cosine 0 vs all)
    embeds = []
    for v in vecs:
        n = math.sqrt(sum(x * x for x in v))
        embeds.append([x / n for x in v] if n else v)
    kept = kernel.redundancy_filter(embeds, threshold=0.95)
    # always keeps the first element; indices strictly increasing
    assert kept and kept[0] == 0
    assert all(a < b for a, b in zip(kept, kept[1:]))
    # threshold above any cosine keeps everything
    assert kernel.redundancy_filter(embeds, threshold=1.1) == list(range(len(embeds)))
    # pairwise property: no two kept embeddings are near-duplicates
    for i_pos, i in enumerate(kept):
        for j in kept[:i_pos]:
            assert kernel.cosine(embeds[i], embeds[j]) < 0.95


@given(st.lists(st.sampled_from(
    ["01/02/2020", "March 5, 2021", "13/13/2020", "not a date", "July 30, 1999"]
), min_size=2, max_size=6))
@settings(max_examples=100, deadline=None)
def test_crediting_period_uses_first_two_valid_dates(dates):
    ctx = "The crediting period runs from " + " to ".join(dates) + " (renewable)."
    fact = kernel.extract_crediting_period(ctx)
    valid = [d for d in dates if kernel._norm_date(d)]
    if len(valid) < 2:
        assert fact is None
    else:
        assert fact == {
            "start": kernel._norm_date(valid[0]),
            "end": kernel._norm_date(valid[1]),
        }


def test_aho_corasick_self_overlapping_term_counts_like_regex():
    """Regression (round-3 ADVICE): 'a b a' occurs twice overlapping in
    'a b a b a'; re.finditer counts 1 — the automaton must agree."""
    ac = AhoCorasick(["a b a"])
    assert ac.counts("a b a b a") == {"a b a": 1}
    assert ac.counts("a b a  a b a") == {"a b a": 2}  # disjoint: both count


_html_frags = st.sampled_from([
    "<p>", "</p>", "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
    "<div>", "</div>", "<script>", "</script>", "<nav>", "</nav>", "<br>",
    "<h2>", "</h2>", "<b", ">", "<", "&amp;", "&#x27;", "&bogus;",
    "1.2 Project Proponents\n", "Organization Name: X\n", "AMS-III.D.",
    "01/02/2020", "located in A, B at latitude 1.5 and longitude 2.5",
    "2020<=>-12.5\n",
])


@given(st.lists(_html_frags | st.text(max_size=20), max_size=60).map("".join))
@settings(max_examples=300, deadline=None)
def test_kernel_survives_malformed_web_input(s):
    """Web-scale crash resistance: arbitrary junk — truncated tags, bogus
    entities, shuffled structure markers, half-matching extraction patterns —
    must never raise anywhere in the per-page kernel chain (a crashing row
    kills a 100 TB task and its retries). Deterministic too."""
    t = kernel.html_to_text(s)
    assert kernel.html_to_text(s) == t
    kernel.page_facts(t)
    for cat in kernel._EXTRACTORS:
        kernel.extract_fact(cat, t)
    kernel.sections_from_text(t)
    kernel.resolve_sections_last_match(t)
    kernel.chunk_text(t)


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_kernel_survives_arbitrary_bytes(b):
    """html payloads are binary on the wire; undecodable bytes must degrade,
    not raise."""
    t = kernel.html_to_text(b)
    assert isinstance(t, str)
    kernel.page_facts(t)
