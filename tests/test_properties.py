"""Property-based tests (hypothesis) — the reference has no randomized testing
(SURVEY.md §5); these pin invariants that example-based tests cannot sweep:

* JVM/Python twin agreement of the normalization/decompose scalar functions on
  arbitrary unicode (the (?U)-flag class of bug that bit round 2 via NBSP);
* the gazetteer's one-pass batch scanner against its per-row find() on
  arbitrary terms and texts.

Each example batches many generated values through ONE Spark action so the
suite stays fast (Spark round-trips dominate, not example count).
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from reden_spark.functions.text import (
    decompose_py,
    normalize_mention,
    normalize_mention_py,
)

TEXTISH = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=30
)


@settings(max_examples=5, deadline=None)
@given(st.lists(TEXTISH, min_size=1, max_size=150))
def test_normalize_jvm_equals_python_twin(spark, strings):
    """The JVM Column expression and the Python twin must agree on arbitrary
    unicode — they are used as join keys on opposite sides (dico build vs
    mention kernel), so ANY divergence silently drops candidates."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [r[0] for r in df.select(normalize_mention("s")).collect()]
    want = [normalize_mention_py(s) for s in strings]
    assert got == want


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXTISH, min_size=1, max_size=200))
def test_normalize_idempotent(strings):
    for s in strings:
        once = normalize_mention_py(s)
        assert normalize_mention_py(once) == once
        assert not any(c in once for c in (" ", "'", "-", " ", "\t"))


@settings(max_examples=10, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=200))
def test_decompose_idempotent_on_decoded(strings):
    """decompose (URL-decode of http: URIs) must be stable when re-applied to
    its own output wherever the output no longer contains %-escapes — the
    graph fusion folds vertices by decomposed form, so instability would
    split vertices."""
    for s in strings:
        once = decompose_py("http:" + s)
        if "%" not in once:
            assert decompose_py(once) == once


@settings(max_examples=120, deadline=None)
@given(
    st.lists(st.text(alphabet="ab \x00éç'", min_size=1, max_size=8), min_size=1, max_size=6),
    st.lists(
        st.one_of(st.none(), st.text(alphabet="ab \x00éç'\n", max_size=40)),
        min_size=0,
        max_size=12,
    ),
)
def test_find_batch_equals_per_row_find(terms, texts):
    """The one-pass NUL-joined batch scanner must emit exactly the per-row
    find() matches, in the same order, for arbitrary terms and texts —
    including NUL-containing terms (fallback path), None texts, and word
    chars adjacent to row boundaries."""
    from reden_spark.functions.gazetteer import GazetteerMatcher

    m = GazetteerMatcher(terms)
    expected = []
    for i, t in enumerate(texts):
        for oi, (term, s) in enumerate(m.find(t or "")):
            expected.append((i, oi, term, s))
    rows, occ, ments, starts = m.find_batch(list(texts))
    assert list(zip(rows.tolist(), occ.tolist(), ments, starts.tolist())) == expected
