"""Unit tests for scalar functions (SURVEY.md §2.2) against reference semantics."""

import pytest
from pyspark.sql import functions as F

from reden_spark.functions.aliases import make_aliases, normalised_name
from reden_spark.functions.gazetteer import GazetteerMatcher
from reden_spark.functions.text import (
    clean_label,
    decompose,
    decompose_py,
    encode_last_segment,
    encode_last_segment_py,
    extract_score,
    life_span_overlap,
    normalize_mention,
    normalize_mention_py,
    year_from_date,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_normalize_mention(spark):
    # DicoProcessingNEL.replaceNonAlphabeticCharacters: strip \s ' - then lowercase
    assert one(spark, normalize_mention(F.lit("Jean  Mo-re'as"))) == "jeanmoreas"
    assert normalize_mention_py("Jean  Mo-re'as") == "jeanmoreas"
    assert one(spark, normalize_mention(F.lit("M. Barre"))) == "m.barre"


def test_decompose(spark):
    # Util.decompose: URL-decode iff startswith http:
    assert one(spark, decompose(F.lit("http://x/a%20b"))) == "http://x/a b"
    assert one(spark, decompose(F.lit("urn:x:a%20b"))) == "urn:x:a%20b"
    assert decompose_py("http://x/a%20b") == "http://x/a b"


def test_encode_last_segment(spark):
    src = "http://kb.test/alt/moréas enc"
    want = "http://kb.test/alt/mor%C3%A9as+enc"
    assert encode_last_segment_py(src) == want
    assert one(spark, encode_last_segment(F.lit(src))) == want


def test_year_from_date(spark):
    # DateSpecificProcessingNEL.processDate masks
    assert one(spark, year_from_date(F.lit("1842"))) == 1842
    assert one(spark, year_from_date(F.lit("1842-05-01"))) == 1842
    assert one(spark, year_from_date(F.lit("18.."))) == 1800
    assert one(spark, year_from_date(F.lit("unknown"))) is None


def test_life_span_overlap(spark):
    v = one(spark, life_span_overlap(F.lit(1800), F.lit(1850), F.lit(1840), F.lit(1900)))
    assert v == 10  # min(1850,1900)-max(1800,1840)
    v = one(spark, life_span_overlap(F.lit(1800), F.lit(1820), F.lit(1840), F.lit(1900)))
    assert v == 0


def test_clean_label_and_score(spark):
    assert one(spark, clean_label(F.lit("Hugo, Victor (1802-1885)"))) == "Hugo, Victor"
    assert one(spark, extract_score(F.lit("http://x/e1(0.75)"))) == pytest.approx(0.75)


def test_make_aliases_reference_rules():
    # AuthorBNF.makeAliases: full name, family only, titles +/- dot, initials,
    # honorific variants
    a = set(make_aliases("Victor", "Hugo", "male"))
    assert {"Victor Hugo", "Hugo", "M Hugo", "M. Hugo", "M Victor Hugo", "M. Victor Hugo", "V Hugo", "V. Hugo"} <= a
    b = set(make_aliases("Honoré de", "Balzac", "male"))
    assert {"de Balzac", "De Balzac", "Balzac"} <= b  # honorific forms
    assert "H Balzac" in b or "H de Balzac" in b
    c = set(make_aliases("George", "Sand", "female"))
    assert "Mme Sand" in c and "Mme. Sand" in c


def test_normalised_name():
    assert normalised_name("Victor", "Hugo", "1802", "1885") == "Hugo, Victor (1802-1885)"
    assert normalised_name("-", "Hugo", None, None) == "Hugo"
    # apostrophe spacing rule (:100)
    assert normalised_name("Henri d'Arles", "X", None, None) == "X, Henri d' Arles"


def test_gazetteer_longest_match():
    m = GazetteerMatcher(["Hugo", "Victor Hugo", "France"])
    assert m.find("Victor Hugo et Hugo en France") == [
        ("Victor Hugo", 0),
        ("Hugo", 15),
        ("France", 23),
    ]
    # word boundary: no match inside words
    assert m.find("Hugolâtre parle") == []
    assert m.find("") == []


def test_normalize_mention_unicode_whitespace_parity(spark):
    """U+00A0 (non-breaking space — standard French typography) must strip on
    BOTH sides of the dictionary join key: the JVM regex runs with (?U) so Java
    \\s agrees with Python's Unicode \\s (a divergence here silently splits
    alias_norm between the Spark join and the oracle/datagen)."""
    s = "Jean\u00a0Valjean"  # NBSP
    assert normalize_mention_py(s) == "jeanvaljean"
    assert one(spark, normalize_mention(F.lit(s))) == "jeanvaljean"
    t = "Jean\u202fValjean"  # narrow no-break space
    assert normalize_mention_py(t) == one(spark, normalize_mention(F.lit(t))) == "jeanvaljean"


def test_extract_score_no_match_is_null(spark):
    """Simple-path annotations carry no '(score)' suffix; under Spark 4's
    default ANSI mode the '' -> double cast must not throw (try_cast)."""
    assert one(spark, extract_score(F.lit("http://x/e1"))) is None
    assert one(spark, extract_score(F.lit("http://x/e1(0.5)"))) == pytest.approx(0.5)


def test_make_aliases_blank_lastname_yields_nothing():
    """No surname -> no aliases: title-only forms ('M ', 'Mme ') would
    normalize to 'm'/'mme' and capture every abbreviated mention corpus-wide."""
    assert make_aliases("Jean", "", None) == []
    assert make_aliases("Jean", "   ", None) == []
    assert make_aliases(None, "", None) == []
