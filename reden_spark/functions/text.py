"""Scalar text/URI functions — JVM-side Column expressions (no Python UDFs).

Each mirrors a reference scalar (SURVEY.md §2.2) but is expressed with built-in
pyspark.sql.functions so it stays inside whole-stage codegen.
"""

from __future__ import annotations

import urllib.parse

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Predicate URI for equivalence links (config §15 of the reference).
SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
#: Mention->entity link predicate emitted in the output KG.
LINKS_TO = "http://kg.test/linksTo"


#: The EXPLICIT whitespace class the dictionary join key strips, stated once
#: per engine so Java regex and Python re agree by construction (each
#: engine's bare \s means something different: Java ASCII, Python full
#: Unicode). Semantic: ASCII whitespace + NBSP (U+00A0) + NNBSP (U+202F), both ubiquitous
#: in French typography — the reference's Java \s misses both). More exotic
#: Unicode spaces (thin space U+2009 etc.) are deliberately out of scope and
#: survive normalization identically in both engines.
NORM_STRIP_JAVA = r"[\s\u00a0\u202f]|'|-"  # Java \s = [ \t\n\x0B\f\r]
NORM_STRIP_PY = "[ \\t\\n\\x0b\\f\\r\\xa0\\u202f]|'|-"


def normalize_mention(col: Column | str) -> Column:
    """lower(strip whitespace/'/-)  — DicoProcessingNEL.replaceNonAlphabeticCharacters
    (DicoProcessingNEL.java:410-415). This is the dictionary join key.

    Uses :data:`NORM_STRIP_JAVA` — an explicit character class (ASCII
    whitespace + NBSP) mirrored verbatim by the Python twin and every DuckDB
    oracle, so a non-breaking space can never split the join key between
    engines. Stripping NBSP at all is a deliberate, documented improvement
    over the reference's ASCII-only Java \\s."""
    return F.lower(
        F.regexp_replace(F.col(col) if isinstance(col, str) else col, NORM_STRIP_JAVA, "")
    )


def normalize_mention_py(s: str) -> str:
    """Python twin of :func:`normalize_mention` (oracle/datagen use it)."""
    import re

    return re.sub(NORM_STRIP_PY, "", s).lower()


def decompose(col: Column | str) -> Column:
    """URL-decode a URI iff it starts with 'http:' — Util.decompose (Util.java:88-99).

    Graph vertices are always decomposed URIs (GraphHandlerNEL.java:255,272).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.startswith("http:"), F.url_decode(c)).otherwise(c)


def decompose_py(s: str) -> str:
    if s.startswith("http:"):
        return urllib.parse.unquote_plus(s)
    return s


def encode_last_segment(col: Column | str) -> Column:
    """%-encode the last path segment of a URI — the reference's fallback probe for
    old ASCII DBpedia URIs (GraphHandlerNEL.java:293-330)."""
    c = F.col(col) if isinstance(col, str) else col
    last = F.substring_index(c, "/", -1)
    prefix = F.substring(c, F.lit(1), F.length(c) - F.length(last))
    return F.concat(prefix, F.url_encode(last))


def encode_last_segment_py(s: str) -> str:
    head, _, last = s.rpartition("/")
    if not head:
        return urllib.parse.quote_plus(s, safe="")
    return head + "/" + urllib.parse.quote_plus(last, safe="")


def year_from_date(col: Column | str) -> Column:
    """Extract the year from 'yyyy' / 'yyyy-MM-dd' / masked 'd..' date strings; null
    otherwise — DateSpecificProcessingNEL.processDate (:39-63)."""
    c = F.col(col) if isinstance(col, str) else col
    y = F.regexp_extract(c, r"^(\d{4})", 1)
    masked = F.regexp_extract(c, r"^(\d{2})\.\.", 1)  # 'dd..' mask -> century only
    return (
        F.when(y != "", y.cast("int"))
        .when(masked != "", (masked.cast("int") * 100))
        .otherwise(F.lit(None).cast("int"))
    )


def life_span_overlap(b1: Column, d1: Column, b2: Column, d2: Column) -> Column:
    """max(0, min(d1,d2) - max(b1,b2)) — DateSpecificProcessingNEL.compareDate (:15-28)."""
    return F.greatest(F.lit(0), F.least(d1, d2) - F.greatest(b1, b2))


def clean_label(col: Column | str) -> Column:
    """Truncate a label at the first '(' and trim — QueryAuthorBNF.java:176-181."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.substring_index(c, "(", 1))


def extract_score(col: Column | str) -> Column:
    """Pull the '(0.123)' score suffix out of an annotated ref string —
    SignificanceTesting.prepareData (SignificanceTesting.java:74-92)."""
    c = F.col(col) if isinstance(col, str) else col
    # try_cast: regexp_extract yields '' on no match, and ''::double THROWS
    # under Spark 4's default ANSI mode (simple-path links carry no score)
    return F.regexp_extract(c, r"\((\d[\d.]*)\)", 1).try_cast("double")
