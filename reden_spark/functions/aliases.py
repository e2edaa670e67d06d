"""Author alias generation — re-expression of AuthorBNF.makeAliases
(/root/reference/src/fr/lip6/reden/ldextractor/per/AuthorBNF.java:138-192) and
getNormalisedName (:93-105).

`make_aliases` is pure Python (used by the dictionary-build job through a
vectorized pandas UDF and by the fixture generator); `aliases_udf` is the
Arrow-batched Spark surface returning array<string> for `explode`.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

HONORIFICS = ("de", "d'", "von", "da")  # AuthorBNF.java:22


def _initials(firstname: str) -> str:
    """Space-joined uppercase initials — AuthorBNF.makeFirstNameInitials (:107-115)."""
    return " ".join(ch for ch in firstname if ch.isupper())


def _title(gender: str | None) -> str:
    """'Mme' for female else 'M' — AuthorBNF.getTitle (:117-123)."""
    return "Mme" if (gender or "").lower() == "female" else "M"


def _honorific(firstname: str) -> str | None:
    """Honorific particle when the first name ends with one — AuthorBNF.getHonorific."""
    for hon in HONORIFICS:
        if firstname.endswith(" " + hon):
            return hon
    return None


def normalised_name(firstname: str | None, lastname: str, birth: str | None, death: str | None) -> str:
    """'Last, First (birth-death)' — AuthorBNF.getNormalisedName (:93-105)."""
    first = firstname or ""
    name = lastname if first in ("-", "") else f"{lastname}, {first}"
    name = name.replace("'", "' ")
    if birth is not None and death is not None:
        name = f"{name} ({birth}-{death})"
    return name.replace("  ", " ")


def make_aliases(firstname: str | None, lastname: str, gender: str | None) -> list[str]:
    """~15 surface forms per author; deterministic sorted order (the reference
    returns a HashSet — unordered; we sort for reproducibility)."""
    first = (firstname or "").strip()
    if not lastname or not lastname.strip():
        # no surname, no aliases: title-only forms like 'M ' would normalize to
        # 'm' and hand every abbreviated mention in the corpus to this entity
        return []
    has_first = first not in ("-", "")
    title = _title(gender)
    out: set[str] = set()

    if has_first:
        out.add(f"{first} {lastname}")
    out.add(lastname)
    out.add(f"{title} {lastname}")
    out.add(f"{title}. {lastname}")
    if has_first:
        out.add(f"{title} {first} {lastname}")
        out.add(f"{title}. {first} {lastname}")

    hon = _honorific(first) if has_first else None
    if hon is not None:
        out.add(f"{hon} {lastname}")
        out.add(f"{hon[0].upper()}{hon[1:]} {lastname}")

    initials = _initials(first) if has_first else ""
    initials_dot = initials.replace(" ", ". ") + "." if initials else ""
    if initials:
        out.add(f"{initials} {lastname}")
        out.add(f"{initials_dot} {lastname}")

    if hon is not None:
        hon_sp = hon + " "
        hon_cap = hon_sp[0].upper() + hon_sp[1:]
        out.add(f"{title} {hon_sp}{lastname}")
        out.add(f"{title}. {hon_sp}{lastname}")
        out.add(f"{title} {hon_cap}{lastname}")
        out.add(f"{title}. {hon_cap}{lastname}")
        if initials:
            out.add(f"{initials} {hon_sp}{lastname}")
            out.add(f"{initials} {hon_cap}{lastname}")
            out.add(f"{initials_dot} {hon_cap}{lastname}")
            out.add(f"{initials_dot} {hon_sp}{lastname}")

    return sorted(out)


@F.pandas_udf(ArrayType(StringType()))
def aliases_udf(first: pd.Series, last: pd.Series, gender: pd.Series) -> pd.Series:
    """Vectorized alias generator: (first, last, gender) -> array<string>."""
    return pd.Series(
        [make_aliases(f, l, g) for f, l, g in zip(first.fillna(""), last.fillna(""), gender.fillna(""))]
    )
