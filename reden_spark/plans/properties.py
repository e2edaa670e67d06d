"""config.properties loader — CLI parity with the reference's 16-key driver file.

The reference is driven entirely by a Java properties file
(MainNELApp.java:105-123 reads keys 1-16; semantics documented inline in
config/config-authors-bnf.properties). This module ingests that exact file
shape and maps the surviving knobs onto :class:`NELConfig`, reporting every
key that has no equivalent in the rebuild (dropped knobs are *decisions*, not
silent losses).

Key mapping (reference key -> rebuild):
  baseURIs            -> NELConfig.base_prefix           (first value)
  preferedURIOrder    -> NELConfig.preferred_uri
  centralityMeasure   -> NELConfig.centrality
  crawlSameAs         -> NELConfig.crawl_sameas
  sameAsproperty      -> must be owl:sameAs (functions.text.SAME_AS), the
                         predicate the whole pipeline reads; any other value
                         raises ValueError

Every other key is dropped with the reason in DROPPED_KEYS: no disk cache,
Lucene index or live network in the rebuild; no XPath document model (the
context unit is a conversation); no annotated-file sink; and no dictionary
build in the pipeline CLI.
"""

from __future__ import annotations

import re
from pathlib import Path

DROPPED_KEYS = {
    "useDicoIndex": "no Lucene index: the dictionary probe is a broadcast hash join",
    "indexDir": "no Lucene index directory",
    "nameMainFolderDico": "dictionaries are DataFrames/tables, not TSV shard folders",
    "rdfData": "no per-URI N3 disk cache: kb_edges is a pre-materialized table",
    "KBsLocalNoNetwork": "the rebuild never touches the network",
    "useGlobalCentrality": "deprecated in the reference (config comment, key 8)",
    "spatialExtent": "SpatialExtent.java is an empty stub in the reference",
    "namedEntityTag": "mentions come from the gazetteer scan of each turn, not an XPath tag selection",
    "NERclassName": "no NER model: the gazetteer scan finds the mentions",
    "xpathExpresion": "the context unit is the conversation, not an XPath-selected element",
    "propertyTagRef": "the pipeline writes no annotated file: links are a table",
    "addScores": "the pipeline writes no annotated file: the links table has a score column",
    "outDictionnaireDir": "the pipeline CLI builds no dictionary: dico is an input table",
    "greaterThan": "the pipeline CLI builds no dictionary (plans/dico_build.build_dico takes the birth-year bounds)",
    "lesserThan": "the pipeline CLI builds no dictionary (plans/dico_build.build_dico takes the birth-year bounds)",
}


def load_properties(path: str | Path) -> dict[str, str]:
    """Parse a Java .properties file: '#'/'!' comments, key=value or
    key: value, backslash line continuations, whitespace-trimmed keys/values.
    (The subset java.util.Properties features the reference's configs use.)"""
    props: dict[str, str] = {}
    pending = ""
    for raw in Path(path).read_text(encoding="utf-8", errors="replace").splitlines():
        line = pending + raw.strip()
        pending = ""
        if not line or line.lstrip().startswith(("#", "!")):
            continue
        if line.endswith("\\") and not line.endswith("\\\\"):
            pending = line[:-1]
            continue
        m = re.match(r"^([^=:]+?)\s*[=:]\s*(.*)$", line)
        if m:
            props[m.group(1).strip()] = m.group(2).strip()
    return props


def nel_config_from_properties(path: str | Path):
    """-> (NELConfig, dropped: dict[key, reason]).

    `dropped` lists every key present in the file with no rebuild equivalent,
    each with the documented reason — callers (pipeline CLI) log them."""
    from ..functions.text import SAME_AS
    from ..operators.disambiguate import NELConfig

    props = load_properties(path)
    base = (props.get("baseURIs") or "").split(",")[0].strip()
    if not base:
        raise ValueError(f"{path}: baseURIs is required (key 3 of the reference config)")
    sameas = (props.get("sameAsproperty") or SAME_AS).strip()
    if sameas != SAME_AS:
        raise ValueError(f"{path}: sameAsproperty must be {SAME_AS}, got {sameas!r}")
    cfg = NELConfig(
        base_prefix=base,
        preferred_uri=(props.get("preferedURIOrder") or "ALL").strip(),
        centrality=(props.get("centralityMeasure") or "DegreeCentrality").strip(),
        crawl_sameas=(props.get("crawlSameAs") or "ALL").strip(),
    )
    dropped = {k: DROPPED_KEYS[k] for k in props if k in DROPPED_KEYS}
    return cfg, dropped
