"""KB-grain artifacts: everything stages 1-4 derive from the knowledge base alone.

The four KB tables (mention_terms, dico, kb_edges, rel_weights) do not change
from one delta to the next, so what the stages derive from them alone is built
here once per knowledge base and handed to every stage. Frames are eager
checkpoints (``checkpointing.checkpoint``), never a ``persist``: dropping the
artifacts leaves no cached frame behind, and a run still holding them keeps
their blocks. ``plans/pipeline.py`` keys them by the KB tables' content and
keeps the most recent ones (eviction rule: ``checkpointing.recent``), so
consecutive deltas over one KB build them once — REDEN caches its KB-grain
work across runs the same way (the per-URI N3 cache,
GraphHandlerNEL.java:351-384; the skip-if-exists dictionary shards,
QueryAuthorBNF.java:60-66).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import Broadcast
from pyspark.sql import DataFrame

from ..checkpointing import checkpoint
from . import canonicalize
from .candidates import dico_groups
from .grouped import rel_weight_map
from .mentions import broadcast_terms

#: the input tables the artifacts are built from
KB_TABLES = ("mention_terms", "dico", "kb_edges", "rel_weights")


@dataclass(frozen=True)
class KBArtifacts:
    terms: Broadcast  # distinct mention terms for detect_mentions (stage 1)
    groups: DataFrame  # (alias_norm, uris, group_idx) for generate_candidates (stage 2)
    edges: DataFrame  # kb_edges (subj, pred, obj), the links KB slice's source (stage 3)
    rels: dict[str, float]  # relation weight by lower-cased pred (stage 3)
    canon: DataFrame  # owl:sameAs canonical map (uri, canonical) (stage 4)
    triples: DataFrame  # canonical, distinct non-sameAs KB (subj, pred, obj) (stage 4)


def build_kb(
    terms: DataFrame,
    dico: DataFrame,
    kb_edges: DataFrame,
    rel_weights: DataFrame,
) -> KBArtifacts:
    """Build every KB artifact from the four KB tables, eagerly."""
    edges = checkpoint(kb_edges.select("subj", "pred", "obj"))
    groups = checkpoint(dico_groups(dico))
    # the equivalence edges read only the groups' uris arrays: the distinct
    # (alias_norm, uris) rows hold every array dico does
    canon = checkpoint(
        canonicalize.connected_components(canonicalize.sameas_edge_frame(edges, groups))
    )
    return KBArtifacts(
        terms=broadcast_terms(terms),
        groups=groups,
        edges=edges,
        rels=rel_weight_map(rel_weights),
        canon=canon,
        triples=checkpoint(canonicalize.canonical_kb(edges, canon)),
    )
