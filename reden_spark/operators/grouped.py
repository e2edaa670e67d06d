"""Stage 3 — per-conversation disambiguation via groupBy(conv_id).applyInPandas.

The pipeline's links path. REDEN disambiguates one paragraph's graph in memory
(CentralityHandler.java:100-215); here one task materializes one conversation's
candidates + the KB slice relevant to them, and runs the exact single-node
kernel from oracle.py (fuse -> prune -> centrality -> argmax) in pandas. The
kernel serves all four centralityMeasure values. `conversation_graphs` runs the
same input and graph steps (fuse -> prune) and returns the fused edges, which
the contract's graph rows check against their DuckDB oracles.

A conversation's work is conversation x distinct-mention grain, bounded by its
entity set rather than its turn count (tests/test_skew.py), so a
mega-conversation concentrates in one task without blowing it up. The KB slice
is pre-filtered with an equi-join on the conversation's probe keys (SURVEY.md
§7 hazard 6) so a group never drags the whole KB into memory.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import oracle
from ..functions.text import decompose, encode_last_segment
from .disambiguate import NELConfig, simple_links

_OUT_SCHEMA = "conv_id string, mention string, chosen_uris string, score double"
_GRAPH_SCHEMA = "conv_id string, src string, dst string, pred string, weight double, kept boolean"


def _kb_slice(candidates: DataFrame, kb_edges: DataFrame, cfg: NELConfig) -> DataFrame:
    """(conv_id, subj, pred, obj): KB rows reachable by this conversation's probes —
    sameAs rows of base members, plus triples of every alias in raw, decomposed and
    %-encoded form."""
    members = candidates.select("conv_id", F.explode("uris").alias("member"))
    keys = (
        members.select("conv_id", F.col("member").alias("k"))
        .unionByName(members.select("conv_id", decompose("member").alias("k")))
        .unionByName(members.select("conv_id", encode_last_segment(decompose("member")).alias("k")))
    )
    sameas_objs = (
        members.filter(F.col("member").contains(F.lit(cfg.base_prefix)))
        .join(
            kb_edges.filter(F.col("pred") == cfg.sameas_pred).select("subj", "obj"),
            members.member == F.col("subj"),
        )
        .select("conv_id", decompose("obj").alias("k"))
    )
    all_keys = (
        keys.unionByName(sameas_objs)
        .unionByName(sameas_objs.select("conv_id", encode_last_segment("k").alias("k")))
        .distinct()
    )
    return all_keys.join(kb_edges, all_keys.k == kb_edges.subj).select(
        "conv_id", "subj", "pred", "obj"
    )


def rel_weight_map(rel_weights: DataFrame) -> dict[str, float]:
    """rel_weights (pred, weight) -> {lower-cased pred: weight}, the kernel's
    edge-weight lookup; collected once per knowledge base (``operators/kb.py``)."""
    return {r["pred"].lower(): float(r["weight"]) for r in rel_weights.collect()}


def _per_conversation(
    candidates: DataFrame,
    kb_edges: DataFrame,
    rels: dict[str, float],
    cfg: NELConfig,
    emit: Callable[..., pd.DataFrame],
    schema: str,
) -> DataFrame:
    """One grouped-map task per conversation over its candidate groups and KB
    slice. Each task runs the kernel's shared graph steps (colored -> fuse ->
    inverted index -> prune) and returns
    ``emit(conv_id, cand_map, colored, fused, pruned)``, where ``fused`` and
    ``pruned`` are ``(vertices, edges)`` graphs."""
    base_prefix, crawl_sameas = cfg.base_prefix, cfg.crawl_sameas
    cand_rows = candidates.select(
        "conv_id",
        F.lit("cand").alias("kind"),
        F.col("mention").alias("a"),
        F.col("group_idx").cast("string").alias("b"),
        F.to_json(F.struct("uris")).alias("c"),
    )
    kb_rows = _kb_slice(candidates, kb_edges, cfg).select(
        "conv_id",
        F.lit("kb").alias("kind"),
        F.col("subj").alias("a"),
        F.col("pred").alias("b"),
        F.col("obj").alias("c"),
    ).distinct()
    combined = cand_rows.unionByName(kb_rows)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import json

        conv_id = pdf["conv_id"].iloc[0]
        cands: dict[str, list[tuple[str, ...]]] = defaultdict(dict)  # mention -> {idx: group}
        kb_triples: list[tuple[str, str, str]] = []
        for kind, a, b, c in zip(pdf["kind"], pdf["a"], pdf["b"], pdf["c"]):
            if kind == "cand":
                cands[a][int(b)] = tuple(json.loads(c)["uris"])
            else:
                kb_triples.append((a, b, c))
        cand_map = {m: [g[i] for i in sorted(g)] for m, g in cands.items()}
        kb = oracle.KB.from_rows(kb_triples)

        colored = oracle._colored_nodes(cand_map, base_prefix)
        fused = oracle.fuse_graph(cand_map, kb, base_prefix, rels, crawl_sameas)
        inverted = oracle.build_inverted_index(cand_map)
        pruned = oracle.prune_graph(*fused, colored, inverted)
        return emit(conv_id, cand_map, colored, fused, pruned)

    return combined.groupBy("conv_id").applyInPandas(kernel, schema)


def conversation_graphs(
    candidates: DataFrame, kb_edges: DataFrame, rels: dict[str, float], cfg: NELConfig
) -> DataFrame:
    """The links kernel's fused graph per conversation: one row per fused edge
    (conv_id, src, dst, pred, weight, kept), where ``kept`` marks the edges
    that survive <2-mention-bridge pruning. ``candidates`` are the groups of
    the graph-path conversations; ``rels`` is the :func:`rel_weight_map`."""

    def emit(conv_id, cand_map, colored, fused, pruned) -> pd.DataFrame:
        kept = pruned[1]
        return pd.DataFrame(
            [(conv_id, s, d, p, w, (s, d) in kept) for (s, d), (p, w) in fused[1].items()],
            columns=["conv_id", "src", "dst", "pred", "weight", "kept"],
        )

    return _per_conversation(candidates, kb_edges, rels, cfg, emit, _GRAPH_SCHEMA)


def disambiguate_grouped(
    mentions: DataFrame,
    candidates: DataFrame,
    kb_edges: DataFrame,
    rels: dict[str, float],
    cases: DataFrame,
    cfg: NELConfig,
) -> DataFrame:
    """Full stage 3: occurrences + candidates -> LINKS (one row per occurrence
    of a mention that received a URI), graph path via applyInPandas.
    ``rels`` is the :func:`rel_weight_map` of the relation weights."""
    preferred, measure = cfg.preferred_uri, cfg.centrality

    ok_convs = cases.filter(F.col("case") == "Ok").select("conv_id")
    simple_convs = cases.filter(F.col("case") == "NoAmbiguity").select("conv_id")
    cand_ok = candidates.join(ok_convs, "conv_id", "left_semi")

    def emit(conv_id, cand_map, colored, fused, pruned) -> pd.DataFrame:
        # full centralityMeasure dispatch (CentralityHandler.java:137-152):
        # Degree / BrandesBetweenness / FreemanCloseness / Eigenvector
        scores = oracle.centrality_scores(*pruned, measure)
        chosen = oracle.choose_uris(cand_map, colored, scores, preferred)
        return pd.DataFrame(
            [
                {"conv_id": conv_id, "mention": m, "chosen_uris": u, "score": s}
                for m, (u, s) in chosen.items()
            ],
            columns=["conv_id", "mention", "chosen_uris", "score"],
        )

    graph_chosen = _per_conversation(cand_ok, kb_edges, rels, cfg, emit, _OUT_SCHEMA).withColumn(
        "path", F.lit("graph")
    )
    simple_chosen = simple_links(candidates.join(simple_convs, "conv_id", "left_semi")).withColumn(
        "path", F.lit("simple")
    )
    # chosen is (conv, distinct-mention)-grain, much smaller than the
    # occurrence table. Without a hint a small delta's mentions scan is under
    # the broadcast threshold and the planner broadcasts the OCCURRENCE side,
    # so the output loses the mentions checkpoint's conv_id bucketing that the
    # links write relies on (pre_shuffle=False). Hashing chosen onto the
    # mentions side keeps the occurrence rows where they sit, at any scale.
    chosen = graph_chosen.unionByName(simple_chosen).hint("shuffle_hash")
    return (
        mentions.select("conv_id", "turn_idx", "occ_idx", "mention")
        .join(chosen, ["conv_id", "mention"], "inner")
        .select("conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path")
    )
