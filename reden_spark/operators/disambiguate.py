"""Stage 3 configuration and the relational graph steps the contract exposes.

The links stage itself runs in `grouped.py`: one task per conversation runs
the reference's in-memory paragraph algorithm (GraphHandlerNEL.java,
CentralityHandler.java:100-215). This module keeps

  * `NELConfig`, the surviving config.properties knobs;
  * `simple_links`, the links stage's no-ambiguity path;
  * the relational restatement of graph fusion with alias folding
    (`fuse_edges`, GraphHandlerNEL.java:114-343) and of <2-mention-bridge
    pruning + degree (`pruned_edges`, `prune_and_degree`,
    CentralityHandler.java:100-152), which back the `kg_fused_edges`,
    `kg_relation_frequency` and `kg_pruned_degrees` contract rows.

All steps share deterministic tie-break rules with the oracle (oracle.py D1-D6).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import shared
from ..functions.text import SAME_AS, decompose, encode_last_segment, last_member_with_prefix


@dataclass(frozen=True)
class NELConfig:
    """The subset of the reference's 16 config.properties knobs that survive the
    rebuild (config/config-authors-bnf.properties)."""

    base_prefix: str  # `baseURIs`
    preferred_uri: str  # `preferedURIOrder` ('ALL' or a prefix)
    sameas_pred: str = SAME_AS  # `sameAsproperty`
    # `centralityMeasure` (CentralityHandler.java:137-152); every shipped
    # reference config uses DegreeCentrality. The grouped kernel (grouped.py)
    # serves all four measures via oracle.centrality_scores.
    centrality: str = "DegreeCentrality"
    # `crawlSameAs` (GraphHandlerNEL.java:143-167): restrict sameAs expansion
    # to objects with this prefix; "ALL" = no restriction.
    crawl_sameas: str = "ALL"


def _group_members(candidates: DataFrame) -> DataFrame:
    """Explode candidate groups to one row per member URI, keeping group identity."""
    return candidates.select(
        "conv_id",
        "mention",
        "group_idx",
        "uris",
        F.posexplode("uris").alias("pos", "member"),
    )


def fuse_edges(
    candidates: DataFrame,
    kb_edges: DataFrame,
    rel_weights: DataFrame,
    cfg: NELConfig,
) -> DataFrame:
    """Fused per-conversation graph edges (conv_id, src, dst, pred, weight).

    Edges originate at the *base* vertex even when the triple's subject is a
    sameAs alias (GraphHandlerNEL.java:255-292); aliases with no raw-subject
    triples are re-probed %-encoded (:293-330); sameAs triples and self-loops are
    skipped; one edge per (src,dst) — min(pred) wins (oracle D3).
    """
    is_base = F.col("member").contains(F.lit(cfg.base_prefix))
    # per group: the LAST base member is the fold target (GraphHandlerNEL.java:128-132);
    # null (group with no base member) -> dropped by the isNotNull filter
    base_of_group = last_member_with_prefix(F.col("uris"), cfg.base_prefix)
    members = (
        _group_members(candidates)
        .withColumn("base_uri", base_of_group)
        .filter(F.col("base_uri").isNotNull())
    )

    sameas = kb_edges.filter(F.col("pred") == cfg.sameas_pred).select(
        F.col("subj").alias("member"), F.col("obj").alias("sameas_obj")
    )
    # crawlSameAs prefix restriction applies to case-1 expansion only
    # (GraphHandlerNEL.java:143-167: startsWith on the raw sameAs object)
    if cfg.crawl_sameas != "ALL":
        sameas = sameas.filter(F.col("sameas_obj").startswith(cfg.crawl_sameas))
    # aliases from base members' sameAs links (case 1, GraphHandlerNEL.java:131-168)
    alias_from_sameas = (
        members.filter(is_base)
        .join(sameas, "member")
        .select("conv_id", "base_uri", decompose("sameas_obj").alias("alias"))
    )
    # aliases from non-base dictionary members (case 2, :169-181)
    alias_from_dico = members.filter(~is_base).select(
        "conv_id", "base_uri", decompose("member").alias("alias")
    )
    aliases = (
        alias_from_sameas.unionByName(alias_from_dico)
        .filter(F.lower(F.col("alias")) != F.lower(F.col("base_uri")))
        .distinct()
    )

    triples = kb_edges.select("subj", "pred", "obj")
    probe1 = aliases.join(triples, aliases["alias"] == triples["subj"], "inner")
    # fallback: aliases with ZERO raw-subject triples, re-probed %-encoded (:293-330)
    missing = aliases.join(
        triples.select("subj").distinct(), aliases["alias"] == F.col("subj"), "left_anti"
    )
    probe2 = missing.withColumn("enc", encode_last_segment("alias")).join(
        triples, F.col("enc") == triples.subj, "inner"
    )
    fused = (
        probe1.select("conv_id", "base_uri", "pred", "obj")
        .unionByName(probe2.select("conv_id", "base_uri", "pred", "obj"))
        .filter(F.col("pred") != cfg.sameas_pred)
        .select(
            "conv_id",
            decompose("base_uri").alias("src"),
            decompose("obj").alias("dst"),
            "pred",
        )
        .filter(F.lower(F.col("src")) != F.lower(F.col("dst")))
    )
    rels = F.broadcast(
        rel_weights.select(F.lower(F.col("pred")).alias("pred_lc"), F.col("weight").alias("rel_weight"))
    )
    weighted = fused.join(rels, F.lower(fused.pred) == F.col("pred_lc"), "left").select(
        "conv_id", "src", "dst", "pred", F.coalesce("rel_weight", F.lit(1.0)).alias("weight")
    )
    # simple-graph constraint: <=1 edge per (src,dst) (JGraphT, oracle D3)
    return weighted.groupBy("conv_id", "src", "dst").agg(
        F.min(F.struct("pred", "weight")).alias("pw")
    ).select("conv_id", "src", "dst", F.col("pw.pred").alias("pred"), F.col("pw.weight").alias("weight"))


def colored_nodes(candidates: DataFrame, cfg: NELConfig) -> DataFrame:
    """Candidate base-KB vertices: raw + decomposed forms (CentralityHandler.java:78-97).
    Returns (conv_id, v) distinct."""
    members = _group_members(candidates).filter(F.col("member").contains(F.lit(cfg.base_prefix)))
    raw = members.select("conv_id", F.col("member").alias("v"))
    dec = members.select("conv_id", decompose("member").alias("v"))
    return raw.unionByName(dec).distinct()


def inverted_index(candidates: DataFrame) -> DataFrame:
    """(conv_id, v) -> winning mention: max(mention) over raw+decomposed URIs
    (oracle D4; reference: last-writer-wins, DicoProcessingNEL.java:387-401)."""
    members = _group_members(candidates)
    keys = members.select("conv_id", "mention", F.col("member").alias("v")).unionByName(
        members.select("conv_id", "mention", decompose("member").alias("v"))
    )
    return keys.groupBy("conv_id", "v").agg(F.max("mention").alias("inv_mention"))


def pruned_edges(edges: DataFrame, candidates: DataFrame, cfg: NELConfig) -> DataFrame:
    """Drop <2-mention-bridge vertices, keep edges between survivors
    (CentralityHandler.java:100-122). Returns (conv_id, src, dst, pred, weight)."""
    # colored/inv/survivors are each consumed by 2-3 downstream branches and
    # edges by 3; without cutting lineage Spark re-executes the whole upstream
    # join pipeline per consumer (ReusedExchange misses differently-pruned
    # subplans) — measured 4x wall on this stage. localCheckpoint keeps the
    # blocks distributed on executors (conversation-grain frames, orders of
    # magnitude smaller than the turn table at any scale).
    # colored feeds 3 subtrees of one query (anti-join, bridge join,
    # survivors union): materialize once (checkpointing.shared)
    colored = shared(colored_nodes(candidates, cfg))
    # inv is consumed once (bridge_counts) — no checkpoint, no barrier
    inv = inverted_index(candidates)

    ends = edges.select("conv_id", F.col("src").alias("v"), F.col("dst").alias("other")).unionByName(
        edges.select("conv_id", F.col("dst").alias("v"), F.col("src").alias("other"))
    )
    non_colored = ends.join(colored, ["conv_id", "v"], "left_anti")
    # neighbor must be colored; its mention via the inverted index
    bridge_counts = (
        non_colored.filter(F.col("v") != F.col("other"))
        .join(colored.withColumnRenamed("v", "other"), ["conv_id", "other"], "inner")
        .join(inv.withColumnRenamed("v", "other"), ["conv_id", "other"], "left")
        .groupBy("conv_id", "v")
        .agg(F.countDistinct("inv_mention").alias("n_mentions"))
    )
    # The survivor set feeds BOTH semi-joins of one query, but it is ONLY a
    # semi-join build side, so (a) duplicates in it are harmless — no
    # .distinct() shuffle — and (b) only the bridge-derived remainder needs a
    # materialization point: colored is already materialized above, and the
    # union of two materialized frames is a zero-shuffle narrow op that can
    # recompute per branch for free.
    bridge_extra = shared(
        bridge_counts.filter(F.col("n_mentions") >= 2).select("conv_id", "v")
    )
    survivors = colored.unionByName(bridge_extra)

    return (
        edges.join(survivors.withColumnRenamed("v", "src"), ["conv_id", "src"], "left_semi")
        .join(survivors.withColumnRenamed("v", "dst"), ["conv_id", "dst"], "left_semi")
    )


def prune_and_degree(edges: DataFrame, candidates: DataFrame, cfg: NELConfig) -> DataFrame:
    """Prune <2-mention bridges, then degree per surviving vertex.

    Returns (conv_id, v, degree). Vertex set = edge endpoints plus isolated base
    vertices (degree 0 is implicit — score lookup later coalesces to 0).
    """
    pruned = pruned_edges(edges, candidates, cfg)
    return (
        pruned.select("conv_id", F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("conv_id", "v")
        .agg(F.count("*").cast("double").alias("degree"))
    )


def simple_links(candidates: DataFrame) -> DataFrame:
    """No-ambiguity path: first group's URIs space-joined
    (produceResultsSimple, ResultsAndEvaluationNEL.java:138-190; oracle D1)."""
    return (
        candidates.filter(F.col("group_idx") == 0)
        .select(
            "conv_id",
            "mention",
            F.concat_ws(" ", "uris").alias("chosen_uris"),
            F.lit(None).cast("double").alias("score"),
        )
    )
