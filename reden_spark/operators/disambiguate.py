"""Stage 3 — per-conversation graph disambiguation, expressed relationally.

Re-expresses the reference's per-paragraph in-memory graph algorithm —
sameAs expansion (GraphHandlerNEL.java:114-197), graph fusion with alias folding
(:211-343), <2-mention-bridge pruning (CentralityHandler.java:100-122), degree
centrality + argmax + preferred-URI projection (:137-215) — as joins and
aggregations over (conv_id, ...) keyed DataFrames.

Why relational instead of groupBy(conv_id).applyInPandas for the core path:
every step is an equi-join or aggregation on (conv_id, vertex)-grain keys, so
Spark distributes *within* a conversation too — a mega-conversation never has to
fit into a single task (the skew hazard of grouped-map UDFs). AQE's skew-join
splitting handles residual hot keys. A reference-faithful applyInPandas variant
lives in `grouped.py` for parity testing (and as the sanctioned escape hatch the
north star sketches).

All steps share deterministic tie-break rules with the oracle (oracle.py D1-D6).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..checkpointing import checkpoint, shared
from ..functions.text import SAME_AS, decompose, encode_last_segment, last_member_with_prefix


@dataclass(frozen=True)
class NELConfig:
    """The subset of the reference's 16 config.properties knobs that survive the
    rebuild (config/config-authors-bnf.properties)."""

    base_prefix: str  # `baseURIs`
    preferred_uri: str  # `preferedURIOrder` ('ALL' or a prefix)
    sameas_pred: str = SAME_AS  # `sameAsproperty`
    # `centralityMeasure` (CentralityHandler.java:137-152); every shipped
    # reference config uses DegreeCentrality. The relational path implements
    # Degree + Eigenvector; Brandes/Freeman are per-conversation algorithms
    # served by the grouped variant (grouped.py).
    centrality: str = "DegreeCentrality"
    # `crawlSameAs` (GraphHandlerNEL.java:143-167): restrict sameAs expansion
    # to objects with this prefix; "ALL" = no restriction.
    crawl_sameas: str = "ALL"
    # Force-broadcast the distinct-chosen-URI-combination mapping in triple
    # materialization (canonicalize.materialize_triples). True for every corpus
    # this repo benchmarks; pass False when the distinct combinations outgrow
    # an executor so AQE sizes the join at runtime.
    broadcast_uri_map: bool = True


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
    members: DataFrame | None = None,
) -> DataFrame:
    """Fused per-conversation graph edges (conv_id, src, dst, pred, weight).

    Edges originate at the *base* vertex even when the triple's subject is a
    sameAs alias (GraphHandlerNEL.java:255-292); aliases with no raw-subject
    triples are re-probed %-encoded (:293-330); sameAs triples and self-loops are
    skipped; one edge per (src,dst) — min(pred) wins (oracle D3).
    """
    if members is None:
        members = _group_members(candidates)
    is_base = F.col("member").contains(F.lit(cfg.base_prefix))
    # per group: the LAST base member is the fold target (GraphHandlerNEL.java:128-132);
    # null (group with no base member) -> dropped by the isNotNull filter
    base_of_group = last_member_with_prefix(F.col("uris"), cfg.base_prefix)
    members = members.withColumn("base_uri", base_of_group).filter(F.col("base_uri").isNotNull())

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


def colored_nodes(
    candidates: DataFrame, cfg: NELConfig, members: DataFrame | None = None
) -> DataFrame:
    """Candidate base-KB vertices: raw + decomposed forms (CentralityHandler.java:78-97).
    Returns (conv_id, v) distinct."""
    if members is None:
        members = _group_members(candidates)
    members = members.filter(F.col("member").contains(F.lit(cfg.base_prefix)))
    raw = members.select("conv_id", F.col("member").alias("v"))
    dec = members.select("conv_id", decompose("member").alias("v"))
    return raw.unionByName(dec).distinct()


def inverted_index(candidates: DataFrame, members: DataFrame | None = None) -> DataFrame:
    """(conv_id, v) -> winning mention: max(mention) over raw+decomposed URIs
    (oracle D4; reference: last-writer-wins, DicoProcessingNEL.java:387-401)."""
    if members is None:
        members = _group_members(candidates)
    keys = members.select("conv_id", "mention", F.col("member").alias("v")).unionByName(
        members.select("conv_id", "mention", decompose("member").alias("v"))
    )
    return keys.groupBy("conv_id", "v").agg(F.max("mention").alias("inv_mention"))


def pruned_edges(
    edges: DataFrame,
    candidates: DataFrame,
    cfg: NELConfig,
    members: DataFrame | None = None,
    colored: DataFrame | None = None,
) -> DataFrame:
    """Drop <2-mention-bridge vertices, keep edges between survivors
    (CentralityHandler.java:100-122). Returns (conv_id, src, dst, pred, weight)."""
    # colored/inv/survivors are each consumed by 2-3 downstream branches and
    # edges by 3; without cutting lineage Spark re-executes the whole upstream
    # join pipeline per consumer (ReusedExchange misses differently-pruned
    # subplans) — measured 4x wall on this stage. localCheckpoint keeps the
    # blocks distributed on executors (conversation-grain frames, orders of
    # magnitude smaller than the turn table at any scale). Callers that consume
    # colored/members elsewhere too (disambiguate) pass them in pre-checkpointed
    # so the explode subtree runs once per stage, not once per consumer.
    if colored is None:
        # colored feeds 3 subtrees of one query (anti-join, bridge join,
        # survivors union): materialize once (checkpointing.shared)
        colored = shared(colored_nodes(candidates, cfg, members=members))
    # inv is consumed once (bridge_counts) — no checkpoint, no barrier
    inv = inverted_index(candidates, members=members)

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


def prune_and_degree(
    edges: DataFrame,
    candidates: DataFrame,
    cfg: NELConfig,
    members: DataFrame | None = None,
    colored: DataFrame | None = None,
) -> DataFrame:
    """Prune <2-mention bridges, then degree per surviving vertex.

    Returns (conv_id, v, degree). Vertex set = edge endpoints plus isolated base
    vertices (degree 0 is implicit — score lookup later coalesces to 0).
    """
    pruned = pruned_edges(edges, candidates, cfg, members=members, colored=colored)
    return (
        pruned.select("conv_id", F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("conv_id", "v")
        .agg(F.count("*").cast("double").alias("degree"))
    )


def eigenvector_scores(pruned: DataFrame, iters: int | None = None) -> DataFrame:
    """Relational EigenvectorCentrality (CentralityHandler.java:147-148):
    unweighted symmetric power iteration over the pruned per-conversation edges,
    max-normalized per conversation and rounded to 12 decimals each round — the
    exact twin of oracle.eigenvector_centrality (same iteration count, same
    quantization, which is what pins float determinism across engines: Spark
    sums neighbor scores in arbitrary order).

    Each round is two shuffles keyed on (conv_id, v)/(conv_id); iteration count
    is fixed (no convergence count() round-trips) so the job stays a static DAG
    of depth O(iters) — at cluster scale this is iters x one co-partitioned
    aggregate over conversation-grain data, not turn-grain."""
    from .. import oracle as _oracle

    if iters is None:
        iters = _oracle.EIGEN_ITERS
    sym = (
        pruned.select("conv_id", F.col("src").alias("v"), F.col("dst").alias("n"))
        .unionByName(pruned.select("conv_id", F.col("dst").alias("v"), F.col("src").alias("n")))
        .distinct()
        .transform(checkpoint)
    )
    verts = checkpoint(sym.select("conv_id", "v").distinct())
    x = verts.withColumn("score", F.lit(1.0))
    for _ in range(iters):
        nbr = (
            sym.join(x.select("conv_id", F.col("v").alias("n"), "score"), ["conv_id", "n"])
            .groupBy("conv_id", "v")
            .agg(F.sum("score").alias("ns"))
        )
        mx = nbr.groupBy("conv_id").agg(F.max("ns").alias("mx"))
        x = (
            verts.join(nbr, ["conv_id", "v"], "left")
            .join(mx, "conv_id", "left")
            .select(
                "conv_id",
                "v",
                F.when(
                    F.col("mx") > 0, F.round(F.coalesce("ns", F.lit(0.0)) / F.col("mx"), 12)
                )
                .otherwise(F.lit(0.0))
                .alias("score"),
            )
            .transform(lambda d: checkpoint(d, eager=False))
        )
    return x.select("conv_id", "v", F.col("score").alias("degree"))


def centrality(
    edges: DataFrame,
    candidates: DataFrame,
    cfg: NELConfig,
    members: DataFrame | None = None,
    colored: DataFrame | None = None,
) -> DataFrame:
    """Prune + per-vertex centrality score under cfg.centrality. The relational
    path serves DegreeCentrality (default in every shipped reference config) and
    EigenvectorCentrality; Brandes betweenness / Freeman closeness are
    inherently per-conversation graph traversals — use disambiguate_grouped,
    whose kernel dispatches all four via oracle.centrality_scores."""
    if cfg.centrality == "DegreeCentrality":
        return prune_and_degree(edges, candidates, cfg, members=members, colored=colored)
    if cfg.centrality == "EigenvectorCentrality":
        return eigenvector_scores(pruned_edges(edges, candidates, cfg, members=members, colored=colored))
    raise ValueError(
        f"centralityMeasure {cfg.centrality!r} is not relationally expressible; "
        "use disambiguate_grouped (applyInPandas kernel) for "
        "BrandesBetweennessCentrality / FreemanClosenessCentrality"
    )


def choose_links(
    candidates: DataFrame,
    degrees: DataFrame,
    cfg: NELConfig,
    members: DataFrame | None = None,
    colored: DataFrame | None = None,
) -> DataFrame:
    """Argmax per (conv_id, mention) + preferred-URI projection
    (CentralityHandler.java:154-215). Returns (conv_id, mention, chosen_uris, score)."""
    if members is None:
        members = _group_members(candidates)
    members = members.withColumn("dec", decompose("member"))
    if colored is None:
        colored = colored_nodes(candidates, cfg)

    scored = (
        members.join(colored.withColumnRenamed("v", "dec"), ["conv_id", "dec"], "left_semi")
        .join(degrees.withColumnRenamed("v", "dec"), ["conv_id", "dec"], "left")
        .withColumn("score", F.coalesce("degree", F.lit(0.0)))
    )
    winners = scored.groupBy("conv_id", "mention").agg(
        F.max(F.struct("score", "dec")).alias("win")
    ).select("conv_id", "mention", F.col("win.dec").alias("winner"), F.col("win.score").alias("score"))

    # groups containing the winner (decomposed comparison — oracle D6)
    matching = (
        members.join(winners, ["conv_id", "mention"], "inner")
        .filter(F.col("dec") == F.col("winner"))
        .select("conv_id", "mention", "group_idx", "uris", "winner", "score")
        .distinct()
    )
    if cfg.preferred_uri == "ALL":
        chosen = (
            matching.groupBy("conv_id", "mention", "score")
            .agg(F.concat_ws(" ", F.flatten(F.array_sort(F.collect_list(F.struct("group_idx", "uris"))).uris)).alias("chosen_uris"))
        )
    else:
        # per group: LAST member containing the preferred prefix; the LAST matching
        # group wins overall; a last group without a match falls back to the winner
        # (null from last_member_with_prefix -> the coalesce below)
        grp_sel = last_member_with_prefix(F.col("uris"), cfg.preferred_uri)
        w = Window.partitionBy("conv_id", "mention").orderBy(F.desc("group_idx"))
        chosen = (
            matching.withColumn("grp_sel", grp_sel)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "conv_id",
                "mention",
                F.coalesce("grp_sel", "winner").alias("chosen_uris"),
                "score",
            )
        )
    return chosen.select("conv_id", "mention", "chosen_uris", F.col("score").cast("double").alias("score"))


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


def disambiguate(
    mentions: DataFrame,
    candidates: DataFrame,
    kb_edges: DataFrame,
    rel_weights: DataFrame,
    cases: DataFrame,
    cfg: NELConfig,
) -> DataFrame:
    """Full stage 3: occurrences + candidates -> LINKS (one row per occurrence
    of a mention that received a URI)."""
    ok_convs = cases.filter(F.col("case") == "Ok").select("conv_id")
    simple_convs = cases.filter(F.col("case") == "NoAmbiguity").select("conv_id")

    # cand_ok fans out to fuse/prune/choose and edges is read 3x inside prune:
    # cut lineage once so the shared subtrees execute once (see prune note)
    # cand_ok is consumed exactly once (members_ok below) since every operator
    # now takes the shared members frame — no checkpoint needed, one fewer
    # materialization barrier
    cand_ok = candidates.join(ok_convs, "conv_id", "left_semi")
    cand_simple = candidates.join(simple_convs, "conv_id", "left_semi")

    # shared subtrees, computed once per stage: the posexplode of candidate
    # groups (members) feeds fuse/prune/inverted-index/choose, and the colored
    # vertex set feeds prune + choose. Without a materialization point Spark
    # re-executes each explode per consumer (no cross-join CSE; ReusedExchange
    # misses differently-pruned subplans) — the duplicated subtree was the
    # single largest task-time block of the links stage in the event-log
    # profile (2x ~19 task-seconds on the 607k-turn bench corpus).
    # These frames are conversation-grain (tiny vs the turn table). colored
    # and edges are independent given members; they materialize one after
    # the other on this thread (a two-thread pool measured no faster).
    members_ok = shared(_group_members(cand_ok))
    colored_ok = shared(colored_nodes(cand_ok, cfg, members=members_ok))
    edges = shared(fuse_edges(cand_ok, kb_edges, rel_weights, cfg, members=members_ok))
    scores = centrality(edges, cand_ok, cfg, members=members_ok, colored=colored_ok)
    graph_chosen = choose_links(
        cand_ok, scores, cfg, members=members_ok, colored=colored_ok
    ).withColumn("path", F.lit("graph"))
    simple_chosen = simple_links(cand_simple).withColumn("path", F.lit("simple"))
    chosen = graph_chosen.unionByName(simple_chosen)

    # chosen is (conv, distinct-mention)-grain — much smaller than the occurrence
    # table but unbounded at 10^12-turn scale, so no forced broadcast: AQE
    # converts this to a broadcast join at runtime whenever it is actually small.
    return (
        mentions.select("conv_id", "turn_idx", "occ_idx", "mention")
        .join(chosen, ["conv_id", "mention"], "inner")
        .select("conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path")
    )
