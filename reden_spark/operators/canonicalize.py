"""Stage 4 — owl:sameAs canonicalization + triple materialization.

The reference only picks a per-group representative (`preferedURIOrder`,
CentralityHandler.java:196-213); the north rule requires cross-partition URI
fusion. Implemented as connected components over the sameAs edge DataFrame via
iterative min-label propagation (GraphFrames-style, no external dependency):

    label(v) <- min(label(v), min(label(n)) for n in neighbors(v))   # propagate
    label(v) <- min(label(v), label(label(v)))                        # pointer-jump

Plain neighbor-min propagation alone converges in O(diameter) rounds; the
pointer-jumping step (label-of-label, Shiloach–Vishkin style) halves the
distance to the component minimum each round, giving O(log(diameter)) rounds.
Each round is two shuffles (neighbor groupBy + self-join); lineage is cut per
round with checkpointing.checkpoint so the plan doesn't grow unboundedly.
Exhausting MAX_ITER without a fixpoint raises instead of silently returning
wrong labels.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..checkpointing import checkpoint
from ..functions.text import LINKS_TO, SAME_AS


def _driver_union_find(head: pa.Table, spark) -> DataFrame:
    """Small-graph fast path: union-find with path compression on the driver
    over an already-collected (bounded) edge table — one job instead of
    O(log d) rounds x 2-3 jobs each. The iterative loop's serial job-submission
    latency (~10 s per pipeline run regardless of data size) was the largest
    fixed cost left in the triples stage after the layout work; equivalence
    graphs are KB-sized (sameAs + dico co-membership), not corpus-sized, so
    they are almost always under the threshold. Semantics identical: canonical
    = min URI of the component.

    The map goes to Spark as an Arrow table, so it plans as a local relation:
    its consumers run no Python worker, and the planner sees its true size
    (bounded by the ``DRIVER_MAX_EDGES`` head that produced it) when it
    picks a join strategy."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    a, b = head.column("a").to_pylist(), head.column("b").to_pylist()
    for x, y in zip(a, b):
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    members: dict[str, list[str]] = {}
    verts = set(a) | set(b)
    for v in verts:
        members.setdefault(find(v), []).append(v)
    uris, canonicals = [], []
    for group in members.values():
        uris.extend(group)
        canonicals.extend([min(group)] * len(group))
    table = pa.table({"uri": pa.array(uris, pa.string()), "canonical": pa.array(canonicals, pa.string())})
    return spark.createDataFrame(table)


# Rounds between convergence probes of the distributed loop. A probe is a
# driver-side count action (a whole job submission); labels only ever
# decrease, so comparing against the labels of N rounds ago detects the
# fixpoint just as soundly. Probing every 2nd round halves job-submission
# overhead on deep graphs at the cost of at most one redundant (cheap,
# already-converged) round.
CHECK_EVERY = 2
# Rounds the distributed loop may run before it raises.
MAX_ITER = 50
# Largest equivalence graph, in edges, that takes the driver union-find.
DRIVER_MAX_EDGES = 500_000


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(a, b) undirected -> (uri, canonical) where canonical = min URI of the
    component. Isolated URIs (not in edges) are their own canonical and are not
    returned — callers coalesce(canonical, uri).

    Equivalence graphs of up to ``DRIVER_MAX_EDGES`` edges take the
    union-find fast path (:func:`_driver_union_find`) via ONE bounded
    `limit(n+1).toArrow()` — the fetched head doubles as both the size probe
    and the edge list, so the (possibly expensive, e.g. a near-dup pair join)
    upstream plan is evaluated once, not once for a count and again for a
    collect. ``toArrow`` runs the limit as one Spark job over every input
    partition; ``collect`` would run Spark's incremental take, one job per
    scale-up round. Larger graphs (10^8-entity KBs) spill past the limit and
    run the distributed pointer-jumping loop instead — the bounded head is
    discarded (at most n+1 driver rows either way); tests set the constant to
    0 to force that path. The loop probes for its fixpoint every
    ``CHECK_EVERY`` rounds and raises after ``MAX_ITER`` rounds."""
    # bounded probe = the fetch itself: never pulls past the threshold
    head = edges.select("a", "b").limit(DRIVER_MAX_EDGES + 1).toArrow()
    if head.num_rows <= DRIVER_MAX_EDGES:
        return _driver_union_find(head, edges.sparkSession)
    sym = edges.select(F.col("a"), F.col("b")).unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # adjacency including self so labels persist: (v, neighbor)
    adj = sym.unionByName(sym.select(F.col("a"), F.col("a").alias("b"))).distinct()
    labels = adj.groupBy("a").agg(F.min("b").alias("label")).withColumnRenamed("a", "v")
    labels = checkpoint(labels)

    converged = False
    check_base = labels  # labels as of the last convergence probe
    for it in range(MAX_ITER):
        # propagate: new label of v = min(label of v, min over neighbors' labels)
        nbr_labels = (
            adj.join(labels.withColumnRenamed("v", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("new_label"))
            .withColumnRenamed("a", "v")
        )
        merged = (
            labels.join(nbr_labels, "v", "left")
            .select("v", F.least("label", F.coalesce("new_label", "label")).alias("label"))
        )
        # pointer-jump: label(v) <- label(label(v)). Labels are vertices (every
        # label is a min over b-values, all of which appear as v keys), so the
        # self-join is total; 'left' + coalesce guards the fixpoint rows anyway.
        jumped = (
            merged.join(
                merged.select(F.col("v").alias("label"), F.col("label").alias("ll")),
                "label",
                "left",
            )
            .select("v", F.least("label", F.coalesce("ll", "label")).alias("label"))
        )
        jumped = checkpoint(jumped)
        labels = jumped
        if (it + 1) % CHECK_EVERY == 0 or it == MAX_ITER - 1:
            changed = (
                jumped.withColumnRenamed("label", "nl")
                .join(check_base, "v")
                .filter(F.col("nl") != F.col("label"))
                .limit(1)
                .count()
            )
            check_base = jumped
            if changed == 0:
                converged = True
                break
    if not converged:
        # Distinguish "iterations exhausted exactly at the fixpoint" (labels
        # correct — the last round's change check ran before its own update
        # landed, or MAX_ITER was 0 on an already-labeled graph) from "labels
        # still moving" before failing loudly.
        nbr = (
            adj.join(labels.withColumnRenamed("v", "b"), "b")
            .groupBy("a")
            .agg(F.min("label").alias("new_label"))
            .withColumnRenamed("a", "v")
        )
        still_moving = (
            labels.join(nbr, "v", "left")
            .filter(F.coalesce("new_label", "label") < F.col("label"))
            .limit(1)
            .count()
        )
        if still_moving:
            raise RuntimeError(
                f"connected_components did not converge in {MAX_ITER} rounds; "
                "labels would be silently wrong — raise MAX_ITER"
            )
    return labels.select(F.col("v").alias("uri"), F.col("label").alias("canonical"))


def sameas_edge_frame(kb_edges: DataFrame, dico: DataFrame) -> DataFrame:
    """Equivalence edges: KB owl:sameAs rows + dico group co-membership
    (a candidate group row already lists equivalent URIs, SURVEY.md §2.3)."""
    kb = kb_edges.filter(F.col("pred") == SAME_AS).select(
        F.col("subj").alias("a"), F.col("obj").alias("b")
    )
    grp = (
        dico.select(F.col("uris")[0].alias("a"), F.explode("uris").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    return kb.unionByName(grp).distinct()


def canonical_kb(kb_edges: DataFrame, canon: DataFrame) -> DataFrame:
    """The KB as the output graph carries it: non-sameAs rows, subject and object
    rewritten to their canonical URI (``canon`` from :func:`connected_components`),
    de-duplicated (the rewrite can merge rows). KB-grain, so built once per
    knowledge base (``operators/kb.py``)."""
    return (
        kb_edges.filter(F.col("pred") != SAME_AS)
        .join(canon.withColumnRenamed("uri", "subj"), "subj", "left")
        .withColumn("csubj", F.coalesce("canonical", "subj"))
        .drop("canonical")
        .join(canon.withColumnRenamed("uri", "obj"), "obj", "left")
        .withColumn("cobj", F.coalesce("canonical", "obj"))
        .select(F.col("csubj").alias("subj"), "pred", F.col("cobj").alias("obj"))
        .distinct()
    )


def materialize_triples(
    links: DataFrame,
    canon: DataFrame,
    kb_canon: DataFrame,
    bucket_into: int | None = None,
) -> DataFrame:
    """LINKS -> output KG (subj, pred, obj):

      * one mention-link triple per linked occurrence:
        (urn:mention:<conv>:<turn>:<occ>, kg:linksTo, canonical(chosen));
      * pass-through KB triples of chosen entities, subject and object rewritten
        to their canonical URI; sameAs rows themselves are dropped (they are now
        encoded by the canonical labels).

    The sameAs canonical map ``canon`` (uri, canonical) and the rewritten KB
    ``kb_canon`` (:func:`canonical_kb`) arrive prebuilt as KB artifacts
    (``operators/kb.py``): this stage runs no connected components and
    rewrites no KB row, it only resolves the delta's chosen URIs.

    Both lookups are broadcast: the entity-combination mapping, whose
    distinct winning URI-combinations fit in an executor for every corpus
    this repo runs, and the canonical map, whose checkpoint carries a real
    size estimate only when it came from the driver union-find (a KB past
    ``connected_components``' driver threshold would want a shuffle join here
    instead).

    ``bucket_into=n`` attaches the output table's `bucket` partition column
    WITHOUT a full-output shuffle on a hashed key (round-2 profile: 310 MB, the largest remaining turn-grain movement):
    mention-link triples get bucket = pmod(murmur3(conv_id), n) — when `links`
    was checkpointed as an n-bucket table on conv_id, every row already SITS
    in that partition (only a map-side broadcast join separates them), so the
    partitioned write emits one file per task with zero data movement, and
    co-locates each conversation's links with its checkpoint bucket. Entity
    passthrough triples (entity-grain, orders smaller) bucket on
    pmod(murmur3(subj), n) and pay their own small repartition.
    """
    # Resolve chosen_uris -> canonical entity on DISTINCT chosen_uris VALUES
    # (entity-combination grain, thousands of rows), then broadcast the tiny
    # mapping back onto the occurrence table. The naive form — explode every
    # occurrence and groupBy (conv_id, turn_idx, occ_idx) — shuffles the full
    # link table (measured 330 MB shuffle read on the 607k-turn bench corpus);
    # this form's only occurrence-grain op is a map-side broadcast join.
    uri_map = (
        links.filter(F.col("chosen_uris") != "")
        .select("chosen_uris")
        .distinct()
        .select("chosen_uris", F.explode(F.split("chosen_uris", " ")).alias("uri"))
        .join(F.broadcast(canon), "uri", "left")
        .withColumn("c", F.coalesce("canonical", "uri"))
        .groupBy("chosen_uris")
        .agg(F.min("c").alias("entity"))
    )
    canon_chosen = (
        links.filter(F.col("chosen_uris") != "")
        .select("conv_id", "turn_idx", "occ_idx", "chosen_uris")
        .join(F.broadcast(uri_map), "chosen_uris")
        .select("conv_id", "turn_idx", "occ_idx", "entity")
    )
    lt_cols = [
        F.concat(F.lit("urn:mention:"), "conv_id", F.lit(":"), "turn_idx", F.lit(":"), "occ_idx").alias(
            "subj"
        ),
        F.lit(LINKS_TO).alias("pred"),
        F.col("entity").alias("obj"),
    ]
    if bucket_into is not None:
        lt_cols.append(F.pmod(F.hash("conv_id"), F.lit(bucket_into)).cast("int").alias("bucket"))
    link_triples = canon_chosen.select(*lt_cols)

    # link_triples are unique by construction (one row per groupBy key, subject
    # encodes the key) and their urn:mention: subjects are disjoint from KB
    # subjects; kb_canon is already distinct, and a semi-join keeps it so —
    # no dedupe, no full-output shuffle.
    entities = canon_chosen.select(F.col("entity").alias("subj")).distinct()
    passthrough = kb_canon.join(entities, "subj", "left_semi")
    if bucket_into is not None:
        passthrough = passthrough.withColumn(
            "bucket", F.pmod(F.hash("subj"), F.lit(bucket_into)).cast("int")
        ).repartition(bucket_into, F.col("bucket"))
    return link_triples.unionByName(passthrough)
