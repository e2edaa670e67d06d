"""Annotated-output sink + diagnostics (reference ResultsAndEvaluationNEL).

The reference's final product is the input TEI with a `ref_auto` attribute set
on every linked mention node, optionally suffixed with the centrality score
(`produceResults`, ResultsAndEvaluationNEL.java:67-128, score suffix :86-91;
unambiguous path `produceResultsSimple` :138-190), plus diagnostics dumps
(relation frequency, :371-387). Here the "document" is a conversation, so the
annotated artifact is (a) the per-occurrence annotation table and (b) the
reconstructed per-turn text with inline [ref] markers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def annotate_links(links: DataFrame) -> DataFrame:
    """Per-occurrence `ref_auto` values: the chosen URIs with the reference's
    `uri(score)` suffix (produceResults :86-91, the `addScores=true` form; the
    simple path has no score, so its suffix is never added)."""
    ref = F.when(
        F.col("score").isNotNull(),
        F.concat(F.col("chosen_uris"), F.lit("("), F.col("score").cast("string"), F.lit(")")),
    ).otherwise(F.col("chosen_uris"))
    return links.select(
        "conv_id", "turn_idx", "occ_idx", "mention", ref.alias("ref_auto")
    )


def annotate_turns(transcripts: DataFrame, mentions: DataFrame, links: DataFrame) -> DataFrame:
    """Reconstruct each turn's text with `[ref_auto]` inserted after every
    linked mention — the transcript analogue of writing `-outV3.xml`.

    Pure SQL: collect this turn's (start_pos, mention, ref) annotations, sort by
    start_pos DESCENDING, then fold right-to-left with `aggregate` so earlier
    insertions never shift later offsets. Map-side after one (conv,turn) shuffle.
    """
    ann = (
        mentions.join(links, ["conv_id", "turn_idx", "occ_idx", "mention"], "inner")
        .filter(F.col("chosen_uris").isNotNull() & (F.col("chosen_uris") != ""))
        .select(
            "conv_id",
            "turn_idx",
            F.struct(
                F.col("start_pos"),
                (F.col("start_pos") + F.length("mention")).alias("end_pos"),
                F.col("chosen_uris").alias("ref"),
            ).alias("a"),
        )
        .groupBy("conv_id", "turn_idx")
        .agg(F.reverse(F.array_sort(F.collect_list("a"))).alias("anns"))
    )
    annotated = F.expr(
        "aggregate(anns, text, (acc, a) -> concat(substring(acc, 1, a.end_pos), "
        "'[', a.ref, ']', substring(acc, a.end_pos + 1, length(acc))))"
    )
    return (
        transcripts.join(ann, ["conv_id", "turn_idx"], "left")
        .select(
            "conv_id",
            "turn_idx",
            F.when(F.col("anns").isNotNull(), annotated).otherwise(F.col("text")).alias("annotated_text"),
        )
    )


def relation_frequency(edges: DataFrame) -> DataFrame:
    """Global predicate frequency across fused conversation graphs — the
    edgeFrequenceByLabel accumulator (CentralityHandler.java:126-134) printed by
    printRelationFrequency (:371-387), as a distributed aggregation."""
    return edges.groupBy("pred").agg(F.count("*").alias("n_edges"))
