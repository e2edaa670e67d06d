"""Stage 2 — candidate generation + ambiguity gate.

The workhorse lookup join of the reference
(DicoProcessingNEL.retrieveMentionsURIsFromDicoWithIndex, DicoProcessingNEL.java:
144-183): normalized mention = normalized dictionary alias, one candidate group per
distinct `uris` payload. The Lucene index (:192-339) is replaced by a broadcast
hash join on `alias_norm` — the dictionary is the small side; at extreme dictionary
sizes flip to a shuffle join by raising/removing the broadcast hint.

Group ordering is deterministic (sorted by uris array — oracle divergence D1);
group dedup by full-array equality mirrors DicoProcessingNEL.java:163-175.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import normalize_mention


def dico_groups(dico: DataFrame) -> DataFrame:
    """dico -> (alias_norm, uris, group_idx): each alias's distinct candidate
    groups in their deterministic order.

    Group dedup by full-array equality (DicoProcessingNEL.java:163-175) and the
    group order (ORDER BY uris — oracle D1) depend only on `alias_norm`, so
    they are a dictionary-grain window, built once per knowledge base
    (``operators/kb.py``) rather than per delta."""
    from pyspark.sql import Window

    wd = Window.partitionBy("alias_norm").orderBy("uris")
    return (
        dico.select("alias_norm", "uris")
        .distinct()
        .withColumn("group_idx", (F.row_number().over(wd) - 1).cast("int"))
    )


def generate_candidates(mentions: DataFrame, groups: DataFrame) -> DataFrame:
    """distinct (conv_id, mention) x :func:`dico_groups` -> CANDIDATES
    (conv_id, mention, group_idx, uris).

    The mention side is distinct + broadcast-join, nothing else: the group
    dedup and order come precomputed with ``groups``. The earlier
    per-(conv_id, mention) `collect_set(uris)` computed the same thing at
    occurrence grain through an ObjectHashAggregate (array-typed aggregation
    buffers leave whole-stage codegen); its allocation traffic was the
    worst-scaling block of the pipeline on the event-log profile (task CPU
    x6.3 from 8 to 32 cores on one socket).
    """
    probe = (
        mentions.select("conv_id", "mention")
        .distinct()
        .withColumn("alias_norm", normalize_mention("mention"))
    )
    return probe.join(F.broadcast(groups), "alias_norm", "inner").select(
        "conv_id", "mention", "group_idx", "uris"
    )


def dico_regex_lookup(dico: DataFrame, pattern: str) -> DataFrame:
    """Regexp dictionary probe — the Lucene RegexpQuery path
    (DicoProcessingNEL.searchIndexWithRegexp, DicoProcessingNEL.java:349-378):
    a predicate-pushdown filter instead of an index scan."""
    return dico.filter(F.col("alias_norm").rlike(pattern)).select("alias", "alias_norm", "uris")


def conversation_cases(mentions: DataFrame, candidates: DataFrame) -> DataFrame:
    """Per-conversation routing — checkConditionsToNEL (MainNELApp.java:418-442).

    Returns (conv_id, case) with case in {'Ok','NoAmbiguity'}; conversations with
    zero detected mentions never appear in `mentions` (the NoMentionsAnnotated
    case produces no rows downstream by construction).
    """
    # distinct first: the gate only depends on which mention strings occur in
    # the conversation, so shrink the occurrence table before the join
    n_groups = candidates.groupBy("conv_id", "mention").agg(F.count("*").alias("n_groups"))
    return (
        mentions.select("conv_id", "mention")
        .distinct()
        .join(n_groups, ["conv_id", "mention"], "left")
        .groupBy("conv_id")
        .agg(F.max(F.coalesce(F.col("n_groups"), F.lit(0))).alias("max_groups"))
        .select(
            "conv_id",
            F.when(F.col("max_groups") > 1, F.lit("Ok")).otherwise(F.lit("NoAmbiguity")).alias("case"),
        )
    )
