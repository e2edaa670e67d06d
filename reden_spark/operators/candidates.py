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


def generate_candidates(mentions: DataFrame, dico: DataFrame) -> DataFrame:
    """distinct (conv_id, mention) x dico -> CANDIDATES (conv_id, mention, group_idx, uris).

    One shuffle total — and it is the *only* non-map operation: group dedup by
    full-array equality (DicoProcessingNEL.java:163-175) and the deterministic
    group order (ORDER BY uris — oracle D1) depend only on `alias_norm`, so
    both are precomputed on the dictionary side (dico-grain window, tiny)
    before the broadcast; the mention side is then distinct + broadcast-join,
    nothing else. The earlier per-(conv_id, mention) `collect_set(uris)`
    computed the same thing at occurrence grain through an
    ObjectHashAggregate (array-typed aggregation buffers leave whole-stage
    codegen); its allocation traffic was the worst-scaling block of the
    pipeline on the event-log profile (task CPU x6.3 from 8 to 32 cores on
    one socket).
    """
    from pyspark.sql import Window

    probe = (
        mentions.select("conv_id", "mention")
        .distinct()
        .withColumn("alias_norm", normalize_mention("mention"))
    )
    wd = Window.partitionBy("alias_norm").orderBy("uris")
    d = (
        dico.select("alias_norm", "uris")
        .distinct()
        .withColumn("group_idx", (F.row_number().over(wd) - 1).cast("int"))
    )
    return probe.join(F.broadcast(d), "alias_norm", "inner").select("conv_id", "mention", "group_idx", "uris")


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
