"""Stage 5 — gold evaluation: positional join + the seven Hachey-et-al. metrics.

Reimplements ResultsAndEvaluationNEL.compareResultsWithGold (:240-331, positional
mention pairing) and computeFinalResults (:393-557, metric definitions) verbatim:

  * pairing key = (conv_id, turn_idx, occ_idx) — the Spark restatement of the
    reference's strictly positional k-th-mention-under-i-th-context pairing;
  * correct-URI-in-candidate-set = case-INsensitive substring containment
    (:282 `uri.toLowerCase().contains(ref.toLowerCase())`);
  * choice-is-correct = case-SENSITIVE containment (:291 `ref_autoList.contains(ref)`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def eval_records(gold: DataFrame, links: DataFrame, candidates: DataFrame) -> DataFrame:
    """One row per gold mention occurrence with EvalInfo-shaped verdict columns
    (EvalInfo.java:11-57)."""
    cand_flags = (
        gold.select("conv_id", "mention", "gold_uri")
        .distinct()
        .join(candidates, ["conv_id", "mention"], "left")
        .groupBy("conv_id", "mention", "gold_uri")
        .agg(
            F.count("group_idx").alias("n_groups"),
            F.max(
                F.when(F.col("gold_uri").isNull() | F.col("uris").isNull(), F.lit(False)).otherwise(
                    F.exists("uris", lambda u: F.contains(F.lower(u), F.lower(F.col("gold_uri"))))
                )
            ).alias("correct_in_cand"),
        )
    )
    # flags is (conversation, mention, gold URI)-grain; the null-safe gold key
    # is still an equi-join key, so the hint turns the gold join into a
    # broadcast hash join instead of a sort-merge join on both sides
    flags = cand_flags.select(
        F.col("conv_id").alias("f_conv"),
        F.col("mention").alias("f_mention"),
        F.col("gold_uri").alias("f_gold"),
        "n_groups",
        "correct_in_cand",
    )
    return (
        gold.join(
            F.broadcast(flags),
            (F.col("conv_id") == F.col("f_conv"))
            & (F.col("mention") == F.col("f_mention"))
            & F.col("gold_uri").eqNullSafe(F.col("f_gold")),  # NIL rows must keep their flags
            "left",
        )
        .join(
            links.select("conv_id", "turn_idx", "occ_idx", F.col("chosen_uris")),
            ["conv_id", "turn_idx", "occ_idx"],
            "left",
        )
        .select(
            "conv_id",
            "turn_idx",
            "occ_idx",
            "mention",
            "gold_uri",
            F.coalesce("n_groups", F.lit(0)).alias("n_groups"),
            F.coalesce("correct_in_cand", F.lit(False)).alias("correct_in_cand"),
            "chosen_uris",
            (
                F.col("gold_uri").isNotNull()
                & F.col("chosen_uris").isNotNull()
                & F.contains(F.col("chosen_uris"), F.col("gold_uri"))
            ).alias("choice_correct"),
        )
    )


def eval_verdicts(records: DataFrame) -> DataFrame:
    """Per-mention verdict report — the -resEvalV3.txt sink
    (ResultsAndEvaluationNEL.java:282-318): 'Good choice' / 'Wrong choice'
    when a URI was chosen, 'Empty choice' when REDEN chose nothing
    (emptyChoice counter, :308), 'No manual annotation' when the gold ref is
    absent (:313), plus the 'right referent in candidate set but the wrong
    one chosen' flag printed unconditionally at :316-318."""
    verdict = (
        F.when(F.col("gold_uri").isNull(), F.lit("No manual annotation"))
        .when(F.col("chosen_uris").isNull(), F.lit("Empty choice"))
        .when(F.col("choice_correct"), F.lit("Good choice"))
        .otherwise(F.lit("Wrong choice"))
    )
    return records.select(
        "conv_id",
        "turn_idx",
        "occ_idx",
        "mention",
        verdict.alias("verdict"),
        (F.col("correct_in_cand") & ~F.col("choice_correct")).alias("right_in_cand_but_wrong"),
    )


def hachey_metrics(records: DataFrame) -> DataFrame:
    """Single-row metrics frame — computeFinalResults (:393-557) definitions.

    Ratios are null when the reference would divide by zero. The aggregates
    are SQL text in one ``selectExpr``: built as ``Column`` chains they cost
    about a thousand py4j round trips per call.
    """

    def count_if(cond: str) -> str:
        return f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END)"

    def ratio(num: str, den: str) -> str:
        return f"CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / {den} END"

    c = "count(*)"
    manual = count_if("gold_uri IS NOT NULL")
    nil = count_if("gold_uri IS NULL")
    non_empty = count_if("n_groups > 0")
    empty = count_if("n_groups = 0")
    cand_sizes = "sum(CASE WHEN n_groups > 0 THEN n_groups ELSE 0 END)"
    ne_correct_there = count_if("n_groups > 0 AND correct_in_cand")
    man_correct_there = count_if("gold_uri IS NOT NULL AND correct_in_cand")
    empty_nil = count_if("n_groups = 0 AND gold_uri IS NULL")
    disamb_base = count_if("n_groups > 1 AND correct_in_cand")
    disamb_correct = count_if("n_groups > 1 AND correct_in_cand AND choice_correct")
    linked_ok = count_if("gold_uri IS NOT NULL AND choice_correct")
    nil_ok = count_if("n_groups = 0 AND gold_uri IS NULL AND chosen_uris IS NULL")
    return records.selectExpr(
        f"{c} AS nb_mentions",
        f"{manual} AS nb_manual",
        f"{nil} AS nb_nil",
        f"{ratio(cand_sizes, c)} AS candidate_cardinality_mean",
        f"{ratio(ne_correct_there, non_empty)} AS candidate_precision",
        f"{ratio(man_correct_there, manual)} AS candidate_recall",
        f"{ratio(empty_nil, empty)} AS nil_precision",
        f"{ratio(empty_nil, nil)} AS nil_recall",
        f"{ratio(disamb_correct, disamb_base)} AS disambiguation_accuracy",
        f"{ratio(f'({linked_ok} + {nil_ok})', c)} AS overall_linking_accuracy",
    )


def link_precision_recall(result_links: DataFrame, expected_links: DataFrame) -> DataFrame:
    """Triple-parity P/R between two link sets on the positional key, using the
    reference's containment semantics (chosen contains expected). Used for the
    pipeline-vs-oracle parity gate (BASELINE.md metric 1)."""
    key = ["conv_id", "turn_idx", "occ_idx"]
    r = result_links.select(*key, F.col("chosen_uris").alias("got"))
    e = expected_links.select(*key, F.col("chosen_uris").alias("want"))
    joined = r.join(e, key, "full")
    return joined.agg(
        F.sum(F.when(F.col("got").isNotNull(), 1).otherwise(0)).alias("n_result"),
        F.sum(F.when(F.col("want").isNotNull(), 1).otherwise(0)).alias("n_expected"),
        F.sum(
            F.when(
                F.col("got").isNotNull() & F.col("want").isNotNull() & (F.col("got") == F.col("want")),
                1,
            ).otherwise(0)
        ).alias("n_match"),
    ).select(
        "n_result",
        "n_expected",
        "n_match",
        (F.col("n_match") / F.col("n_result")).alias("precision"),
        (F.col("n_match") / F.col("n_expected")).alias("recall"),
    )
