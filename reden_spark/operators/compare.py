"""Result-analysis extras (reference `extra/` package):

* score recovery and paired significance statistics between two runs'
  scores (SignificanceTesting.java:23-113);
* KB population completeness: gold URIs covered by the crawled KB/dico
  (CalculatePopulationCompletenessLD.java:37-452, ...UsingDico.java:30-199).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import extract_score


def scores_from_annotations(annotated: DataFrame) -> DataFrame:
    """Recover numeric scores from 'uri(0.123)'-style `ref_auto` annotations
    (SignificanceTesting.prepareData, SignificanceTesting.java:74-92)."""
    return annotated.withColumn("score", extract_score("ref_auto"))


def paired_t_test(paired: DataFrame) -> DataFrame:
    """Paired t statistic over (score_a, score_b) pairs — the reference
    prepares exactly these pairs and defers `t.test(paired=TRUE)` to an R
    snippet (SignificanceTesting.java:23-113, R code at :42-52); the rebuild
    computes the statistic in-engine. One row: (n, mean_diff, sd_diff, t_stat)."""
    d = paired.select((F.col("score_a") - F.col("score_b")).alias("d"))
    return (
        d.agg(
            # count(d), not count(*): avg/stddev skip null pairs, so n must
            # count the same sample or a null score inflates sqrt(n) in t_stat
            F.count("d").alias("n"),
            F.round(F.avg("d"), 9).alias("mean_diff"),
            F.round(F.stddev_samp("d"), 9).alias("sd_diff"),
        )
        .select(
            "n",
            "mean_diff",
            "sd_diff",
            F.round(F.col("mean_diff") / (F.col("sd_diff") / F.sqrt(F.col("n"))), 6).alias(
                "t_stat"
            ),
        )
    )


def wilcoxon_signed_rank(paired: DataFrame) -> DataFrame:
    """Wilcoxon signed-rank W+ (non-parametric twin of the paired t): zero
    differences dropped, ties share the average rank, W+ = sum of ranks where
    score_a > score_b. The global rank runs in one partition — analysis-grade,
    like the reference's offline R step, over diagnostic-grain rows."""
    d = paired.select((F.col("score_a") - F.col("score_b")).alias("d")).filter(F.col("d") != 0)
    ranked = d.withColumn("abs_d", F.abs("d")).withColumn(
        "rn", F.row_number().over(Window.orderBy("abs_d")).cast("double")
    )
    avg_ranked = ranked.withColumn("arank", F.avg("rn").over(Window.partitionBy("abs_d")))
    return avg_ranked.agg(
        F.count("*").alias("n_nonzero"),
        F.round(F.sum(F.when(F.col("d") > 0, F.col("arank")).otherwise(0.0)), 6).alias("w_plus"),
    )


def population_completeness(gold: DataFrame, kb_uris: DataFrame) -> DataFrame:
    """Share of gold entities present in the crawled KB/dictionary
    (left-semi join + counts)."""
    g = gold.filter(F.col("gold_uri").isNotNull()).select("gold_uri").distinct()
    covered = g.join(kb_uris.select(F.col("uri").alias("gold_uri")).distinct(), "gold_uri", "left_semi")
    return g.agg(F.count("*").alias("n_gold_entities")).crossJoin(
        covered.agg(F.count("*").alias("n_covered"))
    ).select(
        "n_gold_entities",
        "n_covered",
        (F.col("n_covered") / F.col("n_gold_entities")).alias("completeness"),
    )
