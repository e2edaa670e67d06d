"""Stage 3 configuration and the no-ambiguity links path.

The links stage itself runs in `grouped.py`: one task per conversation runs
the reference's in-memory paragraph algorithm (GraphHandlerNEL.java,
CentralityHandler.java:100-215), and `grouped.conversation_graphs` exposes that
kernel's fused and pruned graph to the contract. This module keeps

  * `NELConfig`, the surviving config.properties knobs;
  * `simple_links`, the links stage's no-ambiguity path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# unused here: perfbench/spans.py wraps this name for its links.shared_* metrics
from ..checkpointing import shared  # noqa: F401


@dataclass(frozen=True)
class NELConfig:
    """The subset of the reference's 16 config.properties knobs that survive the
    rebuild (config/config-authors-bnf.properties). `sameAsproperty` is not
    one of them: the links kernel, its KB slice and canonicalization all read
    owl:sameAs (``functions.text.SAME_AS``), the value every reference config
    ships."""

    base_prefix: str  # `baseURIs`
    preferred_uri: str  # `preferedURIOrder` ('ALL' or a prefix)
    # `centralityMeasure` (CentralityHandler.java:137-152); every shipped
    # reference config uses DegreeCentrality. The grouped kernel (grouped.py)
    # serves all four measures via oracle.centrality_scores.
    centrality: str = "DegreeCentrality"
    # `crawlSameAs` (GraphHandlerNEL.java:143-167): restrict sameAs expansion
    # to objects with this prefix; "ALL" = no restriction.
    crawl_sameas: str = "ALL"


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
