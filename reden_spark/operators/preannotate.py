"""Offline restatement of SemiAutomaticTEIAnnotation — dictionary-driven
pre-annotation of already-annotated (gold) mentions.

The reference walks a gold TEI file and, for every mention that already
carries a `ref` URI, asks the sameas.org API for equivalent URIs in a target
base KB, storing them in a `ref_new` attribute
(/root/reference/src/fr/lip6/reden/extra/SemiAutomaticTEIAnnotation.java:44-110).
Network-bound dev tooling; the rebuild derives the same equivalences OFFLINE
from data it already has: the owl:sameAs closure over kb_edges plus dictionary
group co-membership, i.e. the KB's canonical map (`KBArtifacts.canon`, the
one canonicalization uses), restated per gold row as a relational join — no
per-row calls, no network.

Semantics: ref_new = space-joined, lexicographically sorted set of URIs in the
gold URI's equivalence class (including the gold URI itself) that contain the
target base prefix; NULL when the class has no URI in that base (the reference
leaves the attribute unset when sameas.org returns nothing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GOLD_KEY = ["conv_id", "turn_idx", "occ_idx", "mention", "gold_uri"]


def preannotate(gold: DataFrame, canon: DataFrame, base: str) -> DataFrame:
    """gold(conv_id, turn_idx, occ_idx, mention, gold_uri) + the owl:sameAs
    canonical map (uri, canonical) -> + ref_new (nullable string)."""
    with_c = (
        gold.join(canon.withColumnRenamed("uri", "gold_uri"), "gold_uri", "left")
        .withColumn("comp", F.coalesce("canonical", "gold_uri"))
        .drop("canonical")
    )
    members = canon.select(F.col("canonical").alias("comp"), "uri")
    agg = (
        with_c.join(members, "comp", "left")
        .groupBy(*GOLD_KEY)
        .agg(F.collect_set("uri").alias("eq_raw"))
        # the gold URI is a member of its own class even when isolated
        .withColumn("eq_all", F.array_union("eq_raw", F.array(F.col("gold_uri"))))
        .withColumn(
            "eq", F.sort_array(F.filter("eq_all", lambda x: x.contains(F.lit(base))))
        )
    )
    return agg.select(
        *GOLD_KEY,
        F.when(F.size("eq") > 0, F.concat_ws(" ", "eq")).alias("ref_new"),
    )
