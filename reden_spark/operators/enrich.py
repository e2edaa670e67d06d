"""Visualization/enrichment mode (reference §3.3): occurrence counting and
property assignment from the KB (the reference's GeoJSON sink is not rebuilt).

Maps EnrichmentHandler.readTEI (EnrichmentHandler.java:51-94),
GeodataGeneration.assignGeoCoordinates (GeodataGeneration.java:32-72 — first
non-null of the configured lat/long property lists) and
AuthorsEnrichment.assignAuthorsPropValue (AuthorsEnrichment.java:29-75).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def occurrence_counts(links: DataFrame) -> DataFrame:
    """URI -> times linked in the corpus (EnrichmentHandler.readTEI :80-94)."""
    return (
        links.filter(F.col("chosen_uris").isNotNull() & (F.col("chosen_uris") != ""))
        .select(F.explode(F.split("chosen_uris", " ")).alias("uri"))
        .groupBy("uri")
        .agg(F.count("*").alias("occurrences"))
    )


def assign_property(
    entities: DataFrame,
    kb_edges: DataFrame,
    props: list[str],
    out_col: str,
    prefer_prefix: str | None = None,
) -> DataFrame:
    """First non-null value among an ordered property list per entity
    (GeodataGeneration.java:53-55 semantics: property priority order).

    ``prefer_prefix`` reproduces the `base` filter of
    EnrichmentHandler.getValFromProperty (EnrichmentHandler.java:162-187):
    within one property, a value starting with the prefix wins; with no
    matching value the reference returns whatever statement Jena iterated
    last (unspecified order) — the rebuild's decided deterministic semantic
    is min(value), matching-prefix values first."""
    out = entities
    kb = kb_edges.select("subj", "pred", "obj")
    for i, prop in enumerate(props):
        vals = kb.filter(F.col("pred") == prop)
        if prefer_prefix is not None:
            agg = F.min(
                F.struct(
                    (~F.col("obj").startswith(prefer_prefix)).alias("nomatch"), F.col("obj")
                )
            )["obj"]
        else:
            agg = F.min("obj")
        vals = vals.groupBy("subj").agg(agg.alias(f"_v{i}")).withColumnRenamed("subj", "uri")
        out = out.join(vals, "uri", "left")
    return out.withColumn(
        out_col, F.coalesce(*[F.col(f"_v{i}") for i in range(len(props))])
    ).drop(*[f"_v{i}" for i in range(len(props))])


COMMONS_PREFIX = "http://commons.wikimedia.org"


def author_enrichment(
    entities: DataFrame,
    kb_edges: DataFrame,
    pic_props: list[str],
    dom_props: list[str],
) -> DataFrame:
    """persName enrichment (AuthorsEnrichment.assignAuthorsPropValue,
    AuthorsEnrichment.java:29-75): depiction from `picProperties` priority
    list restricted to commons.wikimedia values, field of activity from
    `domaineProperties` with no base filter."""
    out = assign_property(entities, kb_edges, pic_props, "depiction", prefer_prefix=COMMONS_PREFIX)
    return assign_property(out, kb_edges, dom_props, "field_of_activity")


# entity_pmi keeps a pair co-occurring in at least this many conversations
MIN_PAIRS = 2


def entity_pmi(links: DataFrame) -> DataFrame:
    """Entity co-occurrence PMI over conversations — the KG analytics twin of
    occurrence_counts: for every pair of linked URIs that co-occur in at
    least `MIN_PAIRS` conversations, pointwise mutual information
    pmi = ln(n_ab * N / (n_a * n_b)) where n_x = conversations containing x
    and N = conversations containing any link. This is the edge-weighting a
    co-occurrence network / embedding pretraining step consumes downstream
    of the linking pipeline. Returns (uri_a, uri_b, n_ab, n_a, n_b, pmi)
    with uri_a < uri_b and pmi rounded to 6 decimals.

    Scale shape: the per-conversation distinct entity set is conversation-
    bounded (tens, not millions), so the within-conv self-join is one shuffle
    keyed on conv_id with small groups; pair counting is one more keyed
    shuffle at pair grain, pre-thinned by MIN_PAIRS. Marginals are
    entity-vocabulary-grain (broadcastable); N enters the plan as a broadcast
    1-row frame, never a driver constant. No UDF; all codegen.
    """
    ents = (
        links.filter(F.col("chosen_uris").isNotNull() & (F.col("chosen_uris") != ""))
        .select("conv_id", F.explode(F.split("chosen_uris", " ")).alias("uri"))
        .distinct()
    )
    a, b = ents.alias("a"), ents.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.conv_id") == F.col("b.conv_id")) & (F.col("a.uri") < F.col("b.uri")),
        )
        .groupBy(F.col("a.uri").alias("uri_a"), F.col("b.uri").alias("uri_b"))
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIRS)
    )
    marg = ents.groupBy("uri").agg(F.count("*").alias("n"))
    n_convs = ents.agg(F.countDistinct("conv_id").alias("n_convs"))
    out = (
        pairs.join(
            marg.select(F.col("uri").alias("uri_a"), F.col("n").alias("n_a")), "uri_a"
        )
        .join(marg.select(F.col("uri").alias("uri_b"), F.col("n").alias("n_b")), "uri_b")
        .crossJoin(F.broadcast(n_convs))
    )
    return out.select(
        "uri_a",
        "uri_b",
        F.col("n_ab").cast("long").alias("n_ab"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(
            F.log(
                F.col("n_ab").cast("double")
                * F.col("n_convs")
                / (F.col("n_a") * F.col("n_b"))
            ),
            6,
        ).alias("pmi"),
    )
