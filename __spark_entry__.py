"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: the full KG-construction pipeline (mention detection ->
candidate join -> per-conversation graph disambiguation -> links) over a
transcripts table derived deterministically from sf0.001 events+nation.

queries()/oracle_sql() — 36 rows in one registry, each with an exact DuckDB
oracle (reden_spark/driver_contract.py), within the contract's 50-row oracle
budget: the KG pipeline's stages and its annotate, enrichment,
evaluation and dictionary-build modes; REDEN's run comparison (significance
tests) and date-specific lifespan rule; and the curation pipeline's operators
with the chained curation_pipeline recipe.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from reden_spark.driver_contract import ORACLES, QUERIES, q_kg_links  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_kg_links(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
