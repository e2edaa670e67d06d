import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from reden_spark import datagen  # noqa: E402
from reden_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("reden-tests", master="local[4]", extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck_config(tmp_path_factory):
    """Settings for the DuckDB oracle connections. DuckDB's defaults spill to
    `.tmp` in the working directory and size the memory limit from host RAM;
    explicit bounds keep a runaway oracle plan a loud error on any host."""
    return {
        "temp_directory": str(tmp_path_factory.mktemp("duckdb_tmp")),
        "max_temp_directory_size": "4GB",
        "memory_limit": "2GB",
    }


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixtures") / "small"
    datagen.generate(out, n_convs=24, mean_turns=10, skew_factor=5)
    return out


@pytest.fixture(scope="session")
def bucketed_fixture_dir(spark, fixture_dir, tmp_path_factory):
    """A copy of the fixture whose transcripts are a conv_id-bucketed table
    with 8 buckets (the production ingest layout, which dictates the
    pipeline's bucket count)."""
    import shutil

    from reden_spark.sources import storage

    out = tmp_path_factory.mktemp("fixtures") / "bucketed"
    shutil.copytree(fixture_dir, out)
    df = spark.read.parquet(str(out / "transcripts.parquet"))
    storage.write_stage(df, out, "transcripts.tmp", spark_bucketed=("conv_id", 8))
    src = out / "transcripts.parquet"
    shutil.rmtree(src) if src.is_dir() else src.unlink()
    (out / "transcripts.tmp").rename(src)
    return out


@pytest.fixture(scope="session")
def tables(spark, fixture_dir):
    def load(name):
        return spark.read.parquet(str(fixture_dir / f"{name}.parquet"))

    return {
        name: load(name)
        for name in [
            "transcripts",
            "dico",
            "mention_terms",
            "kb_edges",
            "rel_weights",
            "gold_links",
            "kb_persons",
        ]
    }


@pytest.fixture(scope="session")
def kb(tables):
    """The fixture's KB artifacts, built as the pipeline builds them."""
    from reden_spark.operators.kb import build_kb

    return build_kb(tables["mention_terms"], tables["dico"], tables["kb_edges"], tables["rel_weights"])


@pytest.fixture(scope="session")
def py_tables(fixture_dir):
    import pyarrow.parquet as pq

    def load(name):
        return pq.read_table(str(fixture_dir / f"{name}.parquet")).to_pylist()

    return {
        name: load(name)
        for name in [
            "transcripts",
            "dico",
            "mention_terms",
            "kb_edges",
            "rel_weights",
            "gold_links",
        ]
    }


@pytest.fixture(scope="session")
def oracle_links(py_tables):
    from reden_spark import oracle

    return oracle.run_oracle(
        py_tables["transcripts"],
        py_tables["dico"],
        [r["term"] for r in py_tables["mention_terms"]],
        [(r["subj"], r["pred"], r["obj"]) for r in py_tables["kb_edges"]],
        [(r["pred"], r["weight"]) for r in py_tables["rel_weights"]],
        datagen.BASE_PREFIX,
        datagen.BASE_PREFIX,
    )
