"""Stage checkpoint storage with manifests + per-partition lineage counters.

North-rule requirements: every pipeline stage checkpoints to a table snapshot,
carries per-partition lineage counters, and the pipeline is resumable from any
stage. The reference's analogue is its skip-if-file-exists shard memoization
(QueryAuthorBNF.java:60-66) and the per-URI N3 disk cache
(GraphHandlerNEL.java:351-384) — done properly here: an atomic manifest written
AFTER the data makes a half-written stage invisible to resume. Both pipelines
run their stages through one runner, :class:`Stages`: skip a checkpointed
stage, else compute and write it under its job group and read it back.

Storage backend: plain parquet checkpoints whose layout (hive `bucket=N`
partitions, JSON manifest with schema + per-partition lineage) is the
snapshot/metadata subset an Iceberg hadoop-catalog deployment would provide
natively (SURVEY.md §7 hazard 7); all reads/writes go through this module so a
deployment can swap the backend in one place.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_reden_manifest.json"

# the `_NNNNN` bucket-id suffix of a Spark bucketed-table data file
_BUCKET_FILE_RE = re.compile(r"_(\d{5})(?:\.c\d+)?$")


def _lineage_from_footers(out: Path) -> list[dict]:
    """Per-partition row counters read from parquet footers — zero Spark jobs.
    Buckets appear as hive-style `bucket=N` directories or as the `_NNNNN`
    suffix of Spark bucketed-table files; unbucketed tables get one counter
    per file."""
    import pyarrow.parquet as pq

    counts: dict[str, int] = {}
    for f in sorted(out.rglob("*.parquet")):
        part = "all"
        for seg in f.relative_to(out).parts:
            if "=" in seg:
                part = seg.split("=", 1)[1]
                break
        else:
            m = _BUCKET_FILE_RE.search(f.stem.split(".")[0])
            if m:
                part = str(int(m.group(1)))  # Spark bucketed-table file suffix
            else:
                part = f.stem.split("-")[1][:8] if "-" in f.stem else f.stem
        counts[part] = counts.get(part, 0) + pq.ParquetFile(str(f)).metadata.num_rows
    return [{"part": p, "rows": n} for p, n in sorted(counts.items())]


def _ckpt_table_name(out_dir: str | Path, name: str) -> str:
    """Session-catalog identifier for a Spark-bucketed checkpoint table —
    unique per (out_dir, stage) so concurrent pipelines in one session never
    collide."""
    import hashlib

    h = hashlib.md5(str(Path(out_dir).resolve()).encode()).hexdigest()[:8]
    return f"reden_ckpt_{re.sub(r'[^A-Za-z0-9_]', '_', name)}_{h}"


def write_stage(
    df: DataFrame,
    out_dir: str | Path,
    name: str,
    spark_bucketed: tuple[str, int] | None = None,
    pre_shuffle: bool = True,
    prebucketed: bool = False,
) -> dict:
    """Write a stage table + manifest. Three layouts:

    * plain parquet (the default).
    * ``prebucketed`` — hive-style ``bucket=N`` dirs, the queryable-product
      layout (readers prune by directory). The caller already attached a
      ``bucket`` column AND arranged physical clustering (e.g. the frame
      inherits a bucketed scan's partitioning), so the write needs no
      shuffle — each task holds few distinct bucket values and the
      partitioned write stays at ~1 file/task.
    * ``spark_bucketed=(col, n)`` — a Spark-native bucketed TABLE (`bucketBy` +
      `saveAsTable`; the manifest records the pair under the same key, and
      `read_stage` re-registers the table from it). The checkpoint layout
      for turn-grain stages: a later `read_stage` scan reports
      HashPartitioning(col, n), so downstream groupBys and joins whose keys
      contain `col` elide their Exchange entirely — stage boundaries REUSE
      the partitioning instead of re-shuffling (the round-2 scaling
      bottleneck: 237+310 MB of turn-grain shuffle). ``pre_shuffle``
      repartitions to one-file-per-bucket first; pass False when the frame
      is already hash(col, n)-partitioned (the write is then shuffle-free —
      Spark's bucket id is pmod(Murmur3, n), exactly the partitioning an
      upstream bucketed join/scan produced).
    """
    out = Path(out_dir) / name
    if spark_bucketed is not None:
        col, n = spark_bucketed
        spark = df.sparkSession
        tname = _ckpt_table_name(out_dir, name)
        writer_df = df
        if pre_shuffle:
            writer_df = df.repartition(n, F.col(col))
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        (
            writer_df.write.mode("overwrite")
            .option("compression", "zstd")
            .option("path", str(out))
            .bucketBy(n, col)
            .saveAsTable(tname)
        )
    else:
        # zstd: ~35% smaller stage files than snappy; compression CPU is parallel
        # across tasks while sink bandwidth is the scarce resource
        w = df.write.mode("overwrite").option("compression", "zstd")
        if prebucketed:
            if "bucket" not in df.columns:
                raise ValueError(f"stage '{name}': prebucketed write needs a 'bucket' column")
            w = w.partitionBy("bucket")
        w.parquet(str(out))

    lineage = _lineage_from_footers(out)
    manifest = {
        "stage": name,
        "rows": sum(p["rows"] for p in lineage),  # footer metadata: no extra Spark job
        "schema": df.schema.jsonValue(),
        "lineage": lineage,
        "written_at": time.time(),
        "format": "parquet",
        "bucketed": prebucketed,
    }
    if spark_bucketed is not None:
        manifest["spark_bucketed"] = {"col": col, "n": n}
    # atomic: a crash mid-write must not leave a parseable-looking manifest
    # that stage_exists() would treat as a complete checkpoint forever
    tmp = out / (MANIFEST + ".tmp")
    tmp.write_text(json.dumps(manifest))
    os.replace(tmp, out / MANIFEST)
    return manifest


def stage_exists(out_dir: str | Path, name: str) -> bool:
    return (Path(out_dir) / name / MANIFEST).exists()


def footer_schema(data_file: str | Path) -> StructType:
    """The Spark schema of a parquet file, from its footer alone: the schema
    Spark recorded when it wrote the file, else the Arrow schema converted the
    way Spark infers it (a timestamp without a time zone is TIMESTAMP_NTZ).
    Reading with it spares Spark its schema-inference job."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    arrow = pq.read_schema(str(data_file))
    written = (arrow.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if written:
        return StructType.fromJson(json.loads(written))
    return from_arrow_schema(arrow, prefer_timestamp_ntz=True)


def data_files(table: Path) -> list[Path]:
    """A parquet table's data files: the path itself, or the files under it
    that Spark reads (none of whose path parts starts with '_' or '.')."""
    if table.is_file():
        return [table]
    files = sorted(
        f
        for f in table.rglob("*")
        if f.is_file() and not any(p.startswith(("_", ".")) for p in f.relative_to(table).parts)
    )
    if not files:
        raise FileNotFoundError(f"no parquet data file at {table}")
    return files


def read_input(spark: SparkSession, data_dir: str | Path, name: str) -> DataFrame:
    """The input table ``<data_dir>/<name>.parquet``, read without a
    schema-inference job. A table shipped with a storage manifest (e.g.
    transcripts rewritten as a conv_id-bucketed table, the parquet stand-in
    for an Iceberg bucket(conv_id) partition transform at ingest) is read
    through :func:`read_stage`, so its partitioning reaches the planner; any
    other with its footer's schema."""
    data = Path(data_dir)
    if stage_exists(data, f"{name}.parquet"):
        return read_stage(spark, data, f"{name}.parquet")
    path = data / f"{name}.parquet"
    return spark.read.schema(footer_schema(data_files(path)[0])).parquet(str(path))


def read_stage(spark: SparkSession, out_dir: str | Path, name: str) -> DataFrame:
    """A stage table, read with the schema its manifest recorded (Spark runs no
    schema-inference job). A missing or unreadable manifest raises: every
    caller reads a stage whose manifest exists, and the manifest write is
    atomic."""
    manifest = read_manifest(out_dir, name)
    schema = StructType.fromJson(manifest["schema"])
    sb = manifest.get("spark_bucketed")
    if sb:
        # Re-register the bucketed table from the manifest (the in-memory
        # session catalog does not survive restarts — resume runs recreate the
        # metadata over the existing files) and scan THROUGH the catalog so the
        # plan carries HashPartitioning(col, n): downstream ops keyed on the
        # bucket column skip their Exchange.
        tname = _ckpt_table_name(out_dir, name)
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields)
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        spark.sql(
            f"CREATE TABLE {tname} ({cols}) USING parquet "
            f"CLUSTERED BY ({sb['col']}) INTO {sb['n']} BUCKETS "
            f"LOCATION '{Path(out_dir).resolve() / name}'"
        )
        return spark.table(tname)
    df = spark.read.schema(schema).parquet(str(Path(out_dir) / name))
    # drop the synthetic partition column only when THIS module added it: a
    # manifest that recorded an unbucketed write means user data owns the
    # column.
    if manifest["bucketed"]:
        df = df.drop("bucket")
    return df


def read_manifest(out_dir: str | Path, name: str) -> dict:
    return json.loads((Path(out_dir) / name / MANIFEST).read_text())


def invalidate_from(out_dir: str | Path, names: list[str]) -> None:
    """Drop manifests of the given stages so resume recomputes them."""
    for n in names:
        m = Path(out_dir) / n / MANIFEST
        if m.exists():
            m.unlink()


class Stages:
    """Runs a pipeline's checkpointed stages, the one place both pipelines do.

    ``run`` reads a stage whose manifest exists; otherwise it computes and
    writes the stage under job group ``<prefix><name>`` (``reden-mentions``,
    ``reden-cur-pairs``) and reads it back once the group is cleared.
    ``group`` tags and times any other step (the KG pipeline's KB lookup,
    ``reden-kb``). Stages from ``from_stage`` on lose their manifests first,
    so they recompute; ``close`` writes ``_timings.json``, the seconds of
    each timed step of this run."""

    def __init__(
        self, spark: SparkSession, out_dir: str | Path, names: list[str], prefix: str, from_stage: str | None
    ) -> None:
        self.spark, self.out, self.prefix = spark, Path(out_dir), prefix
        self.timings: dict[str, float] = {}
        self.out.mkdir(parents=True, exist_ok=True)
        if from_stage is not None:
            invalidate_from(self.out, names[names.index(from_stage):])

    @contextmanager
    def group(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{self.prefix}{name}", f"{self.prefix}{name}")
        t0 = time.time()
        try:
            yield
        finally:
            sc.setJobGroup("", "")
        self.timings[name] = time.time() - t0

    def run(self, name: str, compute: Callable[[], DataFrame], **write_opts) -> DataFrame:
        if not stage_exists(self.out, name):
            with self.group(name):
                write_stage(compute(), self.out, name, **write_opts)
        return read_stage(self.spark, self.out, name)

    def close(self) -> None:
        if self.timings:
            (self.out / "_timings.json").write_text(json.dumps(self.timings))
