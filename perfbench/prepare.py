"""Seeded, cached input generation for the benchmark workloads.

Every input derives from ``(workload, seed, size)`` alone, so the same seed
always gives the same tables. Inputs are written under
``.perfbench/inputs/`` in the checkout (ignored by git) and reused when
present. The expected outputs that the checks compare against sit beside the
``tables/`` directory the program reads, so it only ever sees the input
tables.

* ``kg_delta`` — a rotating set of distinct conversation deltas made with
  ``reden_spark.datagen`` (4 sentences per turn, 2,000 extra gazetteer
  entities, gold links on). Each delta carries new conversation ids. The
  expected links and triples come from the single-node reference
  (``reden_spark.oracle``).
* ``curation`` — a ``documents`` corpus with near-duplicate clusters and one
  boilerplate block large enough to arm the pairs stage's auto salt, plus a
  small fixed-seed slice of the same shape whose expected packed table comes
  from the DuckDB twin of the curation recipe
  (``driver_contract.O_CURATION_PIPELINE``).

Run as a script (``python3 perfbench/prepare.py --workload W --seed N``) it
generates one workload's inputs in its own process, so the generator's memory
never counts toward the measured process.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"

# Bump when a generator changes, so stale cached inputs are never reused
# (a size change alters the cache key by itself).
GEN_VERSION = 1


@dataclass(frozen=True)
class KGSize:
    deltas: int  # distinct deltas in the rotation
    turns: int  # every delta is cut to exactly this many turns
    n_convs: int  # conversations generated per delta, enough to reach `turns`
    mean_turns: int
    sentences_per_turn: int = 4
    n_extra_entities: int = 2000


@dataclass(frozen=True)
class CurationSize:
    n_docs: int
    dup_clusters: int  # clusters of `cluster_size` near-duplicates
    cluster_size: int
    boilerplate: int  # docs stamped with one shared template (one hot LSH band)
    hot_band_cap: int  # run_curation's per-band budget; < boilerplate arms the salt


SIZES = {
    "kg_delta": {
        "full": KGSize(deltas=2, turns=2000, n_convs=14, mean_turns=200),
        "tiny": KGSize(deltas=2, turns=40, n_convs=6, mean_turns=12, sentences_per_turn=1, n_extra_entities=0),
    },
    "curation": {
        "full": CurationSize(n_docs=5_000, dup_clusters=200, cluster_size=10, boilerplate=200, hot_band_cap=50),
        "tiny": CurationSize(n_docs=600, dup_clusters=20, cluster_size=5, boilerplate=40, hot_band_cap=10),
    },
}
# The slice checked against DuckDB: same recipe parameters (hot_band_cap
# included, so the salt arms on it too), small enough for the reference.
SLICE_SEED = 7
CURATION_SLICES = {
    "full": CurationSize(n_docs=150, dup_clusters=10, cluster_size=5, boilerplate=60, hot_band_cap=50),
    "tiny": CurationSize(n_docs=100, dup_clusters=8, cluster_size=5, boilerplate=20, hot_band_cap=10),
}


def _key(spec) -> str:
    return hashlib.sha256(f"{GEN_VERSION}{spec!r}".encode()).hexdigest()[:10]


def input_dir(workload: str, seed: int, size: str) -> Path:
    return WORK / "inputs" / f"{workload}-{size}-s{seed}-{_key(SIZES[workload][size])}"


def _sub_seed(seed: int, k: int) -> int:
    return seed * 1000 + k


# ---------------------------------------------------------------------------
# kg_delta
# ---------------------------------------------------------------------------


def _make_delta(out: Path, seed: int, k: int, size: KGSize) -> dict:
    """One delta: datagen tables with conversation ids made unique to the
    delta, plus the reference links/triples for the checks."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from reden_spark import datagen, oracle

    tables = out / "tables"
    datagen.generate(
        tables,
        n_convs=size.n_convs,
        mean_turns=size.mean_turns,
        seed=_sub_seed(seed, k),
        skew_factor=1,
        with_gold=True,
        sentences_per_turn=size.sentences_per_turn,
        n_extra_entities=size.n_extra_entities,
    )
    (tables / "kb_persons.parquet").unlink()  # dictionary-build input, unused by the pipeline
    # Same input size on every seed: keep the first `turns` turns in
    # conversation order (the last kept conversation is cut short).
    turns = pq.read_table(tables / "transcripts.parquet").sort_by([("conv_id", "ascending"), ("turn_idx", "ascending")])
    if turns.num_rows < size.turns:
        raise ValueError(f"delta {k} of seed {seed} has {turns.num_rows} turns, fewer than {size.turns}")
    turns = turns.slice(0, size.turns)
    gold = pq.read_table(tables / "gold_links.parquet")
    kept = pc.is_in(
        pc.binary_join_element_wise(gold["conv_id"], pc.cast(gold["turn_idx"], "string"), "#"),
        value_set=pc.binary_join_element_wise(turns["conv_id"], pc.cast(turns["turn_idx"], "string"), "#"),
    )
    prefix = f"s{seed}d{k}-"
    for name, t in (("transcripts", turns), ("gold_links", gold.filter(kept))):
        i = t.schema.get_field_index("conv_id")
        t = t.set_column(i, "conv_id", pc.binary_join_element_wise(prefix, t["conv_id"], ""))
        pq.write_table(t, tables / f"{name}.parquet", row_group_size=16384)

    def rows(name: str) -> list[dict]:
        return pq.read_table(tables / f"{name}.parquet").to_pylist()

    transcripts, dico, kb = rows("transcripts"), rows("dico"), rows("kb_edges")
    kb_rows = [(r["subj"], r["pred"], r["obj"]) for r in kb]
    links = oracle.run_oracle(
        transcripts,
        dico,
        [r["term"] for r in rows("mention_terms")],
        kb_rows,
        [(r["pred"], r["weight"]) for r in rows("rel_weights")],
        datagen.BASE_PREFIX,
        datagen.BASE_PREFIX,
    )
    triples = oracle.links_to_triples(links, kb_rows, dico)
    expected = {
        "links": [
            [r["conv_id"], r["turn_idx"], r["occ_idx"], r["mention"], r["chosen_uris"], r["score"], r["path"]]
            for r in links
        ],
        "triples": [list(t) for t in triples],
    }
    (out / "expected.json").write_text(json.dumps(expected))
    return {"dir": str(tables), "rows": len(transcripts)}


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------


def _make_documents(path: Path, seed: int, size: CurationSize) -> int:
    """documents(doc_id, text, lang, source, n_chars).

    The first ``boilerplate`` docs share one 50-word template; the next
    ``dup_clusters * cluster_size`` docs share a template per cluster; the
    rest are unique. Every doc ends in a 2-word tail of its own, so cluster
    members are near (not exact) duplicates."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    vocab = 50_000
    n = size.n_docs
    doc_id = np.arange(n, dtype=np.int64)
    n_dup = size.dup_clusters * size.cluster_size
    tpl = np.where(
        doc_id < size.boilerplate,
        0,
        np.where(
            doc_id < size.boilerplate + n_dup,
            1 + (doc_id - size.boilerplate) // size.cluster_size,
            1 + size.dup_clusters + doc_id,
        ),
    )
    uniq, inverse = np.unique(tpl, return_inverse=True)
    bodies = rng.integers(0, vocab, size=(len(uniq), 50))[inverse]
    tails = rng.integers(0, vocab, size=(n, 2))
    texts = [
        " ".join(f"w{w}" for w in body) + f" t{a} t{b}"
        for body, (a, b) in zip(bodies.tolist(), tails.tolist())
    ]
    langs = np.array(["en", "fr", "de", "es", "it"])[rng.integers(0, 5, size=n)]
    table = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(texts),
            "lang": pa.array(langs.tolist()),
            "source": pa.array(["synthetic"] * n),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    path.mkdir(parents=True, exist_ok=True)
    # 8 files: the scan splits across cores without a repartition
    for i, part in enumerate(np.array_split(np.arange(n), 8)):
        pq.write_table(table.take(part), path / f"part-{i:05d}.parquet")
    return n


def curation_oracle_rows(documents: Path) -> list[tuple]:
    """Rows of the DuckDB twin of the curation recipe over ``documents``."""
    import duckdb

    from reden_spark.driver_contract import O_CURATION_PIPELINE

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents}/*.parquet')")
        rel = con.sql(O_CURATION_PIPELINE)
        return [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    finally:
        con.close()


def _make_slice(size: str) -> dict:
    """The DuckDB-checked slice. Its seed is fixed, so the (slow) reference
    runs once per checkout rather than once per benchmark seed."""
    out = WORK / "inputs" / f"curation-slice-{size}-{_key(CURATION_SLICES[size])}"
    tables = out / "tables"
    if not (out / "expected.json").exists():
        shutil.rmtree(out, ignore_errors=True)
        _make_documents(tables / "documents.parquet", SLICE_SEED, CURATION_SLICES[size])
        rows = curation_oracle_rows(tables / "documents.parquet")
        tmp = out / "expected.json.tmp"
        tmp.write_text(json.dumps({"packed": rows}))
        tmp.replace(out / "expected.json")
    return {"dir": str(tables)}


def _make_curation(out: Path, seed: int, size: str) -> dict:
    spec = SIZES["curation"][size]
    tables = out / "tables"
    n = _make_documents(tables / "documents.parquet", seed, spec)
    return {"dir": str(tables), "rows": n, "hot_band_cap": spec.hot_band_cap, "slice": _make_slice(size)}


# ---------------------------------------------------------------------------


def prepare(workload: str, seed: int, size: str) -> dict:
    """Generate (once) and return the manifest of one workload's inputs."""
    out = input_dir(workload, seed, size)
    manifest = out / "manifest.json"
    if manifest.exists():
        return json.loads(manifest.read_text())
    shutil.rmtree(out, ignore_errors=True)
    spec = SIZES[workload][size]
    if workload == "kg_delta":
        ks = range(spec.deltas)
        with ProcessPoolExecutor(max_workers=spec.deltas) as pool:  # deltas are independent
            parts = list(pool.map(_make_delta, [out / f"delta{k}" for k in ks], [seed] * len(ks), ks, [spec] * len(ks)))
    else:
        parts = [_make_curation(out / "corpus", seed, size)]
    data = {"workload": workload, "seed": seed, "size": size, "parts": parts}
    tmp = out / "manifest.json.tmp"
    tmp.write_text(json.dumps(data))
    tmp.replace(manifest)  # a half-written cache entry is never reused
    return data


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--size", default="full", choices=["full", "tiny"])
    a = ap.parse_args()
    sys.path.insert(0, str(ROOT))
    print(json.dumps(prepare(a.workload, a.seed, a.size)))


if __name__ == "__main__":
    main()
