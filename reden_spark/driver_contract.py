"""Driver-contract queries + DuckDB oracle SQL (consumed by __spark_entry__.py).

The driver pre-registers only the generic tables (region nation customer supplier
part orders lineitem events documents embeddings) as DuckDB views, so the KG
pipeline's input tables (transcripts/dico/kb_edges/gold — FIXTURES.md shapes) are
*derived deterministically* from events+nation here, in both engines:

  * transcripts: one turn per event; conv_id = user bucket; text embeds two
    nation names (the dictionary aliases) in a fixed French template;
  * dico: one candidate group per nation; every 5th nation gets a second
    "shadow" group => ambiguous aliases exercising the graph path;
  * kb_edges: region-shared resources hanging off alt-URI subjects (the
    alias-folding path), solo resources (pruned), owl:sameAs to ext URIs for
    even keys, a shadow cluster resource;
  * gold: the intended nation entity per occurrence.

Every queries() entry calls the production operators; every oracle_sql() entry
restates the same semantics in ANSI-ish DuckDB SQL over the same derivation.
Hash-sensitive outputs avoid arrays and raw floats (joined strings / rounded
doubles / ranks instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .checkpointing import checkpoint
from .functions.text import SAME_AS
from .operators.candidates import conversation_cases, generate_candidates
from .operators.canonicalize import materialize_triples
from .operators.disambiguate import NELConfig
from .operators.evaluate import eval_records, hachey_metrics
from .operators.grouped import conversation_graphs, disambiguate_grouped
from .operators.kb import build_kb
from .operators.mentions import detect_mentions

BASE = "http://kb.test/base"
CFG = NELConfig(base_prefix=BASE, preferred_uri=BASE)
PRED_KNOWS = "http://kb.test/pred/knows"
PRED_ASSOC = "http://kb.test/pred/assoc"

# ---------------------------------------------------------------------------
# Spark-side derivation (events + nation -> KG input tables)
# ---------------------------------------------------------------------------


# every contract cache registers here so sf_dir-recency eviction (see
# _evict_stale) can sweep all of them at once
_ALL_CACHES: list[dict] = []
# the 2 most-recently-touched sf_dirs; older dirs' entries are evicted from
# every cache (a multi-dir sweep would otherwise pin each dir's
# localCheckpoint blocks for the life of the session — round-4 ADVICE)
_SFDIR_LRU: list[str] = []

_READ_CACHE: dict[tuple, DataFrame] = {}
_ALL_CACHES.append(_READ_CACHE)


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Plan-level memo of the table scans: every `spark.read.parquet` call
    pays a driver-side listing + footer schema read (~0.2-0.4 s each on this
    host), and one contract query's derivation chain re-reads events/nation
    several times. The cached object is just the unexecuted scan plan —
    results are identical; the fingerprint key invalidates on regenerated
    files (same discipline as _kg_stack)."""
    key = (
        spark.sparkContext.applicationId,
        str(sf_dir),
        name,
        _sf_fingerprint(str(sf_dir)),
    )
    hit = _READ_CACHE.get(key)
    if hit is None:
        _evict_stale(_READ_CACHE, key[0], key)
        hit = _READ_CACHE[key] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    else:
        _touch_sfdir(key[1])
    return hit


def derive_turns_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = ev.select(
        F.concat(F.lit("c"), (F.col("user_id") % 40).cast("string")).alias("conv_id"),
        "ts",
        "event_id",
        (F.col("event_id") % 25).cast("int").alias("k1"),
        ((F.col("event_id") % 25 + 1 + F.col("event_id") % 13) % 25).cast("int").alias("k2"),
        F.when(F.col("event_id") % 3 == 0, "user")
        .when(F.col("event_id") % 3 == 1, "assistant")
        .otherwise("tool")
        .alias("role"),
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    # 'X' suffix => no alias is a prefix/substring of another (NATION_1 vs NATION_12)
    n1 = nat.select(F.col("n_nationkey").alias("k1"), F.concat("n_name", F.lit("X")).alias("n1"))
    n2 = nat.select(F.col("n_nationkey").alias("k2"), F.concat("n_name", F.lit("X")).alias("n2"))
    return (
        base.join(F.broadcast(n1), "k1")
        .join(F.broadcast(n2), "k2")
        .withColumn("turn_idx", (F.row_number().over(w) - F.lit(1)).cast("int"))
        .withColumn(
            "text",
            F.concat(F.lit("On parla de "), "n1", F.lit(" puis de "), "n2", F.lit(" ensemble.")),
        )
    )


def derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_turns_raw(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", F.lit(None).cast("string").alias("tool"), "ts"
    )


def derive_dico(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    k = F.col("n_nationkey").cast("string")
    alias = F.concat("n_name", F.lit("X"))
    main = nat.select(
        alias.alias("alias"),
        F.lower(F.regexp_replace(alias, r"\s|'|-", "")).alias("alias_norm"),
        alias.alias("name"),
        F.lit("LOC").alias("ne_type"),
        F.array(F.concat(F.lit(f"{BASE}/nat/"), k), F.concat(F.lit("http://kb.test/alt/nat/"), k)).alias("uris"),
    )
    shadow = nat.filter(F.col("n_nationkey") % 5 == 0).select(
        alias.alias("alias"),
        F.lower(F.regexp_replace(alias, r"\s|'|-", "")).alias("alias_norm"),
        alias.alias("name"),
        F.lit("LOC").alias("ne_type"),
        F.array(
            F.concat(F.lit(f"{BASE}/shadow/"), k), F.concat(F.lit("http://kb.test/alt/shadow/"), k)
        ).alias("uris"),
    )
    return main.unionByName(shadow)


def derive_mention_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return derive_dico(spark, sf_dir).select(F.col("alias").alias("term"), "ne_type").distinct()


def derive_kb_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = _read(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    k = F.col("n_nationkey").cast("string")
    r = F.col("n_regionkey").cast("string")
    alt = F.concat(F.lit("http://kb.test/alt/nat/"), k)
    base = F.concat(F.lit(f"{BASE}/nat/"), k)
    ext = F.concat(F.lit("http://ext.kb/nat/"), k)
    reg_res = F.concat(F.lit("http://kb.test/res/reg/"), r)
    reg_res2 = F.concat(F.lit("http://kb.test/res/reg/"), r, F.lit("/x"), (F.col("n_nationkey") % 2).cast("string"))
    one = F.lit(1.0)
    parts = [
        nat.select(alt.alias("subj"), F.lit(PRED_KNOWS).alias("pred"), reg_res.alias("obj"), one.alias("weight")),
        nat.select(alt.alias("subj"), F.lit(PRED_KNOWS).alias("pred"), reg_res2.alias("obj"), one.alias("weight")),
        nat.select(
            alt.alias("subj"),
            F.lit(PRED_ASSOC).alias("pred"),
            F.concat(F.lit("http://kb.test/res/solo/"), k).alias("obj"),
            one.alias("weight"),
        ),
        nat.filter(F.col("n_nationkey") % 2 == 0).select(
            base.alias("subj"), F.lit(SAME_AS).alias("pred"), ext.alias("obj"), one.alias("weight")
        ),
        nat.filter(F.col("n_nationkey") % 2 == 0).select(
            ext.alias("subj"), F.lit(PRED_ASSOC).alias("pred"), reg_res.alias("obj"), one.alias("weight")
        ),
        nat.filter(F.col("n_nationkey") % 5 == 0).select(
            F.concat(F.lit("http://kb.test/alt/shadow/"), k).alias("subj"),
            F.lit(PRED_KNOWS).alias("pred"),
            F.lit("http://kb.test/res/shadowland").alias("obj"),
            one.alias("weight"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def derive_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = derive_turns_raw(spark, sf_dir)
    g1 = raw.select(
        "conv_id",
        "turn_idx",
        F.lit(0).cast("int").alias("occ_idx"),
        F.col("n1").alias("mention"),
        F.concat(F.lit(f"{BASE}/nat/"), F.col("k1").cast("string")).alias("gold_uri"),
    )
    g2 = raw.select(
        "conv_id",
        "turn_idx",
        F.lit(1).cast("int").alias("occ_idx"),
        F.col("n2").alias("mention"),
        F.concat(F.lit(f"{BASE}/nat/"), F.col("k2").cast("string")).alias("gold_uri"),
    )
    return g1.unionByName(g2)


def empty_rel_weights(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "pred string, weight double")


_STACK_CACHE: dict[tuple, dict[str, DataFrame]] = {}
_ALL_CACHES.append(_STACK_CACHE)


def _sf_fingerprint(sf_dir: str) -> tuple:
    """Cheap content fingerprint of the parquet files under sf_dir (name, size,
    mtime). Regenerating the data in-place within one application changes the
    fingerprint, so memoized stacks derived from the old files are not served
    stale."""
    import os

    out = []
    try:
        for name in sorted(os.listdir(sf_dir)):
            if name.endswith(".parquet"):
                st = os.stat(os.path.join(sf_dir, name))
                out.append((name, st.st_size, int(st.st_mtime_ns)))
    except OSError:
        pass
    return tuple(out)


def _unpersist_frames(obj) -> None:
    """Best-effort release of an evicted entry's eagerly-checkpointed blocks so
    they don't pin executor memory until GC."""
    frames = obj.values() if isinstance(obj, dict) else [obj]
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass


def _evict_stale(cache: dict, app_id: str, key=None) -> None:
    """Drop cache entries keyed by other applicationIds (stopped sessions whose
    checkpointed frames are unusable) or by an outdated sf_dir fingerprint,
    unpersisting their frames on the way out. Also bounds ALL caches to the 2
    most-recently-touched sf_dirs (key[1] is always the sf_dir) so a
    multi-dir sweep cannot accumulate localCheckpoint blocks without limit."""
    # fingerprint is always the LAST key element: an entry matching on
    # everything but the fingerprint was derived from since-regenerated data
    for stale in [
        k for k in cache if k[0] != app_id or (key is not None and k[:-1] == key[:-1] and k != key)
    ]:
        _unpersist_frames(cache.pop(stale))
    if key is not None:
        _touch_sfdir(key[1])


def _touch_sfdir(sf_dir: str) -> None:
    """Mark sf_dir most-recently-used and sweep beyond-bound dirs from ALL
    caches. Called on cache HITS as well as misses — otherwise a dir served
    purely from hits never refreshes its LRU slot and one query on a new dir
    would evict the hot dir's localCheckpoint blocks out from under callers
    still holding its frames."""
    if sf_dir in _SFDIR_LRU:
        _SFDIR_LRU.remove(sf_dir)
    _SFDIR_LRU.insert(0, sf_dir)
    for dropped in _SFDIR_LRU[2:]:
        for c in _ALL_CACHES:
            for k in [k for k in c if k[1] == dropped]:
                _unpersist_frames(c.pop(k))
    del _SFDIR_LRU[2:]


def _kg_stack(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Derive the KG input stack once per (application, sf_dir).

    Dozens of contract queries share this derivation; the shared stage outputs
    (mentions, candidates, cases) are pinned as eager local checkpoints so the
    mention-detection UDF and candidate join run once per session, not once
    per query (eager also prevents AQE's concurrent stage submission from
    re-executing a lazily-checkpointed frame per consumer). Results are
    unchanged — the cache stores the exact DataFrames a fresh derivation
    would return."""
    key = (spark.sparkContext.applicationId, str(sf_dir), _sf_fingerprint(str(sf_dir)))
    hit = _STACK_CACHE.get(key)
    if hit is not None:
        _touch_sfdir(key[1])
        return hit
    _evict_stale(_STACK_CACHE, key[0], key)
    transcripts = derive_transcripts(spark, sf_dir)
    terms = derive_mention_terms(spark, sf_dir)
    dico = derive_dico(spark, sf_dir)
    kb = derive_kb_edges(spark, sf_dir)
    # the KB artifacts come from the pipeline's own build_kb
    artifacts = build_kb(terms, dico, kb, empty_rel_weights(spark), CFG.sameas_pred)
    mentions = checkpoint(detect_mentions(transcripts, artifacts.terms))
    candidates = checkpoint(generate_candidates(mentions, artifacts.groups))
    cases = checkpoint(conversation_cases(mentions, candidates))
    stack = {
        "transcripts": transcripts,
        "dico": dico,
        "kb_edges": kb,
        "kb": artifacts,
        "mentions": mentions,
        "candidates": candidates,
        "cases": cases,
    }
    _STACK_CACHE[key] = stack
    return stack


# ---------------------------------------------------------------------------
# The SQL twin: one CTE chain restating the derivation + every pipeline stage
# ---------------------------------------------------------------------------

# Every CTE is MATERIALIZED: DuckDB (1.0) otherwise inlines a CTE at each
# reference, and this chain references most of its CTEs 2-4 times, so the
# inlined plan grows geometrically with depth. At sf0.001 (1,000 events) the
# inlined `links` alone ran out of a 2 GiB memory limit, and kg_entity_pmi's
# five references to one CTE over it outgrew 12.5 GiB and spilled; all CTEs
# materialized, each oracle runs in well under a second and ~200 MB. The
# rows are the same: every window ORDER BY in the chain is a total order, so
# evaluating a CTE once or once per reference yields the same relation.

SQL_PREFIX = f"""
WITH RECURSIVE turns_raw AS MATERIALIZED (
  SELECT 'c' || CAST(user_id % 40 AS VARCHAR) AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id % 40 ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         CASE CAST(event_id % 3 AS INTEGER) WHEN 0 THEN 'user' WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
         CAST(event_id % 25 AS INTEGER) AS k1,
         CAST((event_id % 25 + 1 + event_id % 13) % 25 AS INTEGER) AS k2,
         n1.n_name || 'X' AS n1, n2.n_name || 'X' AS n2,
         'On parla de ' || n1.n_name || 'X puis de ' || n2.n_name || 'X ensemble.' AS text
  FROM events e
  JOIN nation n1 ON n1.n_nationkey = CAST(e.event_id % 25 AS INTEGER)
  JOIN nation n2 ON n2.n_nationkey = CAST((e.event_id % 25 + 1 + e.event_id % 13) % 25 AS INTEGER)
),
transcripts AS MATERIALIZED (SELECT conv_id, turn_idx, role, text FROM turns_raw),
dico AS MATERIALIZED (
  SELECT n_name || 'X' AS alias, lower(regexp_replace(n_name || 'X', '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm,
         n_name || 'X' AS name, 'LOC' AS ne_type,
         ['{BASE}/nat/' || CAST(n_nationkey AS VARCHAR),
          'http://kb.test/alt/nat/' || CAST(n_nationkey AS VARCHAR)] AS uris
  FROM nation
  UNION ALL
  SELECT n_name || 'X', lower(regexp_replace(n_name || 'X', '[\\s\\x0b\\xa0 ]|''|-', '', 'g')), n_name || 'X', 'LOC',
         ['{BASE}/shadow/' || CAST(n_nationkey AS VARCHAR),
          'http://kb.test/alt/shadow/' || CAST(n_nationkey AS VARCHAR)]
  FROM nation WHERE n_nationkey % 5 = 0
),
kb_edges AS MATERIALIZED (
  SELECT 'http://kb.test/alt/nat/' || CAST(n_nationkey AS VARCHAR) AS subj,
         '{PRED_KNOWS}' AS pred,
         'http://kb.test/res/reg/' || CAST(n_regionkey AS VARCHAR) AS obj, 1.0 AS weight FROM nation
  UNION ALL
  SELECT 'http://kb.test/alt/nat/' || CAST(n_nationkey AS VARCHAR), '{PRED_KNOWS}',
         'http://kb.test/res/reg/' || CAST(n_regionkey AS VARCHAR) || '/x' || CAST(n_nationkey % 2 AS VARCHAR), 1.0 FROM nation
  UNION ALL
  SELECT 'http://kb.test/alt/nat/' || CAST(n_nationkey AS VARCHAR), '{PRED_ASSOC}',
         'http://kb.test/res/solo/' || CAST(n_nationkey AS VARCHAR), 1.0 FROM nation
  UNION ALL
  SELECT '{BASE}/nat/' || CAST(n_nationkey AS VARCHAR), '{SAME_AS}',
         'http://ext.kb/nat/' || CAST(n_nationkey AS VARCHAR), 1.0 FROM nation WHERE n_nationkey % 2 = 0
  UNION ALL
  SELECT 'http://ext.kb/nat/' || CAST(n_nationkey AS VARCHAR), '{PRED_ASSOC}',
         'http://kb.test/res/reg/' || CAST(n_regionkey AS VARCHAR), 1.0 FROM nation WHERE n_nationkey % 2 = 0
  UNION ALL
  SELECT 'http://kb.test/alt/shadow/' || CAST(n_nationkey AS VARCHAR), '{PRED_KNOWS}',
         'http://kb.test/res/shadowland', 1.0 FROM nation WHERE n_nationkey % 5 = 0
),
gold AS MATERIALIZED (
  SELECT conv_id, turn_idx, CAST(0 AS INTEGER) AS occ_idx, n1 AS mention,
         '{BASE}/nat/' || CAST(k1 AS VARCHAR) AS gold_uri FROM turns_raw
  UNION ALL
  SELECT conv_id, turn_idx, CAST(1 AS INTEGER), n2,
         '{BASE}/nat/' || CAST(k2 AS VARCHAR) FROM turns_raw
),
mentions AS MATERIALIZED (
  SELECT conv_id, turn_idx,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx ORDER BY strpos(text, alias)) - 1 AS INTEGER) AS occ_idx,
         alias AS mention,
         CAST(strpos(text, alias) - 1 AS INTEGER) AS start_pos
  FROM transcripts t JOIN (SELECT DISTINCT alias FROM dico) d
    ON strpos(t.text, d.alias) > 0
   -- whole-word boundaries (NATION_1 must not match inside NATION_12)
   AND NOT regexp_matches(substring(t.text, strpos(t.text, d.alias) + length(d.alias), 1), '\\w')
   AND (strpos(t.text, d.alias) = 1
        OR NOT regexp_matches(substring(t.text, strpos(t.text, d.alias) - 1, 1), '\\w'))
),
candidates AS MATERIALIZED (
  SELECT conv_id, mention,
         CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, mention ORDER BY uris) - 1 AS INTEGER) AS group_idx,
         uris
  FROM (SELECT DISTINCT m.conv_id, m.mention, d.uris
        FROM (SELECT DISTINCT conv_id, mention FROM mentions) m
        JOIN dico d ON lower(regexp_replace(m.mention, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) = d.alias_norm)
),
cases AS MATERIALIZED (
  SELECT m.conv_id, CASE WHEN MAX(COALESCE(g.n_groups, 0)) > 1 THEN 'Ok' ELSE 'NoAmbiguity' END AS route
  FROM (SELECT DISTINCT conv_id, mention FROM mentions) m
  LEFT JOIN (SELECT conv_id, mention, COUNT(*) AS n_groups FROM candidates GROUP BY 1, 2) g
    USING (conv_id, mention)
  GROUP BY 1
),
cand_ok AS MATERIALIZED (SELECT c.* FROM candidates c JOIN cases USING (conv_id) WHERE route = 'Ok'),
members AS MATERIALIZED (SELECT conv_id, mention, group_idx, uris, unnest(uris) AS member FROM cand_ok),
with_base AS MATERIALIZED (
  SELECT *, list_filter(uris, u -> contains(u, '{BASE}'))[-1] AS base_uri FROM members
),
sameas AS MATERIALIZED (SELECT subj AS member, obj AS sameas_obj FROM kb_edges WHERE pred = '{SAME_AS}'),
alias_pairs AS MATERIALIZED (
  SELECT DISTINCT conv_id, base_uri, alias FROM (
    SELECT w.conv_id, w.base_uri, s.sameas_obj AS alias
    FROM with_base w JOIN sameas s ON w.member = s.member
    WHERE contains(w.member, '{BASE}')
    UNION ALL
    SELECT conv_id, base_uri, member FROM with_base WHERE NOT contains(member, '{BASE}')
  ) WHERE lower(alias) != lower(base_uri)
),
fused_raw AS MATERIALIZED (
  SELECT a.conv_id, a.base_uri AS src, k.obj AS dst, k.pred
  FROM alias_pairs a JOIN kb_edges k ON a.alias = k.subj
  WHERE k.pred != '{SAME_AS}' AND lower(a.base_uri) != lower(k.obj)
),
edges AS MATERIALIZED (
  SELECT conv_id, src, dst, MIN(pred) AS pred, 1.0 AS weight FROM fused_raw GROUP BY 1, 2, 3
),
colored AS MATERIALIZED (SELECT DISTINCT conv_id, member AS v FROM members WHERE contains(member, '{BASE}')),
inv AS MATERIALIZED (SELECT conv_id, member AS v, MAX(mention) AS inv_mention FROM members GROUP BY 1, 2),
ends AS MATERIALIZED (
  SELECT conv_id, src AS v, dst AS other FROM edges
  UNION ALL SELECT conv_id, dst, src FROM edges
),
bridge AS MATERIALIZED (
  SELECT e.conv_id, e.v, COUNT(DISTINCT i.inv_mention) AS n_mentions
  FROM ends e
  LEFT JOIN colored cv ON cv.conv_id = e.conv_id AND cv.v = e.v
  JOIN colored co ON co.conv_id = e.conv_id AND co.v = e.other
  LEFT JOIN inv i ON i.conv_id = e.conv_id AND i.v = e.other
  WHERE cv.v IS NULL AND e.v != e.other
  GROUP BY 1, 2
),
survivors AS MATERIALIZED (
  SELECT conv_id, v FROM colored UNION SELECT conv_id, v FROM bridge WHERE n_mentions >= 2
),
pruned AS MATERIALIZED (
  SELECT e.* FROM edges e
  JOIN survivors s1 ON s1.conv_id = e.conv_id AND s1.v = e.src
  JOIN survivors s2 ON s2.conv_id = e.conv_id AND s2.v = e.dst
),
degrees AS MATERIALIZED (
  SELECT conv_id, v, CAST(COUNT(*) AS DOUBLE) AS degree FROM (
    SELECT conv_id, src AS v FROM pruned UNION ALL SELECT conv_id, dst FROM pruned
  ) GROUP BY 1, 2
),
scored AS MATERIALIZED (
  SELECT m.conv_id, m.mention, m.member AS dec, COALESCE(d.degree, 0.0) AS score
  FROM members m
  JOIN colored c ON c.conv_id = m.conv_id AND c.v = m.member
  LEFT JOIN degrees d ON d.conv_id = m.conv_id AND d.v = m.member
),
winners AS MATERIALIZED (
  SELECT conv_id, mention, dec AS winner, score FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, mention ORDER BY score DESC, dec DESC) AS rn
    FROM (SELECT DISTINCT conv_id, mention, dec, score FROM scored)
  ) WHERE rn = 1
),
matching AS MATERIALIZED (
  SELECT DISTINCT m.conv_id, m.mention, m.group_idx, m.uris, w.winner, w.score
  FROM members m JOIN winners w ON w.conv_id = m.conv_id AND w.mention = m.mention AND m.member = w.winner
),
graph_chosen AS MATERIALIZED (
  SELECT conv_id, mention,
         COALESCE(list_filter(uris, u -> contains(u, '{BASE}'))[-1], winner) AS chosen_uris,
         score, 'graph' AS path
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, mention ORDER BY group_idx DESC) AS rn FROM matching)
  WHERE rn = 1
),
simple_chosen AS MATERIALIZED (
  SELECT c.conv_id, c.mention, array_to_string(uris, ' ') AS chosen_uris,
         CAST(NULL AS DOUBLE) AS score, 'simple' AS path
  FROM candidates c JOIN cases ca USING (conv_id)
  WHERE ca.route = 'NoAmbiguity' AND group_idx = 0
),
links AS MATERIALIZED (
  SELECT m.conv_id, m.turn_idx, m.occ_idx, m.mention, ch.chosen_uris, ch.score, ch.path
  FROM mentions m
  JOIN (SELECT * FROM graph_chosen UNION ALL SELECT * FROM simple_chosen) ch
    USING (conv_id, mention)
),
eq_edges AS MATERIALIZED (
  SELECT subj AS a, obj AS b FROM kb_edges WHERE pred = '{SAME_AS}'
  UNION
  SELECT uris[1] AS a, unnest(uris) AS b FROM dico
),
sym AS MATERIALIZED (
  SELECT a, b FROM eq_edges WHERE a != b
  UNION SELECT b, a FROM eq_edges WHERE a != b
),
reach(v, lab) AS (
  SELECT v, v FROM (SELECT a AS v FROM sym UNION SELECT b FROM sym)
  UNION
  SELECT s.a, r.lab FROM sym s JOIN reach r ON s.b = r.v
),
canon AS MATERIALIZED (SELECT v AS uri, MIN(lab) AS canonical FROM reach GROUP BY 1),
chosen_flat AS MATERIALIZED (
  SELECT conv_id, turn_idx, occ_idx, unnest(string_split(chosen_uris, ' ')) AS uri
  FROM links WHERE chosen_uris != ''
),
canon_chosen AS MATERIALIZED (
  SELECT conv_id, turn_idx, occ_idx, MIN(COALESCE(c.canonical, f.uri)) AS entity
  FROM chosen_flat f LEFT JOIN canon c ON c.uri = f.uri
  GROUP BY 1, 2, 3
),
link_triples AS MATERIALIZED (
  SELECT 'urn:mention:' || conv_id || ':' || CAST(turn_idx AS VARCHAR) || ':' || CAST(occ_idx AS VARCHAR) AS subj,
         'http://kg.test/linksTo' AS pred, entity AS obj
  FROM canon_chosen
),
kbc AS MATERIALIZED (
  SELECT COALESCE(cs.canonical, k.subj) AS subj, k.pred, COALESCE(co.canonical, k.obj) AS obj
  FROM kb_edges k
  LEFT JOIN canon cs ON cs.uri = k.subj
  LEFT JOIN canon co ON co.uri = k.obj
  WHERE k.pred != '{SAME_AS}'
),
triples AS MATERIALIZED (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT * FROM link_triples
    UNION ALL
    SELECT kbc.* FROM kbc JOIN (SELECT DISTINCT entity FROM canon_chosen) e ON kbc.subj = e.entity
  )
),
eval_flags AS MATERIALIZED (
  SELECT g.conv_id, g.mention, g.gold_uri,
         COUNT(c.group_idx) AS n_groups,
         MAX(CASE WHEN g.gold_uri IS NOT NULL AND c.uris IS NOT NULL
                  AND len(list_filter(c.uris, u -> contains(lower(u), lower(g.gold_uri)))) > 0
                  THEN TRUE ELSE FALSE END) AS correct_in_cand
  FROM (SELECT DISTINCT conv_id, mention, gold_uri FROM gold) g
  LEFT JOIN candidates c ON c.conv_id = g.conv_id AND c.mention = g.mention
  GROUP BY 1, 2, 3
),
eval_recs AS MATERIALIZED (
  SELECT g.conv_id, g.turn_idx, g.occ_idx, g.mention, g.gold_uri,
         COALESCE(f.n_groups, 0) AS n_groups,
         COALESCE(f.correct_in_cand, FALSE) AS correct_in_cand,
         l.chosen_uris,
         (g.gold_uri IS NOT NULL AND l.chosen_uris IS NOT NULL
          AND contains(l.chosen_uris, g.gold_uri)) AS choice_correct
  FROM gold g
  LEFT JOIN eval_flags f ON f.conv_id = g.conv_id AND f.mention = g.mention
       AND (f.gold_uri = g.gold_uri OR (f.gold_uri IS NULL AND g.gold_uri IS NULL))
  LEFT JOIN links l ON l.conv_id = g.conv_id AND l.turn_idx = g.turn_idx AND l.occ_idx = g.occ_idx
)
"""


# ---------------------------------------------------------------------------
# queries() / oracle_sql() registries
# ---------------------------------------------------------------------------


def q_kg_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _kg_stack(spark, sf_dir)
    return s["mentions"].select("conv_id", "turn_idx", "occ_idx", "mention", "start_pos")


O_KG_MENTIONS = SQL_PREFIX + "SELECT conv_id, turn_idx, occ_idx, mention, start_pos FROM mentions"


def q_kg_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _kg_stack(spark, sf_dir)
    return s["candidates"].select(
        "conv_id", "mention", "group_idx", F.concat_ws(" ", "uris").alias("uris_joined")
    )


O_KG_CANDIDATES = (
    SQL_PREFIX
    + "SELECT conv_id, mention, group_idx, array_to_string(uris, ' ') AS uris_joined FROM candidates"
)


def q_kg_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _kg_stack(spark, sf_dir)
    return s["cases"].select("conv_id", F.col("case").alias("route"))


O_KG_CASES = SQL_PREFIX + "SELECT conv_id, route FROM cases"


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The links kernel's fused edges (conv_id, src, dst, pred, weight, kept)
    for the graph-path conversations (grouped.conversation_graphs)."""
    s = _kg_stack(spark, sf_dir)
    ok = s["cases"].filter(F.col("case") == "Ok").select("conv_id")
    cand_ok = s["candidates"].join(ok, "conv_id", "left_semi")
    return conversation_graphs(cand_ok, s["kb"].edges, s["kb"].rels, CFG)


def q_kg_fused_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _graph_edges(spark, sf_dir).select("conv_id", "src", "dst", "pred", "weight")


O_KG_FUSED_EDGES = SQL_PREFIX + "SELECT conv_id, src, dst, pred, weight FROM edges"


def q_kg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree per vertex of the pruned graphs: the endpoints of kept edges."""
    return (
        _graph_edges(spark, sf_dir)
        .filter("kept")
        .select("conv_id", F.explode(F.array("src", "dst")).alias("v"))
        .groupBy("conv_id", "v")
        .agg(F.count("*").cast("double").alias("degree"))
    )


O_KG_DEGREES = SQL_PREFIX + "SELECT conv_id, v, degree FROM degrees"


_LINKS_CACHE: dict[tuple, DataFrame] = {}
_ALL_CACHES.append(_LINKS_CACHE)


def _links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINKS, memoized like :func:`_kg_stack` — consumed by the links/triples/
    annotate/eval/occurrence query families."""
    key = (spark.sparkContext.applicationId, str(sf_dir), _sf_fingerprint(str(sf_dir)))
    hit = _LINKS_CACHE.get(key)
    if hit is not None:
        _touch_sfdir(key[1])
        return hit
    _evict_stale(_LINKS_CACHE, key[0], key)
    s = _kg_stack(spark, sf_dir)
    kb = s["kb"]
    links = disambiguate_grouped(s["mentions"], s["candidates"], kb.edges, kb.rels, s["cases"], CFG)
    links = checkpoint(links)
    _LINKS_CACHE[key] = links
    return links


def q_kg_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _links(spark, sf_dir).select(
        "conv_id", "turn_idx", "occ_idx", "mention", "chosen_uris", "score", "path"
    )


O_KG_LINKS = (
    SQL_PREFIX
    + "SELECT conv_id, turn_idx, occ_idx, mention, chosen_uris, score, path FROM links"
)


def q_kg_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg_stack(spark, sf_dir)["kb"].canon


O_KG_CANONICAL = SQL_PREFIX + "SELECT uri, canonical FROM canon"


def q_kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    kb = _kg_stack(spark, sf_dir)["kb"]
    # _links() already returns an eagerly-checkpointed, memoized frame — the
    # multi-branch consumption inside materialize_triples reads those blocks
    return materialize_triples(_links(spark, sf_dir), kb.canon, kb.triples)


O_KG_TRIPLES = SQL_PREFIX + "SELECT subj, pred, obj FROM triples"


def q_kg_preannotate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline SemiAutomaticTEIAnnotation (SemiAutomaticTEIAnnotation.java:44-110):
    per gold mention, ref_new = sorted equivalence-class URIs in the base KB
    (sameAs closure + dico co-membership replaces the sameas.org API)."""
    from .operators.preannotate import preannotate

    s = _kg_stack(spark, sf_dir)
    gold = derive_gold(spark, sf_dir)
    return preannotate(gold, s["kb_edges"], s["dico"], BASE)


O_KG_PREANNOTATE = (
    SQL_PREFIX
    + f""",
pg AS (
  SELECT g.*, coalesce(c.canonical, g.gold_uri) AS comp
  FROM gold g LEFT JOIN canon c ON c.uri = g.gold_uri
),
eqm AS (SELECT canonical AS comp, uri FROM canon),
pa AS (
  SELECT conv_id, turn_idx, occ_idx, mention, gold_uri,
         list_sort(list_filter(
           list_distinct(coalesce(list(uri), []) || [gold_uri]),
           x -> x IS NOT NULL AND contains(x, '{BASE}'))) AS eq
  FROM pg LEFT JOIN eqm USING (comp)
  GROUP BY 1, 2, 3, 4, 5
)
SELECT conv_id, turn_idx, occ_idx, mention, gold_uri,
       CASE WHEN len(eq) > 0 THEN array_to_string(eq, ' ') END AS ref_new
FROM pa
"""
)


def q_kg_correct_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mention count of correctly-linked occurrences
    (ResultsAndEvaluationNEL.java:295-301,334-337 — the -resCorrectMentions sink)."""
    s = _kg_stack(spark, sf_dir)
    links = _links(spark, sf_dir)
    gold = derive_gold(spark, sf_dir)
    recs = eval_records(gold, links, s["candidates"])
    return (
        recs.filter(F.col("choice_correct"))
        .groupBy("mention")
        .agg(F.count("*").alias("n_correct"))
    )


O_KG_CORRECT_MENTIONS = (
    SQL_PREFIX
    + "SELECT mention, count(*) AS n_correct FROM eval_recs WHERE choice_correct GROUP BY 1"
)


def q_kg_eval_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-mention verdict report — the -resEvalV3.txt sink
    (ResultsAndEvaluationNEL.java:282-318)."""
    from .operators.evaluate import eval_verdicts

    s = _kg_stack(spark, sf_dir)
    links = _links(spark, sf_dir)
    gold = derive_gold(spark, sf_dir)
    return eval_verdicts(eval_records(gold, links, s["candidates"]))


O_KG_EVAL_VERDICTS = (
    SQL_PREFIX
    + """
SELECT conv_id, turn_idx, occ_idx, mention,
       CASE WHEN gold_uri IS NULL THEN 'No manual annotation'
            WHEN chosen_uris IS NULL THEN 'Empty choice'
            WHEN choice_correct THEN 'Good choice'
            ELSE 'Wrong choice' END AS verdict,
       (correct_in_cand AND NOT choice_correct) AS right_in_cand_but_wrong
FROM eval_recs
"""
)


_RATIOS = [
    "candidate_cardinality_mean",
    "candidate_precision",
    "candidate_recall",
    "nil_precision",
    "nil_recall",
    "disambiguation_accuracy",
    "overall_linking_accuracy",
]


def q_kg_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _kg_stack(spark, sf_dir)
    links = _links(spark, sf_dir)
    gold = derive_gold(spark, sf_dir)
    m = hachey_metrics(eval_records(gold, links, s["candidates"]))
    return m.select(
        "nb_mentions",
        "nb_manual",
        "nb_nil",
        *[F.round(F.coalesce(F.col(c), F.lit(-1.0)), 6).alias(c) for c in _RATIOS],
    )


O_KG_EVAL_METRICS = (
    SQL_PREFIX
    + """
SELECT COUNT(*) AS nb_mentions,
       COUNT(CASE WHEN gold_uri IS NOT NULL THEN 1 END) AS nb_manual,
       COUNT(CASE WHEN gold_uri IS NULL THEN 1 END) AS nb_nil,
       round(COALESCE(SUM(CASE WHEN n_groups > 0 THEN n_groups ELSE 0 END)::DOUBLE / COUNT(*), -1.0), 6) AS candidate_cardinality_mean,
       round(COALESCE(SUM(CASE WHEN n_groups > 0 AND correct_in_cand THEN 1 ELSE 0 END)::DOUBLE
             / NULLIF(SUM(CASE WHEN n_groups > 0 THEN 1 ELSE 0 END), 0), -1.0), 6) AS candidate_precision,
       round(COALESCE(SUM(CASE WHEN gold_uri IS NOT NULL AND correct_in_cand THEN 1 ELSE 0 END)::DOUBLE
             / NULLIF(SUM(CASE WHEN gold_uri IS NOT NULL THEN 1 ELSE 0 END), 0), -1.0), 6) AS candidate_recall,
       round(COALESCE(SUM(CASE WHEN n_groups = 0 AND gold_uri IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / NULLIF(SUM(CASE WHEN n_groups = 0 THEN 1 ELSE 0 END), 0), -1.0), 6) AS nil_precision,
       round(COALESCE(SUM(CASE WHEN n_groups = 0 AND gold_uri IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / NULLIF(SUM(CASE WHEN gold_uri IS NULL THEN 1 ELSE 0 END), 0), -1.0), 6) AS nil_recall,
       round(COALESCE(SUM(CASE WHEN n_groups > 1 AND correct_in_cand AND choice_correct THEN 1 ELSE 0 END)::DOUBLE
             / NULLIF(SUM(CASE WHEN n_groups > 1 AND correct_in_cand THEN 1 ELSE 0 END), 0), -1.0), 6) AS disambiguation_accuracy,
       round(COALESCE((SUM(CASE WHEN gold_uri IS NOT NULL AND choice_correct THEN 1 ELSE 0 END)
            + SUM(CASE WHEN n_groups = 0 AND gold_uri IS NULL AND chosen_uris IS NULL THEN 1 ELSE 0 END))::DOUBLE
             / NULLIF(COUNT(*), 0), -1.0), 6) AS overall_linking_accuracy
FROM eval_recs
"""
)


# ---------------------------------------------------------------------------
# Training-data extras (documents is a pre-registered DuckDB view)
# ---------------------------------------------------------------------------


_DUCK_SHINGLES = """
WITH toks AS (
  SELECT doc_id, string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\W+', ' ', 'g')), ' ') AS words
  FROM documents
), sh AS (
  SELECT doc_id,
         list_sort(list_distinct(
           [array_to_string(list_slice(words, i, i + {nm1}), ' ')
            for i in generate_series(1, greatest(len(words) - {nm1}, 0))])) AS shingles
  FROM toks
)
"""


_PAIRS_CACHE: dict[tuple, DataFrame] = {}
_ALL_CACHES.append(_PAIRS_CACHE)


def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs (12 hashes, 3-shingles, 4 bands, J>=0.5),
    memoized like :func:`_kg_stack`: the pair generation — the dominant cost of
    every dedup-composition query — runs once per (application, sf_dir) and the
    eagerly-checkpointed pair frame is shared by dedup_minhash_lsh,
    dedup_clusters and curation_pipeline (a real 100 TB curation run likewise
    materializes the pair table once and feeds every downstream policy from
    it)."""
    from .operators.dedup import minhash_lsh_pairs

    key = (spark.sparkContext.applicationId, str(sf_dir), _sf_fingerprint(str(sf_dir)))
    hit = _PAIRS_CACHE.get(key)
    if hit is not None:
        _touch_sfdir(key[1])
        return hit
    _evict_stale(_PAIRS_CACHE, key[0], key)
    pairs = checkpoint(minhash_lsh_pairs(_read(spark, sf_dir, "documents"), 12, 3, 4, 0.5))
    _PAIRS_CACHE[key] = pairs
    return pairs


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_pairs(spark, sf_dir)


O_DEDUP_MINHASH = (
    _DUCK_SHINGLES.format(nm1=2)
    + """
, sigbase AS (
  SELECT doc_id, shingles,
         [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 FOR s IN shingles] AS hv
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id, shingles,
         [list_min([((1 + h*1000003) * b + 12345 + h*7919) % 2147483647 FOR b IN hv]) FOR h IN range(0, 12)] AS sig
  FROM sigbase
), banded AS (
  SELECT doc_id, shingles, unnest(
    [md5(b::VARCHAR || '#' || array_to_string(list_slice(sig, b*3+1, b*3+3), ',')) FOR b IN range(0, 4)]
  ) AS band_key FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.shingles AS sh_a, b.shingles AS sh_b
  FROM banded a JOIN banded b USING (band_key) WHERE a.doc_id < b.doc_id
)
SELECT * FROM (
  SELECT doc_a, doc_b,
         round(len(list_intersect(sh_a, sh_b))::DOUBLE /
               (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6) AS jaccard
  FROM pairs
) WHERE jaccard >= 0.5
"""
)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clustering + keep-best-doc policy over the MinHash-LSH
    pair set of dedup_minhash_lsh (operators/curation.py — reuses the KG
    connected-components operator on the pair graph; the pair frame itself is
    the shared memoized :func:`_minhash_pairs`, so this query's incremental
    cost over dedup_minhash_lsh is just CC + the keep-window + anti-join)."""
    from .operators.curation import dedup_clusters

    docs = _read(spark, sf_dir, "documents")
    return dedup_clusters(docs, _minhash_pairs(spark, sf_dir))


# Same pair derivation as O_DEDUP_MINHASH, then connected components as a
# recursive reachability CTE (min reachable id = cluster label — identical to
# the Spark operator's min-URI-of-component semantics), keep = argmax
# (n_chars, -doc_id) per cluster, singletons their own kept cluster.
_DUCK_MINHASH_JP = """
, sigbase AS (
  SELECT doc_id, shingles,
         [('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 FOR s IN shingles] AS hv
  FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT doc_id, shingles,
         [list_min([((1 + h*1000003) * b + 12345 + h*7919) % 2147483647 FOR b IN hv]) FOR h IN range(0, 12)] AS sig
  FROM sigbase
), banded AS (
  SELECT doc_id, shingles, unnest(
    [md5(b::VARCHAR || '#' || array_to_string(list_slice(sig, b*3+1, b*3+3), ',')) FOR b IN range(0, 4)]
  ) AS band_key FROM sig
), cand_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.shingles AS sh_a, b.shingles AS sh_b
  FROM banded a JOIN banded b USING (band_key) WHERE a.doc_id < b.doc_id
), jp AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           round(len(list_intersect(sh_a, sh_b))::DOUBLE /
                 (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6) AS jaccard
    FROM cand_pairs
  ) WHERE jaccard >= 0.5
)"""

# Connected components of a pair set `jp(doc_a, doc_b)` as a recursive
# reachability CTE + the keep-best-doc policy — the shared tail of every
# dedup-clustering oracle (min reachable id = cluster label, identical to the
# Spark operator's min-URI-of-component semantics; keep = argmax
# (n_chars, -doc_id); singletons their own kept cluster).
# CTE-only form (ends with a `clusters` CTE) so composite oracles
# (O_CURATION_PIPELINE) can keep chaining; _DUCK_CC_KEEP_TAIL adds the final
# select for the standalone clustering oracles.
_DUCK_CC_CLUSTERS = """
, dedges AS (
  SELECT doc_a AS a, doc_b AS b FROM jp UNION SELECT doc_b, doc_a FROM jp
), dnodes AS (
  SELECT DISTINCT a AS v FROM dedges
), reach(src, dst) AS (
  SELECT v, v FROM dnodes
  UNION
  SELECT r.src, e.b FROM reach r JOIN dedges e ON r.dst = e.a
), lbl AS (
  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
), asg AS (
  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id, d.n_chars
  FROM documents d LEFT JOIN lbl l USING (doc_id)
), csz AS (
  SELECT cluster_id, count(*) AS cluster_size FROM asg GROUP BY 1
), clusters AS (
  SELECT a.doc_id, a.cluster_id, s.cluster_size,
         row_number() OVER (PARTITION BY a.cluster_id ORDER BY a.n_chars DESC, a.doc_id ASC) = 1 AS keep
  FROM asg a JOIN csz s USING (cluster_id)
)"""

_DUCK_CC_KEEP_TAIL = (
    _DUCK_CC_CLUSTERS + "\nSELECT doc_id, cluster_id, cluster_size, keep FROM clusters\n"
)

O_DEDUP_CLUSTERS = (
    _DUCK_SHINGLES.format(nm1=2).replace("WITH toks AS", "WITH RECURSIVE toks AS", 1)
    + _DUCK_MINHASH_JP
    + _DUCK_CC_KEEP_TAIL
)


def q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import stratified_sample

    return stratified_sample(_read(spark, sf_dir, "documents"), fraction=0.2, stratum_col="lang")


O_DOC_SAMPLE_STRATIFIED = """
WITH hashed AS (
  SELECT doc_id, lang AS stratum,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents
), cnt AS (
  SELECT stratum, count(*) AS n_stratum, ceil(count(*) * 0.2)::BIGINT AS n_take
  FROM hashed GROUP BY 1
), ranked AS (
  SELECT hashed.*, row_number() OVER (PARTITION BY stratum ORDER BY h ASC, doc_id ASC) AS sample_rank
  FROM hashed
)
SELECT r.doc_id, r.stratum, r.sample_rank, c.n_stratum, c.n_take
FROM ranked r JOIN cnt c USING (stratum)
WHERE r.sample_rank <= c.n_take
"""


def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.curation import pack_sequences

    return pack_sequences(_read(spark, sf_dir, "documents"), budget=512, n_shards=8)


O_DOC_PACK_SEQUENCES = """
WITH toks AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
         len(list_filter(string_split(trim(regexp_replace(lower(COALESCE(text, '')), '\\W+', ' ', 'g')), ' '),
                         t -> t <> '')) AS n_tokens
  FROM documents
), packed AS (
  -- ::BIGINT casts: DuckDB's window sum yields HUGEINT (rendered 23.0) while
  -- Spark emits long — the driver's value hash needs identical renderings
  SELECT doc_id, shard, n_tokens,
         COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
  FROM toks
)
SELECT doc_id, shard, n_tokens::INT AS n_tokens, start_offset,
       (start_offset // 512)::BIGINT AS seq_idx FROM packed
"""


def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the curation operators: the 20% stratified sample is the
    eval holdout; the remaining 80% is the training corpus, decontaminated
    against the holdout's word 8-grams."""
    from .operators.curation import decontaminate, stratified_sample

    docs = _read(spark, sf_dir, "documents")
    samp = stratified_sample(docs, fraction=0.2, stratum_col="lang").select("doc_id")
    train = docs.join(samp, "doc_id", "left_anti")
    holdout = docs.join(samp, "doc_id", "inner")
    return decontaminate(train, holdout, shingle_n=8)


O_TEXT_DECONTAMINATE = (
    _DUCK_SHINGLES.format(nm1=7)
    + """
, hashed AS (
  SELECT doc_id, lang AS stratum,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents
), cnt AS (
  SELECT stratum, count(*) AS n_stratum, ceil(count(*) * 0.2)::BIGINT AS n_take
  FROM hashed GROUP BY 1
), ranked AS (
  SELECT hashed.*, row_number() OVER (PARTITION BY stratum ORDER BY h ASC, doc_id ASC) AS sample_rank
  FROM hashed
), samp AS (
  SELECT r.doc_id FROM ranked r JOIN cnt c USING (stratum) WHERE r.sample_rank <= c.n_take
), hold AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh
  WHERE doc_id IN (SELECT doc_id FROM samp)
), train_sh AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
  WHERE doc_id NOT IN (SELECT doc_id FROM samp)
), hits AS (
  SELECT doc_id, count(*) AS n_hit_shingles FROM train_sh JOIN hold USING (shingle) GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(h.n_hit_shingles, 0) AS n_hit_shingles,
       COALESCE(h.n_hit_shingles, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id NOT IN (SELECT doc_id FROM samp)
"""
)


def q_kg_entity_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.enrich import entity_pmi

    return entity_pmi(_links(spark, sf_dir), min_pairs=2)


O_KG_ENTITY_PMI = (
    SQL_PREFIX
    + """,
ents AS (SELECT DISTINCT conv_id, uri FROM chosen_flat),
pmi_pairs AS (
  SELECT a.uri AS uri_a, b.uri AS uri_b, count(*) AS n_ab
  FROM ents a JOIN ents b ON a.conv_id = b.conv_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 2
),
marg AS (SELECT uri, count(*) AS n FROM ents GROUP BY 1),
nc AS (SELECT count(DISTINCT conv_id) AS n_convs FROM ents)
SELECT p.uri_a, p.uri_b, p.n_ab::BIGINT AS n_ab, ma.n::BIGINT AS n_a, mb.n::BIGINT AS n_b,
       round(ln(p.n_ab::DOUBLE * nc.n_convs / (ma.n * mb.n)), 6) AS pmi
FROM pmi_pairs p
JOIN marg ma ON ma.uri = p.uri_a
JOIN marg mb ON mb.uri = p.uri_b
CROSS JOIN nc
"""
)


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chained end-to-end curation recipe a 100 TB training-data run
    executes (plans/curation.py is the checkpointed/resumable production
    driver; this contract row pins the same dataflow against one exact oracle):

        minhash pairs -> transitive clusters -> keep-best doc
        -> holdout carve-out (stratified sample) -> decontaminate vs holdout
        -> pack clean survivors into training sequences

    One output row per packed training doc, carrying its provenance
    (cluster id/size) and its packed position (shard, offsets). The pair frame
    is the shared memoized :func:`_minhash_pairs`."""
    from .operators.curation import dedup_clusters, decontaminate, pack_sequences, stratified_sample

    docs = _read(spark, sf_dir, "documents")
    clusters = checkpoint(dedup_clusters(docs, _minhash_pairs(spark, sf_dir)))
    kept = clusters.filter("keep").select("doc_id")
    samp = stratified_sample(docs, 0.2, "lang").select("doc_id")
    # holdout = eval carve-out over the FULL corpus (eval membership is decided
    # before dedup policy); train = kept representatives minus holdout
    train = docs.join(kept, "doc_id", "left_semi").join(samp, "doc_id", "left_anti")
    holdout = docs.join(samp, "doc_id", "left_semi")
    decon = decontaminate(train, holdout, shingle_n=8)
    clean = train.join(
        decon.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    return pack_sequences(clean, budget=512, n_shards=8).join(
        clusters.select("doc_id", "cluster_id", "cluster_size"), "doc_id"
    ).select("doc_id", "cluster_id", "cluster_size", "shard", "n_tokens", "start_offset", "seq_idx")


O_CURATION_PIPELINE = (
    _DUCK_SHINGLES.format(nm1=2).replace("WITH toks AS", "WITH RECURSIVE toks AS", 1)
    + _DUCK_MINHASH_JP
    + _DUCK_CC_CLUSTERS
    + """
, hashed AS (
  SELECT doc_id, lang AS stratum,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
  FROM documents
), cnt AS (
  SELECT stratum, ceil(count(*) * 0.2)::BIGINT AS n_take FROM hashed GROUP BY 1
), ranked AS (
  SELECT hashed.*, row_number() OVER (PARTITION BY stratum ORDER BY h ASC, doc_id ASC) AS sample_rank
  FROM hashed
), samp AS (
  SELECT r.doc_id FROM ranked r JOIN cnt c USING (stratum) WHERE r.sample_rank <= c.n_take
), train_ids AS (
  SELECT doc_id FROM clusters
  WHERE keep AND doc_id NOT IN (SELECT doc_id FROM samp)
), sh8 AS (
  SELECT doc_id,
         list_sort(list_distinct(
           [array_to_string(list_slice(words, i, i + 7), ' ')
            for i in generate_series(1, greatest(len(words) - 7, 0))])) AS shingles
  FROM toks
), hold AS (
  SELECT DISTINCT unnest(shingles) AS shingle FROM sh8
  WHERE doc_id IN (SELECT doc_id FROM samp)
), train_sh AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh8
  WHERE doc_id IN (SELECT doc_id FROM train_ids)
), hits AS (
  SELECT doc_id, count(*) AS n_hit FROM train_sh JOIN hold USING (shingle) GROUP BY 1
), clean AS (
  SELECT t.doc_id FROM train_ids t LEFT JOIN hits h USING (doc_id)
  WHERE COALESCE(h.n_hit, 0) = 0
), ptoks AS (
  SELECT c.doc_id,
         ('0x' || substr(md5(c.doc_id::VARCHAR), 1, 8))::BIGINT % 8 AS shard,
         len(list_filter(string_split(trim(regexp_replace(lower(d.text), '\\W+', ' ', 'g')), ' '),
                         t -> t <> '')) AS n_tokens
  FROM clean c JOIN documents d USING (doc_id)
), packed AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_offset
  FROM ptoks
)
SELECT p.doc_id, c.cluster_id, c.cluster_size, p.shard, p.n_tokens::INT AS n_tokens,
       p.start_offset, (p.start_offset // 512)::BIGINT AS seq_idx
FROM packed p JOIN clusters c USING (doc_id)
"""
)


# ---------------------------------------------------------------------------
# Enrichment mode (reference §3.3: occurrence counts + property assignment)
# ---------------------------------------------------------------------------


def q_kg_occurrences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.enrich import occurrence_counts

    return occurrence_counts(_links(spark, sf_dir))


O_KG_OCCURRENCES = (
    SQL_PREFIX
    + """
SELECT uri, count(*) AS occurrences FROM (
  SELECT unnest(string_split(chosen_uris, ' ')) AS uri FROM links
  WHERE chosen_uris IS NOT NULL AND chosen_uris != ''
) GROUP BY 1
"""
)

PROP_LAT = "http://kb.test/prop/lat"
PROP_LAT2 = "http://kb.test/prop/lat_fallback"
PROP_LON = "http://kb.test/prop/long"
PROP_LON2 = "http://kb.test/prop/long_fallback"


def q_kg_geo_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Property-priority assignment (GeodataGeneration.java:53-55 semantics):
    primary lat/long properties exist for nationkey % 3 != 0, the fallback
    property for everyone — the coalesce order decides."""
    from .operators.enrich import assign_property

    nat = _read(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("string")
    uri = F.concat(F.lit(f"{BASE}/nat/"), k)
    entities = nat.select(uri.alias("uri"), F.concat("n_name", F.lit("X")).alias("name"))
    primary = nat.filter(F.col("n_nationkey") % 3 != 0)
    geo_parts = [
        primary.select(uri.alias("subj"), F.lit(PROP_LAT).alias("pred"), F.concat(F.lit("4"), k, F.lit(".5")).alias("obj")),
        nat.select(uri.alias("subj"), F.lit(PROP_LAT2).alias("pred"), F.concat(F.lit("0."), k).alias("obj")),
        primary.select(uri.alias("subj"), F.lit(PROP_LON).alias("pred"), F.concat(F.lit("-"), k, F.lit(".25")).alias("obj")),
        nat.select(uri.alias("subj"), F.lit(PROP_LON2).alias("pred"), F.concat(F.lit("1."), k).alias("obj")),
    ]
    geo = geo_parts[0]
    for p in geo_parts[1:]:
        geo = geo.unionByName(p)
    out = assign_property(entities, geo, [PROP_LAT, PROP_LAT2], "lat")
    out = assign_property(out, geo, [PROP_LON, PROP_LON2], "lon")
    return out.select("uri", "name", "lat", "lon")


O_KG_GEO_ENRICH = f"""
WITH ent AS (
  SELECT '{BASE}/nat/' || CAST(n_nationkey AS VARCHAR) AS uri,
         n_name || 'X' AS name, n_nationkey AS k
  FROM nation
)
SELECT uri, name,
       CASE WHEN k % 3 != 0 THEN '4' || CAST(k AS VARCHAR) || '.5'
            ELSE '0.' || CAST(k AS VARCHAR) END AS lat,
       CASE WHEN k % 3 != 0 THEN '-' || CAST(k AS VARCHAR) || '.25'
            ELSE '1.' || CAST(k AS VARCHAR) END AS lon
FROM ent
"""


PROP_PIC = "http://kb.test/prop/depiction"
PROP_PIC2 = "http://kb.test/prop/image_fallback"
PROP_DOM = "http://kb.test/prop/fieldOfActivity"
PROP_DOM2 = "http://kb.test/prop/domain_fallback"
COMMONS = "http://commons.wikimedia.org"


def q_kg_author_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """persName enrichment (AuthorsEnrichment.java:29-75): depiction via the
    picProperties priority list restricted to commons.wikimedia values,
    field of activity via domaineProperties. Fixture: primary depiction
    property present for k % 5 != 0 (with a commons value only for even k),
    fallback (always commons) for everyone; primary domain for k % 3 != 0."""
    from .operators.enrich import author_enrichment

    nat = _read(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("string")
    uri = F.concat(F.lit(f"{BASE}/per/"), k)
    entities = nat.select(uri.alias("uri"), F.concat("n_name", F.lit("X")).alias("name"))
    primary = nat.filter(F.col("n_nationkey") % 5 != 0)
    even = primary.filter(F.col("n_nationkey") % 2 == 0)
    parts = [
        primary.select(uri.alias("subj"), F.lit(PROP_PIC).alias("pred"), F.concat(F.lit("http://example.org/pic/"), k, F.lit(".jpg")).alias("obj")),
        even.select(uri.alias("subj"), F.lit(PROP_PIC).alias("pred"), F.concat(F.lit(f"{COMMONS}/pic/"), k, F.lit(".jpg")).alias("obj")),
        nat.select(uri.alias("subj"), F.lit(PROP_PIC2).alias("pred"), F.concat(F.lit(f"{COMMONS}/alt/"), k, F.lit(".jpg")).alias("obj")),
        nat.filter(F.col("n_nationkey") % 3 != 0).select(uri.alias("subj"), F.lit(PROP_DOM).alias("pred"), F.concat(F.lit("Literature"), k).alias("obj")),
        nat.select(uri.alias("subj"), F.lit(PROP_DOM2).alias("pred"), F.concat(F.lit("Domain"), k).alias("obj")),
    ]
    kb = parts[0]
    for p in parts[1:]:
        kb = kb.unionByName(p)
    out = author_enrichment(entities, kb, [PROP_PIC, PROP_PIC2], [PROP_DOM, PROP_DOM2])
    return out.select("uri", "name", "depiction", "field_of_activity")


O_KG_AUTHOR_ENRICH = f"""
WITH ent AS (
  SELECT '{BASE}/per/' || CAST(n_nationkey AS VARCHAR) AS uri,
         n_name || 'X' AS name, n_nationkey AS k
  FROM nation
)
SELECT uri, name,
       CASE WHEN k % 5 = 0 THEN '{COMMONS}/alt/' || CAST(k AS VARCHAR) || '.jpg'
            WHEN k % 2 = 0 THEN '{COMMONS}/pic/' || CAST(k AS VARCHAR) || '.jpg'
            ELSE 'http://example.org/pic/' || CAST(k AS VARCHAR) || '.jpg' END AS depiction,
       CASE WHEN k % 3 != 0 THEN 'Literature' || CAST(k AS VARCHAR)
            ELSE 'Domain' || CAST(k AS VARCHAR) END AS field_of_activity
FROM ent
"""


# ---------------------------------------------------------------------------
# Run comparison (SignificanceTesting: paired tests over two runs' scores)
# ---------------------------------------------------------------------------


def q_rel_significance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t + Wilcoxon signed-rank over positionally-paired scores of two
    runs (SignificanceTesting.java:23-113 prepares the pairs, defers the test
    to R; here the statistics are computed in-engine). Scores derived
    deterministically from events as two pseudo-runs."""
    from .operators.compare import paired_t_test, wilcoxon_signed_rank

    ev = _read(spark, sf_dir, "events")
    paired = ev.select(
        ((F.col("event_id") % 13).cast("double") / 2).alias("score_a"),
        ((F.col("event_id") % 11).cast("double") / 2).alias("score_b"),
    )
    return paired_t_test(paired).crossJoin(wilcoxon_signed_rank(paired))


O_REL_SIGNIFICANCE = """
WITH d0 AS (
  SELECT (event_id % 13)::DOUBLE / 2 - (event_id % 11)::DOUBLE / 2 AS d FROM events
), t AS (
  -- count(d) skips null pairs, matching the null-skipping avg/stddev sample
  SELECT count(d) AS n, round(avg(d), 9) AS mean_diff, round(stddev_samp(d), 9) AS sd_diff
  FROM d0
), ranked AS (
  SELECT d, abs(d) AS abs_d, row_number() OVER (ORDER BY abs(d)) AS rn
  FROM d0 WHERE d != 0
), ar AS (
  SELECT d, avg(rn::DOUBLE) OVER (PARTITION BY abs_d) AS arank FROM ranked
), w AS (
  SELECT count(*) AS n_nonzero,
         round(sum(CASE WHEN d > 0 THEN arank ELSE 0 END), 6) AS w_plus
  FROM ar
)
SELECT n, mean_diff, sd_diff,
       round(mean_diff / (sd_diff / sqrt(n)), 6) AS t_stat,
       n_nonzero, w_plus
FROM t, w
"""


# ---------------------------------------------------------------------------
# Annotated-output sink + diagnostics (produceResults / printRelationFrequency)
# ---------------------------------------------------------------------------


def q_kg_annotated_refs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-occurrence ref_auto values with the uri(score) suffix
    (produceResults, ResultsAndEvaluationNEL.java:86-91)."""
    from .operators.annotate import annotate_links

    return annotate_links(_links(spark, sf_dir), add_scores=True)


O_KG_ANNOTATED_REFS = (
    SQL_PREFIX
    + """
SELECT conv_id, turn_idx, occ_idx, mention,
       CASE WHEN score IS NOT NULL
            THEN chosen_uris || '(' || CAST(score AS VARCHAR) || ')'
            ELSE chosen_uris END AS ref_auto
FROM links
"""
)


def q_kg_annotated_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn text with [ref] markers after each linked mention — the transcript
    analogue of the -outV3.xml sink."""
    from .operators.annotate import annotate_turns

    s = _kg_stack(spark, sf_dir)
    links = _links(spark, sf_dir)
    return annotate_turns(s["transcripts"], s["mentions"], links)


O_KG_ANNOTATED_TURNS = (
    SQL_PREFIX
    + """
SELECT t.conv_id, t.turn_idx,
       'On parla de ' || t.n1 || '[' || l0.chosen_uris || '] puis de ' || t.n2
        || '[' || l1.chosen_uris || '] ensemble.' AS annotated_text
FROM turns_raw t
JOIN links l0 ON l0.conv_id = t.conv_id AND l0.turn_idx = t.turn_idx AND l0.occ_idx = 0
JOIN links l1 ON l1.conv_id = t.conv_id AND l1.turn_idx = t.turn_idx AND l1.occ_idx = 1
"""
)


def q_kg_relation_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global predicate frequency over the fused conversation graphs
    (printRelationFrequency)."""
    from .operators.annotate import relation_frequency

    return relation_frequency(_graph_edges(spark, sf_dir))


O_KG_RELATION_FREQUENCY = SQL_PREFIX + "SELECT pred, count(*) AS n_edges FROM edges GROUP BY 1"


def q_dico_regex_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp dictionary probe (Lucene RegexpQuery path)."""
    from .operators.candidates import dico_regex_lookup

    d = derive_dico(spark, sf_dir)
    return dico_regex_lookup(d, "^nation_1[0-9]x$").select(
        "alias", "alias_norm", F.concat_ws(" ", "uris").alias("uris_joined")
    )


O_DICO_REGEX_LOOKUP = (
    SQL_PREFIX
    + """
SELECT alias, alias_norm, array_to_string(uris, ' ') AS uris_joined
FROM dico WHERE regexp_matches(alias_norm, '^nation_1[0-9]x$')
"""
)


def q_dico_build_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Place-source dictionary build (QueryPlaceDBpedia/WikiData semantics:
    language filter, letter shard, type gate, sameAs prefix filter, alt-label
    aliases, lat/lon typed columns) over a nation-derived place dump. The dump
    is multi-row per URI — every third place arrives as TWO SPARQL result rows
    (different alt-label/sameAs bindings), exercising the merge-by-URI fold."""
    from .plans.dico_build import build_place_dico

    n = _read(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    ks = k.cast("string")
    places = n.select(
        F.concat(F.lit("http://kb.test/place/"), ks).alias("uri"),
        F.col("n_name").alias("label"),
        F.when(k % 5 == 0, "en").otherwise("fr").alias("label_lang"),
        F.when(k % 2 == 0, F.concat(F.lit("Alt "), F.col("n_name"))).alias("alt_label"),
        F.when(k % 4 == 0, "en").otherwise("fr").alias("alt_lang"),
        (k % 7 != 0).alias("is_place"),
        (k.cast("double") * 1.5).alias("lat"),
        (k.cast("double") * -0.5).alias("lon"),
        F.when(k % 3 == 0, F.concat(F.lit("http://dbpedia.org/resource/P"), ks))
        .otherwise(F.concat(F.lit("http://other.kb/P"), ks))
        .alias("sameas"),
    )
    second = n.filter(k % 3 == 0).select(
        F.concat(F.lit("http://kb.test/place/"), ks).alias("uri"),
        F.col("n_name").alias("label"),
        F.when(k % 5 == 0, "en").otherwise("fr").alias("label_lang"),
        F.concat(F.lit("Aka "), F.col("n_name")).alias("alt_label"),
        F.lit("fr").alias("alt_lang"),
        (k % 7 != 0).alias("is_place"),
        (k.cast("double") * 1.5).alias("lat"),
        (k.cast("double") * -0.5).alias("lon"),
        F.concat(F.lit("http://dbpedia.org/resource/Q"), ks).alias("sameas"),
    )
    return build_place_dico(places.unionByName(second)).select(
        "alias", "alias_norm", "name", "letter", "lat", "lon",
        F.concat_ws(" ", "uris").alias("uris_joined"),
    )


O_DICO_BUILD_PLACES = """
WITH places AS (
  SELECT 'http://kb.test/place/' || CAST(n_nationkey AS VARCHAR) AS uri,
         n_name AS label,
         CASE WHEN n_nationkey % 5 = 0 THEN 'en' ELSE 'fr' END AS label_lang,
         CASE WHEN n_nationkey % 2 = 0 THEN 'Alt ' || n_name END AS alt_label,
         CASE WHEN n_nationkey % 4 = 0 THEN 'en' ELSE 'fr' END AS alt_lang,
         n_nationkey % 7 != 0 AS is_place,
         CAST(n_nationkey AS DOUBLE) * 1.5 AS lat,
         CAST(n_nationkey AS DOUBLE) * -0.5 AS lon,
         CASE WHEN n_nationkey % 3 = 0 THEN 'http://dbpedia.org/resource/P' || CAST(n_nationkey AS VARCHAR)
              ELSE 'http://other.kb/P' || CAST(n_nationkey AS VARCHAR) END AS sameas
  FROM nation
  UNION ALL
  SELECT 'http://kb.test/place/' || CAST(n_nationkey AS VARCHAR),
         n_name,
         CASE WHEN n_nationkey % 5 = 0 THEN 'en' ELSE 'fr' END,
         'Aka ' || n_name,
         'fr',
         n_nationkey % 7 != 0,
         CAST(n_nationkey AS DOUBLE) * 1.5,
         CAST(n_nationkey AS DOUBLE) * -0.5,
         'http://dbpedia.org/resource/Q' || CAST(n_nationkey AS VARCHAR)
  FROM nation WHERE n_nationkey % 3 = 0
), filtered AS (
  SELECT * FROM places WHERE is_place AND lower(label_lang) = 'fr'
), merged AS (
  -- merge-by-URI: fold alt-label / sameAs bindings of one place into sets,
  -- mirroring the Spark builder's groupBy('uri') + collect_set; the
  -- representative (label, lat, lon) is one struct-min = a coherent binding
  -- row, coordinate-bearing bindings first (+inf sentinel for null coords)
  SELECT uri,
         min({'m': (lat IS NULL OR lon IS NULL), 'label': label,
              'klat': coalesce(lat, 'infinity'::DOUBLE),
              'klon': coalesce(lon, 'infinity'::DOUBLE)}) AS rep,
         list_sort(list_distinct(list(CASE WHEN sameas LIKE 'http://dbpedia.org/%' THEN sameas END))) AS sameas_refs,
         list_sort(list_distinct(list(CASE WHEN lower(alt_lang) = 'fr' THEN alt_label END))) AS alt_labels
  FROM filtered GROUP BY uri
), lettered AS (
  SELECT uri, rep.label AS label,
         CASE WHEN rep.klat = 'infinity'::DOUBLE THEN NULL ELSE rep.klat END AS lat,
         CASE WHEN rep.klon = 'infinity'::DOUBLE THEN NULL ELSE rep.klon END AS lon,
         sameas_refs, alt_labels,
         CASE WHEN regexp_matches(lower(substr(label, 1, 1)), '^[a-z]$')
              THEN lower(substr(label, 1, 1)) ELSE 'other' END AS letter,
         CASE WHEN len(sameas_refs) > 0 THEN uri || ' ' || array_to_string(sameas_refs, ' ')
              ELSE uri END AS uris_joined
  FROM merged
), exploded AS (
  SELECT unnest(list_distinct([label] || alt_labels)) AS alias,
         label, letter, lat, lon, uris_joined
  FROM lettered
)
SELECT alias,
       lower(regexp_replace(alias, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm,
       label AS name, letter, lat, lon, uris_joined
FROM exploded WHERE alias != ''
"""


def q_dico_geonames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geonames-dump -> dico transform over a nation-derived dump shape."""
    from .plans.dico_build import geonames_to_dico

    nat = _read(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("string")
    raw = nat.select(
        F.col("n_nationkey").alias("geonameid"),
        F.col("n_name").alias("name"),
        F.when(
            F.col("n_nationkey") % 4 != 0, F.concat(F.lit("Alt"), k, F.lit(",Aka"), k)
        ).alias("alternatenames"),
    )
    return geonames_to_dico(raw).select(
        "alias", "alias_norm", "name", "ne_type", F.concat_ws(" ", "uris").alias("uris_joined")
    )


O_DICO_GEONAMES = """
WITH raw AS (
  SELECT n_nationkey AS geonameid, n_name AS name,
         CASE WHEN n_nationkey % 4 != 0
              THEN 'Alt' || CAST(n_nationkey AS VARCHAR) || ',Aka' || CAST(n_nationkey AS VARCHAR)
         END AS alternatenames
  FROM nation
), names AS (
  SELECT 'http://sws.geonames.org/' || CAST(geonameid AS VARCHAR) || '/' AS uri, name AS alias FROM raw
  UNION ALL
  SELECT 'http://sws.geonames.org/' || CAST(geonameid AS VARCHAR) || '/',
         unnest(string_split(COALESCE(alternatenames, ''), ','))
  FROM raw
)
SELECT DISTINCT alias,
       lower(regexp_replace(alias, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm,
       alias AS name, 'LOC' AS ne_type, uri AS uris_joined
FROM names WHERE alias != ''
"""


# ---------------------------------------------------------------------------
# Comparison / analysis extras (reference extra/ package)
# ---------------------------------------------------------------------------


def q_kg_population_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold entities covered by the crawled KB subjects
    (CalculatePopulationCompletenessLD semantics; even nation keys only have
    base-URI subjects in kb_edges => completeness < 1)."""
    from .operators.compare import population_completeness

    gold = derive_gold(spark, sf_dir)
    kb_uris = derive_kb_edges(spark, sf_dir).select(F.col("subj").alias("uri"))
    out = population_completeness(gold, kb_uris)
    return out.select(
        "n_gold_entities", "n_covered", F.round("completeness", 6).alias("completeness")
    )


O_KG_POPULATION = (
    SQL_PREFIX
    + """
SELECT g.n AS n_gold_entities, c.n AS n_covered,
       round(c.n::DOUBLE / g.n, 6) AS completeness
FROM (SELECT count(*) AS n FROM (SELECT DISTINCT gold_uri FROM gold WHERE gold_uri IS NOT NULL)) g,
     (SELECT count(*) AS n FROM (SELECT DISTINCT gold_uri FROM gold WHERE gold_uri IS NOT NULL)
      WHERE gold_uri IN (SELECT subj FROM kb_edges)) c
"""
)


def q_kg_score_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score recovery from 'uri(0.123)'-style annotations
    (SignificanceTesting.prepareData)."""
    from .operators.compare import scores_from_annotations

    nat = _read(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("string")
    annotated = nat.select(
        F.col("n_nationkey").cast("int").alias("key"),
        F.concat(F.lit(f"{BASE}/nat/"), k, F.lit("(0."), k, F.lit(")")).alias("ref_auto"),
    )
    return scores_from_annotations(annotated).select("key", F.round("score", 6).alias("score"))


O_KG_SCORE_EXTRACT = f"""
SELECT CAST(n_nationkey AS INTEGER) AS key,
       round(CAST(regexp_extract('{BASE}/nat/' || CAST(n_nationkey AS VARCHAR)
                  || '(0.' || CAST(n_nationkey AS VARCHAR) || ')', '\\((\\d[\\d.]*)\\)', 1) AS DOUBLE), 6) AS score
FROM nation
"""


def q_rel_lifespan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date->year extraction over the reference's accepted masks ('yyyy',
    'yyyy-MM-dd', 'dd..' century mask) + pairwise life-span overlap
    (DateSpecificProcessingNEL.java:15-63)."""
    from .functions.text import life_span_overlap, year_from_date

    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    k = F.col("c_custkey")
    birth_raw = (
        F.when(k % 3 == 0, F.concat((F.lit(1800) + k % 80).cast("string"), F.lit("-06-15")))
        .when(k % 3 == 1, (F.lit(1800) + k % 80).cast("string"))
        .otherwise(F.lit("18.."))
    )
    death_raw = (F.lit(1850) + k % 80).cast("string")
    df = c.select(
        k.cast("int").alias("key"),
        birth_raw.alias("birth_raw"),
        death_raw.alias("death_raw"),
        year_from_date(birth_raw).alias("birth_year"),
        year_from_date(death_raw).alias("death_year"),
    )
    ref_b = F.lit(1820)
    ref_d = F.lit(1870)
    return df.select(
        "key",
        "birth_year",
        "death_year",
        life_span_overlap(F.col("birth_year"), F.col("death_year"), ref_b, ref_d).alias("overlap_1820_1870"),
    )


O_REL_LIFESPAN = """
WITH p AS (
  SELECT CAST(c_custkey AS INTEGER) AS key,
         CASE WHEN c_custkey % 3 = 0 THEN CAST(1800 + c_custkey % 80 AS VARCHAR) || '-06-15'
              WHEN c_custkey % 3 = 1 THEN CAST(1800 + c_custkey % 80 AS VARCHAR)
              ELSE '18..' END AS birth_raw,
         CAST(1850 + c_custkey % 80 AS VARCHAR) AS death_raw
  FROM customer WHERE c_custkey <= 200
), y AS (
  SELECT key,
         CASE WHEN regexp_extract(birth_raw, '^(\\d{4})', 1) != ''
                THEN CAST(regexp_extract(birth_raw, '^(\\d{4})', 1) AS INTEGER)
              WHEN regexp_extract(birth_raw, '^(\\d{2})\\.\\.', 1) != ''
                THEN CAST(regexp_extract(birth_raw, '^(\\d{2})\\.\\.', 1) AS INTEGER) * 100
         END AS birth_year,
         CAST(regexp_extract(death_raw, '^(\\d{4})', 1) AS INTEGER) AS death_year
  FROM p
)
SELECT key, birth_year, death_year,
       greatest(0, least(death_year, 1870) - greatest(birth_year, 1820)) AS overlap_1820_1870
FROM y
"""


# ---------------------------------------------------------------------------
# Dictionary-build job over a derived person table
# ---------------------------------------------------------------------------


def q_dico_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.dico_build import build_dico

    c = _read(spark, sf_dir, "customer")
    persons = c.select(
        F.concat(F.lit("http://kb.test/person/"), F.col("c_custkey").cast("string")).alias("uri"),
        F.concat(F.lit("Jean"), (F.col("c_custkey") % 7).cast("string")).alias("first_name"),
        F.concat(F.lit("Martin"), F.col("c_custkey").cast("string")).alias("last_name"),
        F.when(F.col("c_custkey") % 2 == 0, "male").otherwise("female").alias("gender"),
        (F.lit(1800) + F.col("c_custkey") % 100).cast("string").alias("birth_date"),
        (F.lit(1850) + F.col("c_custkey") % 100).cast("string").alias("death_date"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(F.lit("http://ext.kb/person/"), F.col("c_custkey").cast("string")),
        ).alias("ref"),
        F.when(
            F.col("c_custkey") % 4 == 0,
            # the ' (pseudonyme)' suffix on every 8th key exercises the
            # reference's truncate-at-'(' of rejected forms (BNF :176-178)
            F.concat(
                F.lit("Rejected"),
                F.col("c_custkey").cast("string"),
                F.when(F.col("c_custkey") % 8 == 0, F.lit(" (pseudonyme)")).otherwise(F.lit("")),
            ),
        ).alias("rejected_form"),
    )
    d = build_dico(persons, greater_than=1820, lesser_than=1880)
    return d.select("alias", "alias_norm", "name", "letter", F.concat_ws(" ", "uris").alias("uris_joined"))


O_DICO_BUILD = """
WITH persons AS (
  SELECT 'http://kb.test/person/' || CAST(c_custkey AS VARCHAR) AS uri,
         'Jean' || CAST(c_custkey % 7 AS VARCHAR) AS first_name,
         'Martin' || CAST(c_custkey AS VARCHAR) AS last_name,
         CASE WHEN c_custkey % 2 = 0 THEN 'M' ELSE 'Mme' END AS title,
         CAST(1800 + c_custkey % 100 AS VARCHAR) AS birth_date,
         CAST(1850 + c_custkey % 100 AS VARCHAR) AS death_date,
         CASE WHEN c_custkey % 3 = 0 THEN 'http://ext.kb/person/' || CAST(c_custkey AS VARCHAR) END AS ref,
         -- truncate-at-'(' applied here mirrors clean_label on the Spark side
         CASE WHEN c_custkey % 4 = 0 THEN trim(split_part(
           'Rejected' || CAST(c_custkey AS VARCHAR) ||
           CASE WHEN c_custkey % 8 = 0 THEN ' (pseudonyme)' ELSE '' END, '(', 1)) END AS rejected_form,
         1800 + c_custkey % 100 AS birth_year
  FROM customer
), filtered AS (
  SELECT * FROM persons WHERE birth_year > 1820 AND birth_year < 1880
), exploded AS (
  SELECT unnest(list_distinct(
           [first_name || ' ' || last_name,
            last_name,
            title || ' ' || last_name,
            title || '. ' || last_name,
            title || ' ' || first_name || ' ' || last_name,
            title || '. ' || first_name || ' ' || last_name,
            'J ' || last_name,
            'J. ' || last_name] ||
           CASE WHEN rejected_form IS NOT NULL THEN [rejected_form] ELSE [] END
         )) AS alias,
         last_name || ', ' || first_name || ' (' || birth_date || '-' || death_date || ')' AS name,
         lower(substring(last_name, 1, 1)) AS letter,
         uri || CASE WHEN ref IS NOT NULL THEN ' ' || ref ELSE '' END AS uris_joined
  FROM filtered
)
SELECT alias, lower(regexp_replace(alias, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm, name, letter, uris_joined
FROM exploded WHERE alias != ''
"""


def q_dico_build_bne(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BNE-source builder over a synthetic author dump derived from supplier:
    two SPARQL-style result rows per author (different rejected form / ref),
    a has-work gate via n_works, hyphenated accepted forms (display-name
    normalization), a digit-initial subset (the 'other' letter bucket) and a
    '(seudonimo)' suffix exercising the truncate-at-'(' path."""
    from .plans.dico_build import build_bne_dico

    s = _read(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    ks = k.cast("string")
    base = s.select(
        F.concat(F.lit("http://kb.test/bne/author/"), ks).alias("uri"),
        F.concat(
            F.when(k % 10 == 0, F.lit("3")).otherwise(F.lit("")),
            F.lit("Garcia-Marquez"),
            ks,
        ).alias("accepted_form"),
        (k % 5).alias("n_works"),
        k.alias("k"),
    )
    kk = F.col("k")
    kks = kk.cast("string")
    row1 = base.select(
        "uri",
        "accepted_form",
        "n_works",
        F.when(kk % 3 == 0, F.concat(F.lit("Gabo"), kks, F.lit(" (seudonimo)")))
        .when(kk % 3 == 1, F.concat(F.lit("G. Marquez "), kks))
        .alias("rejected_form"),
        F.when(kk % 2 == 0, F.concat(F.lit("http://ext.kb/bne/"), kks)).alias("ref"),
    )
    row2 = base.select(
        "uri",
        "accepted_form",
        "n_works",
        F.when(kk % 4 == 0, F.concat(F.lit("El Maestro "), kks)).alias("rejected_form"),
        F.when(kk % 3 == 0, F.concat(F.lit("http://other.kb/bne/"), kks)).alias("ref"),
    )
    d = build_bne_dico(row1.unionByName(row2))
    return d.select("alias", "alias_norm", "name", "letter", F.concat_ws(" ", "uris").alias("uris_joined"))


O_DICO_BUILD_BNE = """
WITH base AS (
  SELECT 'http://kb.test/bne/author/' || CAST(s_suppkey AS VARCHAR) AS uri,
         CASE WHEN s_suppkey % 10 = 0 THEN '3' ELSE '' END
           || 'Garcia-Marquez' || CAST(s_suppkey AS VARCHAR) AS accepted_form,
         s_suppkey % 5 AS n_works,
         s_suppkey AS k
  FROM supplier
), rows_ AS (
  SELECT uri, accepted_form, n_works,
         CASE WHEN k % 3 = 0 THEN 'Gabo' || CAST(k AS VARCHAR) || ' (seudonimo)'
              WHEN k % 3 = 1 THEN 'G. Marquez ' || CAST(k AS VARCHAR) END AS rejected_form,
         CASE WHEN k % 2 = 0 THEN 'http://ext.kb/bne/' || CAST(k AS VARCHAR) END AS ref
  FROM base
  UNION ALL
  SELECT uri, accepted_form, n_works,
         CASE WHEN k % 4 = 0 THEN 'El Maestro ' || CAST(k AS VARCHAR) END,
         CASE WHEN k % 3 = 0 THEN 'http://other.kb/bne/' || CAST(k AS VARCHAR) END
  FROM base
), sharded AS (
  SELECT *, CASE WHEN lower(substring(accepted_form, 1, 1)) BETWEEN 'a' AND 'z'
                 THEN lower(substring(accepted_form, 1, 1)) ELSE 'other' END AS letter
  FROM rows_ WHERE n_works > 0
), merged AS (
  SELECT uri, any_value(accepted_form) AS accepted_form, any_value(letter) AS letter,
         list_sort(list_distinct(list(trim(split_part(rejected_form, '(', 1))))) AS rejected_forms,
         list_sort(list_distinct(list(ref))) AS refs
  FROM sharded GROUP BY uri
)
SELECT alias,
       lower(regexp_replace(alias, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm,
       regexp_replace(regexp_replace(trim(replace(accepted_form, '-', ' ')),
                                     '''', ''' ', 'g'), '  ', ' ', 'g') AS name,
       letter,
       array_to_string([uri] || refs, ' ') AS uris_joined
FROM merged, unnest(rejected_forms) AS t(alias)
WHERE alias != ''
"""


def q_dico_build_dbpediafr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBpedia-fr person builder over a synthetic dump derived from orders
    (keys cut to ~1/3 by modulo): FR/EN primary-label mix (lang filter),
    parenthesised primary labels kept VERBATIM while redirects truncate at
    '(', dbpedia.org vs wikidata sameAs targets (prefix inclusion), and a
    digit-initial subset for the 'other' letter bucket."""
    from .plans.dico_build import build_dbpediafr_person_dico

    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 < 3)
    k = F.col("o_orderkey")
    ks = k.cast("string")
    base = o.select(
        F.concat(F.lit("http://fr.dbpedia.org/resource/p"), ks).alias("uri"),
        F.when(k % 9 == 0, F.concat(F.lit("9Moliere"), ks))
        .when(k % 4 == 0, F.concat(F.lit("Jean-Racine"), ks, F.lit(" (dramaturge)")))
        .otherwise(F.concat(F.lit("Corneille"), ks))
        .alias("label"),
        F.when(k % 7 == 0, F.lit("en")).otherwise(F.lit("fr")).alias("label_lang"),
        k.alias("k"),
    )
    kk = F.col("k")
    kks = kk.cast("string")
    row1 = base.select(
        "uri",
        "label",
        "label_lang",
        F.when(kk % 2 == 0, F.concat(F.lit("Le Grand "), kks, F.lit(" (homonymie)"))).alias(
            "redirect_label"
        ),
        F.when(kk % 6 == 0, F.lit("en")).otherwise(F.lit("fr")).alias("redirect_lang"),
        F.when(kk % 3 == 0, F.concat(F.lit("http://dbpedia.org/resource/P"), kks)).alias("sameas"),
    )
    row2 = base.select(
        "uri",
        "label",
        "label_lang",
        F.when(kk % 5 == 0, F.concat(F.lit("L'Auteur "), kks)).alias("redirect_label"),
        F.lit("fr").alias("redirect_lang"),
        F.when(kk % 4 == 0, F.concat(F.lit("http://www.wikidata.org/entity/Q"), kks)).alias(
            "sameas"
        ),
    )
    d = build_dbpediafr_person_dico(row1.unionByName(row2))
    return d.select("alias", "alias_norm", "name", "letter", F.concat_ws(" ", "uris").alias("uris_joined"))


O_DICO_BUILD_DBPEDIAFR = """
WITH base AS (
  SELECT 'http://fr.dbpedia.org/resource/p' || CAST(o_orderkey AS VARCHAR) AS uri,
         CASE WHEN o_orderkey % 9 = 0 THEN '9Moliere' || CAST(o_orderkey AS VARCHAR)
              WHEN o_orderkey % 4 = 0 THEN 'Jean-Racine' || CAST(o_orderkey AS VARCHAR) || ' (dramaturge)'
              ELSE 'Corneille' || CAST(o_orderkey AS VARCHAR) END AS label,
         CASE WHEN o_orderkey % 7 = 0 THEN 'en' ELSE 'fr' END AS label_lang,
         o_orderkey AS k
  FROM orders WHERE o_orderkey % 10 < 3
), rows_ AS (
  SELECT uri, label, label_lang,
         CASE WHEN k % 2 = 0 THEN 'Le Grand ' || CAST(k AS VARCHAR) || ' (homonymie)' END AS redirect_label,
         CASE WHEN k % 6 = 0 THEN 'en' ELSE 'fr' END AS redirect_lang,
         CASE WHEN k % 3 = 0 THEN 'http://dbpedia.org/resource/P' || CAST(k AS VARCHAR) END AS sameas
  FROM base
  UNION ALL
  SELECT uri, label, label_lang,
         CASE WHEN k % 5 = 0 THEN 'L''Auteur ' || CAST(k AS VARCHAR) END,
         'fr',
         CASE WHEN k % 4 = 0 THEN 'http://www.wikidata.org/entity/Q' || CAST(k AS VARCHAR) END
  FROM base
), filtered AS (
  SELECT *, CASE WHEN lower(substring(label, 1, 1)) BETWEEN 'a' AND 'z'
                 THEN lower(substring(label, 1, 1)) ELSE 'other' END AS letter
  FROM rows_ WHERE lower(label_lang) = 'fr'
), merged AS (
  SELECT uri, any_value(label) AS label, any_value(letter) AS letter,
         list_sort(list_distinct(list(CASE WHEN sameas LIKE 'http://dbpedia.org/%' THEN sameas END))) AS refs,
         list_sort(list_distinct(list(CASE WHEN lower(redirect_lang) = 'fr'
                                           THEN trim(split_part(redirect_label, '(', 1)) END))) AS redirects
  FROM filtered GROUP BY uri
)
SELECT alias,
       lower(regexp_replace(alias, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm,
       regexp_replace(regexp_replace(trim(replace(label, '-', ' ')),
                                     '''', ''' ', 'g'), '  ', ' ', 'g') AS name,
       letter,
       array_to_string([uri] || refs, ' ') AS uris_joined
FROM merged, unnest(list_distinct([label] || redirects)) AS t(alias)
WHERE alias != ''
"""


def q_dico_build_getty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getty ULAN builder over a synthetic concept dump derived from part:
    comma-split prefLabels (incl. no-comma and hyphenated variants), an
    'other'-bucket digit-initial subset, AAT gender codes (incl. missing),
    own-vocab exactMatch refs (excluded) vs external refs (kept), and a
    '(pittore)' alt label kept VERBATIM — the no-truncation semantics that
    distinguish Getty from BNF/BNE."""
    from .plans.dico_build import GETTY_FEMALE_CODE, build_getty_dico

    male = "http://vocab.getty.edu/aat/300189559"
    p = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    ks = k.cast("string")
    base = p.select(
        F.concat(F.lit("http://vocab.getty.edu/ulan/"), ks).alias("uri"),
        F.when(k % 10 == 0, F.concat(F.lit("3Vinci"), ks))
        .when(k % 5 == 0, F.concat(F.lit("Rembrandt"), ks))
        .when(k % 7 == 0, F.concat(F.lit("Van-Dyck"), ks, F.lit(", Antoon"), ks))
        .otherwise(F.concat(F.lit("Vermeer"), ks, F.lit(", Johannes"), ks))
        .alias("pref_label"),
        F.when(k % 3 == 0, F.lit(GETTY_FEMALE_CODE))
        .when(k % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit(male))
        .alias("gender"),
        k.alias("k"),
    )
    kk = F.col("k")
    kks = kk.cast("string")
    row1 = base.select(
        "uri",
        "pref_label",
        F.when(kk % 4 == 0, F.concat(F.lit("Il Maestro (pittore) "), kks)).alias("alt_label"),
        F.when(kk % 2 == 0, F.concat(F.lit("http://vocab.getty.edu/aat/3001"), kks)).alias("ref"),
        "gender",
    )
    row2 = base.select(
        "uri",
        "pref_label",
        F.when(kk % 6 == 0, F.concat(F.lit("Le Peintre "), kks)).alias("alt_label"),
        F.when(kk % 3 == 0, F.concat(F.lit("http://ext.kb/ulan/"), kks)).alias("ref"),
        "gender",
    )
    d = build_getty_dico(row1.unionByName(row2))
    return d.select("alias", "alias_norm", "name", "letter", F.concat_ws(" ", "uris").alias("uris_joined"))


O_DICO_BUILD_GETTY = """
WITH base AS (
  SELECT 'http://vocab.getty.edu/ulan/' || CAST(p_partkey AS VARCHAR) AS uri,
         CASE WHEN p_partkey % 10 = 0 THEN '3Vinci' || CAST(p_partkey AS VARCHAR)
              WHEN p_partkey % 5 = 0 THEN 'Rembrandt' || CAST(p_partkey AS VARCHAR)
              WHEN p_partkey % 7 = 0 THEN 'Van-Dyck' || CAST(p_partkey AS VARCHAR)
                                          || ', Antoon' || CAST(p_partkey AS VARCHAR)
              ELSE 'Vermeer' || CAST(p_partkey AS VARCHAR)
                   || ', Johannes' || CAST(p_partkey AS VARCHAR) END AS nom,
         CASE WHEN p_partkey % 3 = 0 THEN 'http://vocab.getty.edu/aat/300189557'
              WHEN p_partkey % 11 = 0 THEN NULL
              ELSE 'http://vocab.getty.edu/aat/300189559' END AS gender,
         p_partkey AS k
  FROM part
), rows_ AS (
  SELECT uri, nom, gender,
         CASE WHEN k % 4 = 0 THEN 'Il Maestro (pittore) ' || CAST(k AS VARCHAR) END AS alt,
         CASE WHEN k % 2 = 0 THEN 'http://vocab.getty.edu/aat/3001' || CAST(k AS VARCHAR) END AS ref
  FROM base
  UNION ALL
  SELECT uri, nom, gender,
         CASE WHEN k % 6 = 0 THEN 'Le Peintre ' || CAST(k AS VARCHAR) END,
         CASE WHEN k % 3 = 0 THEN 'http://ext.kb/ulan/' || CAST(k AS VARCHAR) END
  FROM base
), named AS (
  SELECT uri, alt, ref,
         trim(replace(split_part(nom, ',', 1), '-', ' ')) AS last,
         trim(replace(CASE WHEN instr(nom, ',') > 0
                           THEN split_part(nom, ',', 2) ELSE '' END, '-', ' ')) AS first,
         CASE WHEN gender = 'http://vocab.getty.edu/aat/300189557' THEN 'Mme' ELSE 'M' END AS title,
         CASE WHEN lower(substring(nom, 1, 1)) BETWEEN 'a' AND 'z'
              THEN lower(substring(nom, 1, 1)) ELSE 'other' END AS letter
  FROM rows_
), merged AS (
  SELECT uri, any_value(last) AS last, any_value(first) AS first,
         any_value(title) AS title, any_value(letter) AS letter,
         list_sort(list_distinct(list(CASE WHEN ref NOT LIKE 'http://vocab.getty.edu%' THEN ref END))) AS refs,
         list_sort(list_distinct(list(alt))) AS alts
  FROM named GROUP BY uri
), aliased AS (
  SELECT *,
         CASE WHEN first != '' THEN
           list_value(first || ' ' || last, last,
                      title || ' ' || last, title || '. ' || last,
                      title || ' ' || first || ' ' || last,
                      title || '. ' || first || ' ' || last,
                      substring(first, 1, 1) || ' ' || last,
                      substring(first, 1, 1) || '. ' || last)
         ELSE list_value(last, title || ' ' || last, title || '. ' || last) END AS gen
  FROM merged
)
SELECT alias,
       lower(regexp_replace(alias, '[\\s\\x0b\\xa0 ]|''|-', '', 'g')) AS alias_norm,
       CASE WHEN first = '' THEN last ELSE last || ', ' || first END AS name,
       letter,
       array_to_string([uri] || refs, ' ') AS uris_joined
FROM aliased, unnest(list_distinct(gen || alts)) AS t(alias)
WHERE alias != ''
"""


# The contract: 36 rows, each with an exact DuckDB oracle, within the
# 50-row oracle budget. tests/test_driver_contract.py checks every row
# against its oracle.
QUERIES = {
    "kg_entity_pmi": q_kg_entity_pmi,
    "kg_annotated_turns": q_kg_annotated_turns,
    "kg_correct_mentions": q_kg_correct_mentions,
    "kg_score_extract": q_kg_score_extract,
    "kg_occurrences": q_kg_occurrences,
    "kg_author_enrich": q_kg_author_enrich,
    "rel_significance": q_rel_significance,
    "curation_pipeline": q_curation_pipeline,
    "doc_pack_sequences": q_doc_pack_sequences,
    "dedup_clusters": q_dedup_clusters,
    "dedup_minhash_lsh": q_dedup_minhash,
    "kg_mentions": q_kg_mentions,
    "kg_candidates": q_kg_candidates,
    "kg_conversation_cases": q_kg_cases,
    "kg_fused_edges": q_kg_fused_edges,
    "kg_pruned_degrees": q_kg_degrees,
    "kg_links": q_kg_links,
    "kg_canonical_components": q_kg_canonical,
    "kg_triples": q_kg_triples,
    "kg_eval_metrics": q_kg_eval_metrics,
    "dico_build": q_dico_build,
    "doc_sample_stratified": q_doc_sample_stratified,
    "text_decontaminate": q_text_decontaminate,
    "kg_eval_verdicts": q_kg_eval_verdicts,
    "kg_preannotate": q_kg_preannotate,
    "kg_annotated_refs": q_kg_annotated_refs,
    "kg_relation_frequency": q_kg_relation_frequency,
    "kg_geo_enrich": q_kg_geo_enrich,
    "kg_population_completeness": q_kg_population_completeness,
    "dico_build_places": q_dico_build_places,
    "dico_build_bne": q_dico_build_bne,
    "dico_build_getty": q_dico_build_getty,
    "dico_build_dbpediafr": q_dico_build_dbpediafr,
    "dico_regex_lookup": q_dico_regex_lookup,
    "dico_geonames": q_dico_geonames,
    "rel_lifespan": q_rel_lifespan,
}

ORACLES = {
    "kg_entity_pmi": O_KG_ENTITY_PMI,
    "kg_annotated_turns": O_KG_ANNOTATED_TURNS,
    "kg_correct_mentions": O_KG_CORRECT_MENTIONS,
    "kg_score_extract": O_KG_SCORE_EXTRACT,
    "kg_occurrences": O_KG_OCCURRENCES,
    "kg_author_enrich": O_KG_AUTHOR_ENRICH,
    "rel_significance": O_REL_SIGNIFICANCE,
    "curation_pipeline": O_CURATION_PIPELINE,
    "doc_pack_sequences": O_DOC_PACK_SEQUENCES,
    "dedup_clusters": O_DEDUP_CLUSTERS,
    "dedup_minhash_lsh": O_DEDUP_MINHASH,
    "kg_mentions": O_KG_MENTIONS,
    "kg_candidates": O_KG_CANDIDATES,
    "kg_conversation_cases": O_KG_CASES,
    "kg_fused_edges": O_KG_FUSED_EDGES,
    "kg_pruned_degrees": O_KG_DEGREES,
    "kg_links": O_KG_LINKS,
    "kg_canonical_components": O_KG_CANONICAL,
    "kg_triples": O_KG_TRIPLES,
    "kg_eval_metrics": O_KG_EVAL_METRICS,
    "dico_build": O_DICO_BUILD,
    "doc_sample_stratified": O_DOC_SAMPLE_STRATIFIED,
    "text_decontaminate": O_TEXT_DECONTAMINATE,
    "kg_eval_verdicts": O_KG_EVAL_VERDICTS,
    "kg_preannotate": O_KG_PREANNOTATE,
    "kg_annotated_refs": O_KG_ANNOTATED_REFS,
    "kg_relation_frequency": O_KG_RELATION_FREQUENCY,
    "kg_geo_enrich": O_KG_GEO_ENRICH,
    "kg_population_completeness": O_KG_POPULATION,
    "dico_build_places": O_DICO_BUILD_PLACES,
    "dico_build_bne": O_DICO_BUILD_BNE,
    "dico_build_getty": O_DICO_BUILD_GETTY,
    "dico_build_dbpediafr": O_DICO_BUILD_DBPEDIAFR,
    "dico_regex_lookup": O_DICO_REGEX_LOOKUP,
    "dico_geonames": O_DICO_GEONAMES,
    "rel_lifespan": O_REL_LIFESPAN,
}

assert len(QUERIES) == 36 and set(QUERIES) == set(ORACLES), (
    len(QUERIES),
    set(QUERIES) ^ set(ORACLES),
)
