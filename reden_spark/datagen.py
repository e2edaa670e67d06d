"""Deterministic synthetic fixture generator (FIXTURES.md, seed=42).

Produces the five KG-pipeline tables — transcripts, dico, mention_terms, kb_edges,
rel_weights, gold_links (+ kb_persons for the dictionary-build job) — as parquet,
with the structural hazards of the reference corpus built in:

  * ambiguous alias with 2 candidate groups (the "M. Barre" case,
    /root/reference/output/thibaudet_reflexions-resEvalV3.txt:11-18);
  * PER/LOC homograph alias (the "France" case, MainNELApp.java:255-257);
  * triples hanging off sameAs aliases rather than base URIs (alias-folding path,
    GraphHandlerNEL.java:255-292), incl. one %-encoded-last-segment fallback case
    (GraphHandlerNEL.java:293-330);
  * per-entity "solo" KB resources that the <2-mention-bridge prune must drop
    (CentralityHandler.java:100-122);
  * base-subject non-sameAs triples that must NOT become graph edges (fusion reads
    alias subjects only, GraphHandlerNEL.java:251-333);
  * NIL mentions (annotatable term absent from the dictionary);
  * conversation mix: ambiguous / no-ambiguity / no-mentions (gate cases,
    MainNELApp.checkConditionsToNEL :418-442);
  * skew: conversation 0 gets `skew_factor`x the median turn count.

No network, no external data: everything is synthesized from the specs below.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from .functions.aliases import make_aliases, normalised_name
from .functions.gazetteer import GazetteerMatcher
from .functions.text import SAME_AS, normalize_mention_py

BASE_PREFIX = "http://kb.test/base"
PRED_KNOWS = "http://kb.test/pred/knows"
PRED_ASSOC = "http://kb.test/pred/assoc"
PRED_NOTE = "http://kb.test/pred/note"

# (slug, first, last, gender, birth, death, cluster)
AUTHORS = [
    ("hugo", "Victor", "Hugo", "male", "1802", "1885", 0),
    ("barre-a", "Maurice", "Barre", "male", "1862", "1923", 0),
    ("moreas", "Jean", "Moréas", "male", "1856", "1910", 0),
    ("mallarme", "Stéphane", "Mallarmé", "male", "1842", "1898", 0),
    ("verlaine", "Paul", "Verlaine", "male", "1844", "1896", 1),
    ("france-a", "Anatole", "France", "male", "1844", "1924", 1),
    ("rimbaud", "Arthur", "Rimbaud", "male", "1854", "1891", 1),
    ("colette", "Sidonie Gabrielle", "Colette", "female", "1873", "1954", 1),
    ("balzac", "Honoré de", "Balzac", "male", "1799", "1850", 2),
    ("sand", "George", "Sand", "female", "1804", "1876", 2),
    ("stael", "Germaine de", "Staël", "female", "1766", "1817", 2),
    ("nerval", "Gérard de", "Nerval", "male", "1808", "1855", 2),
    ("barre-b", "Paul", "Barre", "male", "1810", "1887", 3),
    ("flaubert", "Gustave", "Flaubert", "male", "1821", "1880", 3),
    ("zola", "Émile", "Zola", "male", "1840", "1902", 3),
    ("daudet", "Alphonse", "Daudet", "male", "1840", "1897", 3),
    ("musset", "Alfred de", "Musset", "male", "1810", "1857", 4),
    ("vigny", "Alfred de", "Vigny", "male", "1797", "1863", 4),
    ("lamartine", "Alphonse de", "Lamartine", "male", "1790", "1869", 4),
    ("gautier", "Théophile", "Gautier", "male", "1811", "1872", 5),
    ("baudelaire", "Charles", "Baudelaire", "male", "1821", "1867", 5),
    ("proust", "Marcel", "Proust", "male", "1871", "1922", 5),
    ("renan", "Ernest", "Renan", "male", "1823", "1892", 5),
]

# (slug, name, cluster)
PLACES = [
    ("paris", "Paris", 0),
    ("france-loc", "France", 4),  # homograph with Anatole France's family-name alias
    ("champagne", "Champagne", 1),
    ("provence", "Provence", 2),
    ("normandie", "Normandie", 3),
    ("bretagne", "Bretagne", 4),
    ("rouen", "Rouen", 3),
    ("lyon", "Lyon", 5),
]

# alt URI whose KB triples exist only under the %-encoded-last-segment form.
ENCODED_ALT_SLUG = "moreas"

NIL_TERMS = ["M. Inconnu", "Madame Personne"]

N_CLUSTERS = 6
RES_PER_CLUSTER = 3

FILLER = (
    "nous avons relu les pages du manuscrit hier soir et la discussion sur le style "
    "fut longue puis chacun nota ses remarques dans le cahier avant de reprendre la "
    "lecture des chapitres au sujet des oeuvres citées"
).split()

TEMPLATES = [
    "Nous avons relu {0} hier soir avec attention.",
    "{0} écrivait souvent à {1} au sujet du manuscrit.",
    "Dans ce chapitre, {0} cite {1} et aussi {2}.",
    "La correspondance entre {0} et {1} reste célèbre.",
    "On discuta longuement de {0} pendant la soirée.",
    "Le cahier mentionne {0}, puis {1} vers la fin.",
    "Selon {0}, le style de {1} annonçait {2}.",
    "Une note rappelle que {0} admirait {1} profondément.",
]

NO_MENTION_TEXTS = [
    "La séance fut levée sans autre remarque notable.",
    "Chacun reprit ensuite la lecture du manuscrit en silence.",
    "Le cahier resta fermé pendant toute la soirée.",
]


def base_uri(slug: str, ne_type: str) -> str:
    kind = "per" if ne_type == "PER" else "loc"
    return f"{BASE_PREFIX}/{kind}/{slug}"


def alt_uri(slug: str) -> str:
    if slug == ENCODED_ALT_SLUG:
        # last segment needs %-encoding: its KB triples are stored under the
        # encoded subject form only (fallback probe, GraphHandlerNEL.java:293-330)
        return "http://kb.test/alt/moréas enc"
    return f"http://kb.test/alt/{slug}"


def ext_uri(slug: str) -> str:
    return f"http://ext.kb/{slug}"


EXTRA_FIRST = [
    "Adrien", "Blanche", "Camille", "Denise", "Edmond", "Félicie", "Gaston",
    "Hortense", "Isidore", "Juliette", "Léonce", "Mathilde", "Narcisse", "Octavie",
]
EXTRA_LAST = [
    "Moreau", "Dupont", "Lefebvre", "Garnier", "Rousseau", "Perrot", "Chevalier",
    "Marchand", "Fontaine", "Beaumont", "Girard", "Lacroix", "Bertrand", "Aubert",
]


def _extra_entities(n: int) -> list[dict]:
    """Deterministic synthetic authors beyond the hand-written core — sized like a
    real gazetteer (BnF/Geonames dictionaries carry 10^4-10^6 aliases, the scale
    the alphabet-sharded crawler exists for, AppAdhoc.java:70-74). Unique last
    names => no unintended extra ambiguity; the hazard cases stay in the core."""
    ents = []
    for i in range(n):
        first = EXTRA_FIRST[i % len(EXTRA_FIRST)]
        last = f"{EXTRA_LAST[i % len(EXTRA_LAST)]}{i:04d}"
        gender = "male" if i % 2 == 0 else "female"
        birth = str(1750 + (i * 7) % 120)
        death = str(int(birth) + 40 + (i * 3) % 45)
        ents.append(
            {
                "slug": f"extra{i:05d}",
                "ne_type": "PER",
                "first": first,
                "last": last,
                "gender": gender,
                "birth": birth,
                "death": death,
                "cluster": i % N_CLUSTERS,
                "aliases": make_aliases(first, last, gender),
                "name": normalised_name(first, last, birth, death),
            }
        )
    return ents


def _entities(n_extra: int) -> list[dict]:
    ents = []
    for slug, first, last, gender, birth, death, cluster in AUTHORS:
        ents.append(
            {
                "slug": slug,
                "ne_type": "PER",
                "first": first,
                "last": last,
                "gender": gender,
                "birth": birth,
                "death": death,
                "cluster": cluster,
                "aliases": make_aliases(first, last, gender),
                "name": normalised_name(first, last, birth, death),
            }
        )
    for slug, name, cluster in PLACES:
        ents.append(
            {
                "slug": slug,
                "ne_type": "LOC",
                "first": None,
                "last": name,
                "gender": None,
                "birth": None,
                "death": None,
                "cluster": cluster,
                "aliases": [name],
                "name": name,
            }
        )
    ents.extend(_extra_entities(n_extra))
    return ents


def build_dico(entities: list[dict]) -> list[dict]:
    rows = []
    for e in entities:
        uris = [base_uri(e["slug"], e["ne_type"]), alt_uri(e["slug"])]
        for alias in e["aliases"]:
            rows.append(
                {
                    "alias": alias,
                    "alias_norm": normalize_mention_py(alias),
                    "name": e["name"],
                    "ne_type": e["ne_type"],
                    "uris": uris,
                }
            )
    rows.sort(key=lambda r: (r["alias"], r["ne_type"], tuple(r["uris"])))
    return rows


def build_kb_edges(entities: list[dict]) -> list[dict]:
    from .functions.text import encode_last_segment_py

    rows = []
    for i, e in enumerate(entities):
        b = base_uri(e["slug"], e["ne_type"])
        alt = alt_uri(e["slug"])
        has_ext = i % 2 == 0
        # alias-subject KB triples: the %-encoded hazard entity stores them only
        # under the encoded subject form.
        alt_subj = encode_last_segment_py(alt) if e["slug"] == ENCODED_ALT_SLUG else alt
        for k in range(RES_PER_CLUSTER):
            rows.append(
                {
                    "subj": alt_subj,
                    "pred": PRED_KNOWS,
                    "obj": f"http://kb.test/res/c{e['cluster']}/r{k}",
                    "weight": 2.0,
                }
            )
        # solo resource: bridges only this entity -> must be pruned.
        rows.append(
            {"subj": alt_subj, "pred": PRED_ASSOC, "obj": f"http://kb.test/res/solo/{e['slug']}", "weight": 1.0}
        )
        # base-subject non-sameAs triple: fusion must IGNORE it (alias subjects only).
        rows.append({"subj": b, "pred": PRED_NOTE, "obj": f"http://kb.test/res/note/{e['slug']}", "weight": 1.0})
        if has_ext:
            ext = ext_uri(e["slug"])
            rows.append({"subj": b, "pred": SAME_AS, "obj": ext, "weight": 1.0})
            # ext-alias triples add one extra shared resource edge per cluster.
            rows.append(
                {
                    "subj": ext,
                    "pred": PRED_ASSOC,
                    "obj": f"http://kb.test/res/c{e['cluster']}/ext",
                    "weight": 1.0,
                }
            )
    rows.sort(key=lambda r: (r["subj"], r["pred"], r["obj"]))
    return rows


MAX_CONV_ENTITIES = 12


def _conv_plan(rng: random.Random, conv_idx: int, entities: list[dict]) -> tuple[str, list[dict]]:
    """Pick a conversation kind + participant entities.

    Known fixture skews (accepted — deliberately NOT changed mid-benchmark
    since every cached bench corpus and pinned count derives from this
    generator): clusters 2 and 5 carry no ambiguous alias, so their
    graph-kind conversations route NoAmbiguity at the gate (the graph path is
    still exercised by clusters 0/1/3/4); and the single-alias LOC entity
    'France' is itself ambiguous with a family name, so a few simple-kind
    conversations route Ok. conversation_cases, not this label, decides the
    actual path — the oracle and pipeline agree either way.

    Topic locality: a conversation discusses a bounded working set of entities
    (<= MAX_CONV_ENTITIES, sampled from its cluster) and keeps returning to
    them — like real transcripts, where occurrences vastly outnumber distinct
    mentions. With a small core entity list the sample is the whole cluster
    (deterministic fixtures unchanged); with a gazetteer-scale dictionary it
    keeps per-conversation candidate sets realistic instead of letting every
    conversation touch thousands of entities once each."""
    kind_roll = conv_idx % 10
    if kind_roll == 9:
        return "none", []
    cluster = conv_idx % N_CLUSTERS
    members = [e for e in entities if e["cluster"] == cluster]
    if len(members) > MAX_CONV_ENTITIES:
        # keep the hand-written core members (they carry the ambiguity/homograph
        # hazards every 'graph' conversation needs) + a sample of the gazetteer
        core = [e for e in members if not e["slug"].startswith("extra")]
        extra = [e for e in members if e["slug"].startswith("extra")]
        members = core + rng.sample(extra, max(0, MAX_CONV_ENTITIES - len(core)))
    if kind_roll in (7, 8):
        # no-ambiguity conversation: only aliases that map to a single dico group.
        return "simple", members
    return "graph", members


def generate(
    out_dir: str | Path,
    n_convs: int = 60,
    mean_turns: int = 16,
    seed: int = 42,
    skew_factor: int = 20,
    with_gold: bool = True,
    sentences_per_turn: int = 1,
    n_extra_entities: int = 0,
) -> dict[str, str]:
    """Generate all fixture tables under out_dir; returns {table: path}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = random.Random(seed)
    entities = _entities(n_extra_entities)
    dico_rows = build_dico(entities)
    kb_rows = build_kb_edges(entities)

    # alias ambiguity map: alias -> set of distinct uri-groups
    groups_by_alias: dict[str, set[tuple[str, ...]]] = {}
    for r in dico_rows:
        groups_by_alias.setdefault(r["alias"], set()).add(tuple(r["uris"]))
    ambiguous_aliases = {a for a, g in groups_by_alias.items() if len(g) > 1}

    # entity -> usable surface forms for text placement (subset of aliases that
    # read naturally; exclude bare-initials forms to keep text plausible)
    def surface_forms(e: dict, allow_ambiguous: bool) -> list[str]:
        forms = [a for a in e["aliases"] if "." not in a or a.startswith(("M.", "Mme."))]
        if not allow_ambiguous:
            forms = [a for a in forms if a not in ambiguous_aliases]
        return forms or [e["aliases"][0]]

    all_terms = sorted({r["alias"] for r in dico_rows} | set(NIL_TERMS))
    matcher = GazetteerMatcher(all_terms)

    t_rows: list[dict] = []
    gold_rows: list[dict] = []
    epoch = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
    roles = ["user", "assistant", "tool", "assistant"]

    for c in range(n_convs):
        conv_id = f"conv{c:06d}"
        kind, members = _conv_plan(rng, c, entities)
        n_turns = max(2, int(rng.gauss(mean_turns, mean_turns / 4)))
        if c == 0:
            n_turns *= skew_factor  # skewed mega-conversation
        # per-conversation gold resolution for ambiguous terms: the cluster member wins
        term_gold: dict[str, str | None] = {}
        for e in members:
            for a in e["aliases"]:
                term_gold[a] = base_uri(e["slug"], e["ne_type"])
        for nil in NIL_TERMS:
            term_gold[nil] = None

        placed_ambiguous = False

        def make_sentence(t: int, force_ambiguous: bool) -> tuple[str, bool]:
            tmpl = TEMPLATES[rng.randrange(len(TEMPLATES))]
            n_slots = tmpl.count("{")
            picks = []
            for _s in range(n_slots):
                e = members[rng.randrange(len(members))]
                forms = surface_forms(e, allow_ambiguous=(kind == "graph"))
                form = forms[rng.randrange(len(forms))]
                if kind == "simple" and form in ambiguous_aliases:
                    form = e["aliases"][0]
                picks.append(form)
            if kind == "graph" and rng.random() < 0.08:
                picks[0] = NIL_TERMS[rng.randrange(len(NIL_TERMS))]
            if force_ambiguous:
                amb_members = [e for e in members if any(a in ambiguous_aliases for a in e["aliases"])]
                if amb_members:
                    e = amb_members[0]
                    picks[0] = next(a for a in e["aliases"] if a in ambiguous_aliases)
            return tmpl.format(*picks), any(p in ambiguous_aliases for p in picks)

        for t in range(n_turns):
            role = roles[t % len(roles)]
            if kind == "none" or (kind != "none" and rng.random() < 0.12):
                text = NO_MENTION_TEXTS[t % len(NO_MENTION_TEXTS)]
            else:
                sents = []
                for si in range(sentences_per_turn):
                    force = (
                        kind == "graph" and not placed_ambiguous and t >= n_turns - 3 and si == 0
                    )
                    s_text, amb = make_sentence(t, force)
                    if amb or force:
                        placed_ambiguous = True
                    sents.append(s_text)
                    if si + 1 < sentences_per_turn:
                        # filler between sentences pads the turn toward realistic length
                        off = rng.randrange(8)
                        sents.append(" ".join(FILLER[off : off + 9]) + ".")
                text = " ".join(sents)
            t_rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": t,
                    "role": role,
                    "text": text,
                    "tool": "search" if role == "tool" else None,
                    "ts": epoch + dt.timedelta(seconds=c * 86400 + t * 7),
                }
            )
            if with_gold:
                for occ_idx, (term, start) in enumerate(matcher.find(text)):
                    gold_rows.append(
                        {
                            "conv_id": conv_id,
                            "turn_idx": t,
                            "occ_idx": occ_idx,
                            "mention": term,
                            "gold_uri": term_gold.get(term),
                        }
                    )

    paths: dict[str, str] = {}

    def write(name: str, rows: list[dict], schema: pa.schema) -> None:
        table = pa.Table.from_pylist(rows, schema=schema)
        p = out / f"{name}.parquet"
        # small row groups: Spark splits parquet at row-group granularity, so a
        # single fixture file still fans out across every core without an
        # up-front repartition shuffle (16k rows ~ 1-2 MB compressed: the
        # 600k-turn bench corpus gets ~37 real splits, enough for local[32];
        # 64k-row groups capped it at 10 and starved 2/3 of the cores)
        pq.write_table(table, p, row_group_size=16384)
        paths[name] = str(p)

    write(
        "transcripts",
        t_rows,
        pa.schema(
            [
                ("conv_id", pa.string()),
                ("turn_idx", pa.int32()),
                ("role", pa.string()),
                ("text", pa.string()),
                ("tool", pa.string()),
                ("ts", pa.timestamp("us", tz="UTC")),
            ]
        ),
    )
    write(
        "dico",
        dico_rows,
        pa.schema(
            [
                ("alias", pa.string()),
                ("alias_norm", pa.string()),
                ("name", pa.string()),
                ("ne_type", pa.string()),
                ("uris", pa.list_(pa.string())),
            ]
        ),
    )
    write(
        "mention_terms",
        [{"term": t, "ne_type": None} for t in all_terms],
        pa.schema([("term", pa.string()), ("ne_type", pa.string())]),
    )
    write(
        "kb_edges",
        kb_rows,
        pa.schema(
            [("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()), ("weight", pa.float64())]
        ),
    )
    write(
        "rel_weights",
        [{"pred": PRED_KNOWS, "weight": 2.0}],
        pa.schema([("pred", pa.string()), ("weight", pa.float64())]),
    )
    if with_gold:
        write(
            "gold_links",
            gold_rows,
            pa.schema(
                [
                    ("conv_id", pa.string()),
                    ("turn_idx", pa.int32()),
                    ("occ_idx", pa.int32()),
                    ("mention", pa.string()),
                    ("gold_uri", pa.string()),
                ]
            ),
        )
    # raw person table for the dictionary-build job
    kb_persons = [
        {
            "uri": base_uri(s, "PER"),
            "first_name": f,
            "last_name": l,
            "gender": g,
            "birth_date": b + "-01-01" if i % 3 == 0 else b,
            "death_date": d,
            "ref": ext_uri(s) if i % 2 == 0 else None,
            "rejected_form": f"{l}, {f}" if i % 4 == 0 else None,
        }
        for i, (s, f, l, g, b, d, _c) in enumerate(AUTHORS)
    ]
    write(
        "kb_persons",
        kb_persons,
        pa.schema(
            [
                ("uri", pa.string()),
                ("first_name", pa.string()),
                ("last_name", pa.string()),
                ("gender", pa.string()),
                ("birth_date", pa.string()),
                ("death_date", pa.string()),
                ("ref", pa.string()),
                ("rejected_form", pa.string()),
            ]
        ),
    )
    return paths


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--n-convs", type=int, default=60)
    ap.add_argument("--mean-turns", type=int, default=16)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--skew-factor", type=int, default=20)
    ap.add_argument("--no-gold", action="store_true")
    a = ap.parse_args()
    p = generate(a.out_dir, a.n_convs, a.mean_turns, a.seed, a.skew_factor, not a.no_gold)
    for k, v in p.items():
        print(k, v)
