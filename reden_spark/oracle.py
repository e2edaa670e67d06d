"""Single-node pure-Python reimplementation of the reference NEL algorithm.

This is the *parity oracle* (SURVEY.md §5): it reproduces, deterministically, the
dataflow of MainNELApp.namedEntityLinking (/root/reference/src/fr/lip6/reden/
MainNELApp.java:184-357) — candidate lookup, sameAs expansion, graph fusion with
alias folding, <2-mention-bridge pruning, degree centrality, argmax + preferred-URI
projection, and the simple no-ambiguity path. The Spark pipeline must produce
identical links on the same input; tests assert that.

Documented divergences from the reference (each replaces unspecified Java
HashMap/HashSet iteration order with a deterministic rule; fixtures + gates are
defined under these rules):
  D1 candidate-group order: sorted by uris tuple (Lucene result order in the
     reference is unspecified; affects produceResultsSimple's group.get(0)).
  D2 argmax tie-break: (score desc, uri desc) (Util.sortByValue keeps HashMap
     order on equal values, Util.java:53-68).
  D3 (src,dst) edge dedup keeps min (pred) (JGraphT addEdge keeps the first
     inserted, model iteration order unspecified, GraphHandlerNEL.java:288).
  D4 inverted index: keyed on raw AND decomposed URIs, max(mention) wins
     (reference: raw keys only, last-writer-wins, DicoProcessingNEL.java:387-401).
  D5 multi-NE-type mentions: groups are unioned across NE types (reference
     overwrites per tag order, TODO at MainNELApp.java:255-257).
  D6 winner->group matching compares decomposed forms (reference compares a
     decomposed winner against raw group members, CentralityHandler.java:193).
  D7 a shared equivalent URI folds its edges onto EVERY base candidate that
     lists it (reference: the cross-group alreadyProcessedURI gate,
     GraphHandlerNEL.java:124,146-182, attributes it to whichever group the
     unspecified mention iteration order loads first — order-dependent and
     irreproducible in a parallel engine; the Spark pipeline folds to all,
     and the oracle matches it).
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field

from .functions.gazetteer import GazetteerMatcher
from .functions.text import (
    LINKS_TO,
    SAME_AS,
    decompose_py,
    encode_last_segment_py,
)

Group = tuple[str, ...]


@dataclass
class KB:
    """In-memory KB index: subj -> [(pred, obj)], plus sameAs adjacency."""

    by_subj: dict[str, list[tuple[str, str]]] = field(default_factory=dict)
    sameas: dict[str, list[str]] = field(default_factory=dict)

    @classmethod
    def from_rows(cls, rows: list[tuple[str, str, str]]) -> "KB":
        kb = cls()
        for subj, pred, obj in rows:
            kb.by_subj.setdefault(subj, []).append((pred, obj))
            if pred == SAME_AS:
                kb.sameas.setdefault(subj, []).append(obj)
        for lst in kb.by_subj.values():
            lst.sort()
        for lst in kb.sameas.values():
            lst.sort()
        return kb


def build_dico_map(dico_rows: list[dict]) -> dict[str, list[Group]]:
    """normalized alias -> ordered deduped candidate groups (D1, D5).

    Mirrors DicoProcessingNEL.retrieveMentionsURIsFromDicoWithIndex
    (DicoProcessingNEL.java:144-183): per-alias list of URI groups, identical
    groups deduplicated. Keyed on replaceNonAlphabeticCharacters(alias)
    (:91-93,151) — the same normalized form the Spark join uses (alias_norm) —
    so raw aliases that normalize identically ('Jean-Paul X' / 'Jean Paul X')
    contribute to ONE lookup entry, exactly like the alias_norm equi-join.
    """
    from .functions.text import normalize_mention_py

    acc: dict[str, set[Group]] = defaultdict(set)
    for r in dico_rows:
        acc[normalize_mention_py(r["alias"])].add(tuple(r["uris"]))
    return {a: sorted(gs) for a, gs in acc.items()}


def candidates_for_mentions(mentions: list[str], dico_map: dict[str, list[Group]]) -> dict[str, list[Group]]:
    """Lookup on the normalized mention (DicoProcessingNEL.java:91-93); keys of
    the returned dict stay the raw surface forms."""
    from .functions.text import normalize_mention_py

    out: dict[str, list[Group]] = {}
    for m in mentions:
        groups = dico_map.get(normalize_mention_py(m))
        if groups:
            out[m] = list(groups)
    return out


def check_conditions(cands: dict[str, list[Group]], occurrences: list[str]) -> str:
    """MainNELApp.checkConditionsToNEL (:418-442)."""
    if not occurrences:
        return "NoMentionsAnnotated"
    for m in occurrences:
        if m in cands and len(cands[m]) > 1:
            return "Ok"
    return "NoAmbiguity"


def _colored_nodes(cands: dict[str, list[Group]], base_prefix: str) -> set[str]:
    """Candidate base-KB URIs + their decomposed forms (CentralityHandler.java:78-97)."""
    colored: set[str] = set()
    for groups in cands.values():
        for group in groups:
            for uri in group:
                if base_prefix in uri:
                    colored.add(uri)
                    colored.add(decompose_py(uri))
    return colored


def _alias_map(
    cands: dict[str, list[Group]], kb: KB, base_prefix: str, crawl_sameas: str = "ALL"
) -> dict[str, set[str]]:
    """base URI -> equivalent (decomposed) URIs — retrieveAndLoadSameAsRDFData
    (GraphHandlerNEL.java:114-197): per group, sameAs objects of base members +
    non-base group members; keyed by the group's last base member. The
    `crawlSameAs` prefix (:143-167) restricts the case-1 (sameAs-object)
    expansion only — case-2 dictionary members always load."""
    out: dict[str, set[str]] = defaultdict(set)
    for groups in cands.values():
        for group in groups:
            base = ""
            aliases: set[str] = set()
            for uri in group:
                if base_prefix in uri:
                    base = uri
                    for obj in kb.sameas.get(uri, []):
                        if crawl_sameas == "ALL" or obj.startswith(crawl_sameas):
                            aliases.add(decompose_py(obj))
                else:
                    aliases.add(decompose_py(uri))
            out[base] |= aliases
    return out


def fuse_graph(
    cands: dict[str, list[Group]],
    kb: KB,
    base_prefix: str,
    rel_weights: dict[str, float],
    crawl_sameas: str = "ALL",
) -> tuple[set[str], dict[tuple[str, str], tuple[str, float]]]:
    """GraphHandlerNEL.fuseRDFGraphsIntoJGTGraph (:211-343).

    Returns (vertices, edges{(src,dst): (pred, weight)}). Edges originate at the
    *base* vertex even though the subject was a sameAs alias (alias folding); a
    second predicate between the same (src,dst) is dropped (D3); aliases with no
    raw-subject triples are re-probed with a %-encoded last path segment
    (:293-330); sameAs predicates and self-loops are skipped.
    """
    alias_map = _alias_map(cands, kb, base_prefix, crawl_sameas)
    base_uris: set[str] = set()
    for groups in cands.values():
        for group in groups:
            for uri in group:
                if base_prefix in uri:
                    base_uris.add(uri)

    vertices: set[str] = set()
    candidate_edges: dict[tuple[str, str], list[tuple[str, float]]] = defaultdict(list)
    for base in sorted(base_uris):
        v1 = decompose_py(base)
        vertices.add(v1)
        for alias in sorted(alias_map.get(base, set())):
            if alias.lower() == base.lower():
                continue
            triples = kb.by_subj.get(alias)
            if not triples:  # encoded-last-segment fallback (:293-330)
                triples = kb.by_subj.get(encode_last_segment_py(alias), [])
            for pred, obj in triples:
                if pred == SAME_AS:
                    continue
                v2 = decompose_py(obj)
                if v1.lower() == v2.lower():
                    continue
                w = rel_weights.get(pred.lower(), 1.0)
                candidate_edges[(v1, v2)].append((pred, w))

    edges: dict[tuple[str, str], tuple[str, float]] = {}
    for key, plist in candidate_edges.items():
        edges[key] = min(plist)  # D3
        vertices.add(key[0])
        vertices.add(key[1])
    return vertices, edges


def build_inverted_index(cands: dict[str, list[Group]]) -> dict[str, str]:
    """URI -> mention (D4) — DicoProcessingNEL.buildInvertedIndex (:387-401)."""
    index: dict[str, str] = {}
    for mention in sorted(cands):
        for group in cands[mention]:
            for uri in group:
                for key in (uri, decompose_py(uri)):
                    if key not in index or mention > index[key]:
                        index[key] = mention
    return index


def prune_graph(
    vertices: set[str],
    edges: dict[tuple[str, str], tuple[str, float]],
    colored: set[str],
    inverted: dict[str, str],
) -> tuple[set[str], dict[tuple[str, str], tuple[str, float]]]:
    """Drop non-candidate vertices bridging <2 mentions (CentralityHandler.java:100-122)."""
    incident: dict[str, list[tuple[str, str]]] = defaultdict(list)
    for (s, d) in edges:
        incident[s].append((s, d))
        incident[d].append((s, d))
    to_delete: set[str] = set()
    for v in vertices:
        if v in colored:
            continue
        mention_check: set[str | None] = set()
        for (s, d) in incident.get(v, []):
            for other in (s, d):
                if other != v and other in colored:
                    mention_check.add(inverted.get(other))
        if len(mention_check) < 2:
            to_delete.add(v)
    kept_vertices = vertices - to_delete
    kept_edges = {k: v for k, v in edges.items() if k[0] in kept_vertices and k[1] in kept_vertices}
    return kept_vertices, kept_edges


def degree_centrality(
    vertices: set[str], edges: dict[tuple[str, str], tuple[str, float]]
) -> dict[str, float]:
    """Raw degree (in+out) per vertex. The reference's DegreeCentrality may
    normalize by (n-1); argmax is invariant to that monotone scaling."""
    deg: dict[str, float] = {v: 0.0 for v in vertices}
    for (s, d) in edges:
        deg[s] += 1.0
        deg[d] += 1.0
    return deg


def _sym_adj(edges: dict[tuple[str, str], tuple[str, float]]) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = defaultdict(set)
    for (s, d) in edges:
        adj[s].add(d)
        adj[d].add(s)
    return adj


EIGEN_ITERS = 12


def _round_half_up(x: float, decimals: int = 12) -> float:
    """Quantize like Spark's F.round / Java BigDecimal HALF_UP (Python's builtin
    round() is banker's HALF_EVEN — a value landing exactly on a half-way point
    would diverge between the engines). repr(x) mirrors BigDecimal.valueOf's
    shortest-decimal conversion of the double."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-decimals)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def eigenvector_centrality(
    vertices: set[str], edges: dict[tuple[str, str], tuple[str, float]], iters: int = EIGEN_ITERS
) -> dict[str, float]:
    """Unweighted symmetric power iteration, max-normalized and rounded HALF_UP
    to 12 decimals per round (the rounding pins cross-engine float determinism:
    an engine that sums neighbor scores in arbitrary order and quantizes with
    Spark's F.round gets the same values, whose HALF_UP mode this matches
    exactly). Deterministic
    spec for the reference's EigenvectorCentrality
    (CentralityHandler.java:147-148) — argmax semantics, not bit-level
    jgrapht-sna parity."""
    adj = _sym_adj(edges)
    x = {v: 1.0 for v in vertices}
    for _ in range(iters):
        nx = {v: sum(x[n] for n in sorted(adj.get(v, ()))) for v in vertices}
        mx = max(nx.values(), default=0.0)
        x = {v: _round_half_up(nx[v] / mx) if mx > 0 else 0.0 for v in vertices}
    return x


def closeness_centrality(
    vertices: set[str], edges: dict[tuple[str, str], tuple[str, float]]
) -> dict[str, float]:
    """Freeman closeness (CentralityHandler.java:144-146) as
    reachable_count / sum(BFS distances) over the undirected unweighted graph;
    0.0 for isolated vertices. Deterministic rational arithmetic rounded to 12
    decimals."""
    adj = _sym_adj(edges)
    out: dict[str, float] = {}
    for v in vertices:
        dist = {v: 0}
        frontier = [v]
        d = 0
        while frontier:
            d += 1
            nxt = []
            for u in frontier:
                for n in adj.get(u, ()):
                    if n not in dist:
                        dist[n] = d
                        nxt.append(n)
            frontier = nxt
        far = sum(dist.values())
        out[v] = round((len(dist) - 1) / far, 12) if far > 0 else 0.0
    return out


def betweenness_centrality(
    vertices: set[str], edges: dict[tuple[str, str], tuple[str, float]]
) -> dict[str, float]:
    """Brandes betweenness (CentralityHandler.java:141-143) on the undirected
    unweighted graph — the classic O(VE) accumulation, rounded to 12 decimals."""
    adj = _sym_adj(edges)
    cb: dict[str, float] = {v: 0.0 for v in vertices}
    for s in sorted(vertices):
        stack: list[str] = []
        preds: dict[str, list[str]] = defaultdict(list)
        sigma = {v: 0.0 for v in vertices}
        sigma[s] = 1.0
        dist = {s: 0}
        queue = [s]
        while queue:
            v = queue.pop(0)
            stack.append(v)
            for w in sorted(adj.get(v, ())):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    queue.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = {v: 0.0 for v in vertices}
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                cb[w] += delta[w]
    return {v: round(c / 2.0, 12) for v, c in cb.items()}  # undirected: halve


CENTRALITY_MEASURES = (
    "DegreeCentrality",
    "BrandesBetweennessCentrality",
    "FreemanClosenessCentrality",
    "EigenvectorCentrality",
)


def centrality_scores(
    vertices: set[str],
    edges: dict[tuple[str, str], tuple[str, float]],
    measure: str = "DegreeCentrality",
) -> dict[str, float]:
    """Measure dispatch — mirrors the reference's `centralityMeasure` selection
    (CentralityHandler.java:137-152; every shipped config uses DegreeCentrality)."""
    if measure == "DegreeCentrality":
        return degree_centrality(vertices, edges)
    if measure == "BrandesBetweennessCentrality":
        return betweenness_centrality(vertices, edges)
    if measure == "FreemanClosenessCentrality":
        return closeness_centrality(vertices, edges)
    if measure == "EigenvectorCentrality":
        return eigenvector_centrality(vertices, edges)
    raise ValueError(f"unknown centralityMeasure {measure!r}; one of {CENTRALITY_MEASURES}")


def choose_uris(
    cands: dict[str, list[Group]],
    colored: set[str],
    degrees: dict[str, float],
    preferred_uri: str,
) -> dict[str, tuple[str, float]]:
    """Per-mention argmax + preferred-URI projection (CentralityHandler.java:154-215).

    Returns mention -> (chosen_uris, score). Tie-break D2; winner matched to its
    *own* mention's groups (D4/D6).
    """
    out: dict[str, tuple[str, float]] = {}
    for mention, groups in cands.items():
        results: dict[str, float] = {}
        for group in groups:
            for uri in group:
                dec = decompose_py(uri)
                if dec in colored:
                    results[dec] = degrees.get(dec, 0.0)
        if not results:
            continue
        winner = max(results, key=lambda u: (results[u], u))  # D2
        selected = ""
        for group in groups:
            if any(decompose_py(u) == winner for u in group):  # D6
                found = False
                for uri in group:
                    if preferred_uri == "ALL":
                        selected += uri + " "
                        found = True
                    elif preferred_uri in uri:
                        selected = uri
                        found = True
                if not found:
                    selected = winner
        out[mention] = (selected.strip(), results[winner])
    return out


def simple_choice(cands: dict[str, list[Group]]) -> dict[str, str]:
    """No-ambiguity path: first group's URIs space-joined
    (ResultsAndEvaluationNEL.produceResultsSimple :138-190, D1 order)."""
    return {m: " ".join(groups[0]) for m, groups in cands.items() if groups}


def disambiguate_conversation(
    occurrences: list[tuple[int, int, str]],  # (turn_idx, occ_idx, mention)
    dico_map: dict[str, list[Group]],
    kb: KB,
    rel_weights: dict[str, float],
    base_prefix: str,
    preferred_uri: str,
    measure: str = "DegreeCentrality",
    crawl_sameas: str = "ALL",
) -> list[dict]:
    """Full per-conversation kernel; returns link rows (one per occurrence that
    received a URI)."""
    mention_list = [m for _, _, m in occurrences]
    cands = candidates_for_mentions(mention_list, dico_map)
    case = check_conditions(cands, mention_list)
    links: list[dict] = []
    if case == "NoMentionsAnnotated":
        return links
    if case == "NoAmbiguity":
        chosen = {m: (uris, None) for m, uris in simple_choice(cands).items()}
        path = "simple"
    else:
        colored = _colored_nodes(cands, base_prefix)
        vertices, edges = fuse_graph(cands, kb, base_prefix, rel_weights, crawl_sameas)
        inverted = build_inverted_index(cands)
        vertices, edges = prune_graph(vertices, edges, colored, inverted)
        scores = centrality_scores(vertices, edges, measure)
        chosen = choose_uris(cands, colored, scores, preferred_uri)
        path = "graph"
    for turn_idx, occ_idx, mention in occurrences:
        if mention in chosen:
            uris, score = chosen[mention]
            links.append(
                {
                    "turn_idx": turn_idx,
                    "occ_idx": occ_idx,
                    "mention": mention,
                    "chosen_uris": uris,
                    "score": score,
                    "path": path,
                }
            )
    return links


def run_oracle(
    transcripts: list[dict],
    dico_rows: list[dict],
    terms: list[str],
    kb_rows: list[tuple[str, str, str]],
    rel_weight_rows: list[tuple[str, float]],
    base_prefix: str,
    preferred_uri: str,
    measure: str = "DegreeCentrality",
    crawl_sameas: str = "ALL",
) -> list[dict]:
    """End-to-end single-node run: transcripts -> link rows (conv grain)."""
    matcher = GazetteerMatcher(terms)
    dico_map = build_dico_map(dico_rows)
    kb = KB.from_rows(kb_rows)
    rels = {p.lower(): w for p, w in rel_weight_rows}

    by_conv: dict[str, list[tuple[int, int, str]]] = defaultdict(list)
    for row in transcripts:
        found = matcher.find(row["text"] or "")
        for occ_idx, (term, _start) in enumerate(found):
            by_conv[row["conv_id"]].append((row["turn_idx"], occ_idx, term))

    links: list[dict] = []
    for conv_id in sorted(by_conv):
        occs = sorted(by_conv[conv_id])
        for link in disambiguate_conversation(
            occs, dico_map, kb, rels, base_prefix, preferred_uri, measure, crawl_sameas
        ):
            links.append({"conv_id": conv_id, **link})
    return links


# ---------------------------------------------------------------------------
# Canonicalization + triple materialization (oracle side)
# ---------------------------------------------------------------------------


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        self.parent.setdefault(x, x)
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # canonical = lexicographic min
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


def sameas_components(
    kb_rows: list[tuple[str, str, str]], dico_rows: list[dict]
) -> dict[str, str]:
    """URI -> canonical (min) URI over owl:sameAs edges + dico group co-membership."""
    uf = UnionFind()
    for subj, pred, obj in kb_rows:
        if pred == SAME_AS:
            uf.union(subj, obj)
    for r in dico_rows:
        uris = r["uris"]
        for u in uris[1:]:
            uf.union(uris[0], u)
    return {u: uf.find(u) for u in list(uf.parent)}


def links_to_triples(
    links: list[dict],
    kb_rows: list[tuple[str, str, str]],
    dico_rows: list[dict],
) -> list[tuple[str, str, str]]:
    """Materialize the output KG: mention-link triples + pass-through KB triples of
    chosen entities, subjects/objects canonicalized to the min URI of their
    owl:sameAs component."""
    canon = sameas_components(kb_rows, dico_rows)

    def c(uri: str) -> str:
        return canon.get(uri, uri)

    triples: set[tuple[str, str, str]] = set()
    chosen_entities: set[str] = set()
    for link in links:
        if not link["chosen_uris"]:
            continue
        parts = link["chosen_uris"].split(" ")
        canonical = min(c(u) for u in parts)
        subj = f"urn:mention:{link['conv_id']}:{link['turn_idx']}:{link['occ_idx']}"
        triples.add((subj, LINKS_TO, canonical))
        chosen_entities.add(canonical)

    for subj, pred, obj in kb_rows:
        if pred == SAME_AS:
            continue
        root = c(subj)
        if root in chosen_entities:
            triples.add((root, pred, c(obj)))
    return sorted(triples)
