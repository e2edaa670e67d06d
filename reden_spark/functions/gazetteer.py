"""Longest-match gazetteer mention detector.

Replaces the reference's XPath tag scan (MainNELApp.java:233-241): there, mentions
arrive pre-annotated as TEI child elements; on raw transcript text we detect them by
scanning for known surface forms (dictionary aliases + annotatable NIL terms).

Matching rule (deterministic, shared by the Spark pandas UDF, the single-node oracle
and the fixture generator):
  * case-sensitive whole-word match (word chars = letters/digits/underscore, so
    accented French letters count as word chars);
  * left-to-right, longest match wins at each position, matches never overlap.

The compiled matcher is a single alternation regex with longest-alternative-first
ordering, which for whole-word alternatives implements leftmost-longest matching.
"""

from __future__ import annotations

import re
from collections.abc import Iterable


def _trie_pattern(terms: list[str]) -> str:
    """Serialize terms into a trie-structured regex.

    Equivalent to a longest-first alternation (greedy optional suffixes extend
    first, backtracking falls back to shorter terms) but O(prefix) instead of
    O(#terms) work per scan position — the difference between ~5k and ~50k
    turns/sec on a few-hundred-term gazetteer.
    """
    trie: dict = {}
    for t in terms:
        node = trie
        for ch in t:
            node = node.setdefault(ch, {})
        node[""] = {}

    def serialize(node: dict) -> str:
        keys = sorted(k for k in node if k != "")
        has_end = "" in node
        alts = []
        for ch in keys:
            sub = serialize(node[ch])
            alts.append(re.escape(ch) + sub)
        if not alts:
            return ""
        body = alts[0] if len(alts) == 1 else "(?:" + "|".join(alts) + ")"
        return "(?:" + body + ")?" if has_end else body

    return serialize(trie)


class GazetteerMatcher:
    """Compiled multi-term matcher; picklable-cheap (rebuilt per executor)."""

    def __init__(self, terms: Iterable[str]):
        uniq = sorted({t for t in terms if t}, key=lambda t: (-len(t), t))
        self.terms = uniq
        # find_batch's NUL-joined buffer is sound iff no term can match across
        # a row boundary, i.e. no term contains the separator
        self._batch_safe = not any(self._BATCH_SEP in t for t in uniq)
        if uniq:
            # \w covers accented letters with re.UNICODE (default in py3).
            self._re = re.compile(rf"(?<!\w)({_trie_pattern(uniq)})(?!\w)")
        else:
            self._re = None

    def find(self, text: str) -> list[tuple[str, int]]:
        """Return [(term, start_pos)] in left-to-right order, non-overlapping."""
        if not text or self._re is None:
            return []
        return [(m.group(1), m.start(1)) for m in self._re.finditer(text)]

    # batch scan separator: NUL is a non-word char (so the \w boundary
    # lookarounds behave at row joins exactly as at string ends) and cannot
    # occur inside a matched span unless a term contains it (guarded below)
    _BATCH_SEP = "\x00"

    def find_batch(self, texts: list):
        """One regex pass over a whole Arrow batch: scan the NUL-joined buffer
        once and map match positions back to rows with numpy, instead of a
        Python find() call + list build per row. Same matches in the same
        order as per-row find() (matches sort by buffer position = row order
        then in-row position; no match can span the NUL separator because no
        term contains NUL — enforced at compile time, see __init__).

        Returns (row_ids int64, occ_idx int32, mentions list[str],
        starts int32); occ_idx is the per-row match index, vectorized from
        the grouped-consecutive row ids.
        """
        import numpy as np

        empty = (
            np.empty(0, dtype=np.int64),
            np.empty(0, dtype=np.int32),
            [],
            np.empty(0, dtype=np.int32),
        )
        if self._re is None or not texts:
            return empty
        texts = [t if isinstance(t, str) else "" for t in texts]
        if not self._batch_safe:  # a term contains NUL: per-row fallback
            rows, ments, starts = [], [], []
            for i, t in enumerate(texts):
                for m, s in self.find(t):
                    rows.append(i)
                    ments.append(m)
                    starts.append(s)
            row_ids = np.asarray(rows, dtype=np.int64)
            occ = _occ_idx(row_ids)
            return row_ids, occ, ments, np.asarray(starts, dtype=np.int32)
        lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
        row_starts = np.zeros(len(texts), dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=row_starts[1:])
        buf = self._BATCH_SEP.join(texts)
        ments = []
        bstarts = []
        for m in self._re.finditer(buf):
            ments.append(m.group(1))
            bstarts.append(m.start(1))
        if not ments:
            return empty
        bpos = np.asarray(bstarts, dtype=np.int64)
        row_ids = np.searchsorted(row_starts, bpos, side="right") - 1
        starts = (bpos - row_starts[row_ids]).astype(np.int32)
        return row_ids, _occ_idx(row_ids), ments, starts


def _occ_idx(row_ids):
    """Per-row match index for grouped-consecutive, sorted row ids: occ_idx =
    global index minus the first global index of the row's run (vectorized)."""
    import numpy as np

    if len(row_ids) == 0:
        return np.empty(0, dtype=np.int32)
    idx = np.arange(len(row_ids), dtype=np.int64)
    run_start = np.r_[True, row_ids[1:] != row_ids[:-1]]
    return (idx - np.maximum.accumulate(np.where(run_start, idx, 0))).astype(np.int32)
