"""Output checks: per-turn golden equality for extraction, and a search
oracle that never touches Spark.

The oracle re-derives the index from the segment texts in plain Python,
following the documented semantics of ``crrf_det_spark.search``: numeric
tokens normalized as JS ``parseFloat`` would (index.js:9-21), 1/2/3-gram
postings per (conv_id, turn_idx, cindex), ``tf * ln(N / df)`` scores, AND
of includes plus a forced ``numericvalue`` include, OR of excludes,
``table:``/``text:`` pins, and per-turn grouping of the hit segments.
"""

from __future__ import annotations

import math
import re
import shlex
from collections import Counter

_STRIP = re.compile("[,$€£]")
_FLOAT_PREFIX = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", re.ASCII)
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")
SCORE_REL_TOL = 1e-9


def check_extraction(
    got: list[tuple[str, int, str]], expected: dict[tuple[str, int], str]
) -> list[tuple[str, int]]:
    """Turns that failed: missing from the output, emitted more than once,
    or whose extracted_text differs from the golden."""
    seen: Counter = Counter()
    bad: set[tuple[str, int]] = set()
    for conv_id, turn_idx, text in got:
        key = (conv_id, turn_idx)
        seen[key] += 1
        if key not in expected or expected[key] != text or seen[key] > 1:
            bad.add(key)
    bad.update(k for k in expected if k not in seen)
    return sorted(bad)


def _norm_token(tok: str) -> str:
    m = _FLOAT_PREFIX.match(_STRIP.sub("", tok))
    if not m:
        return tok
    p = float(m.group(0))
    is_int = p.is_integer()
    if (0 <= p < 5 and is_int) or (1900 <= p <= 2100 and is_int):
        return tok
    return "NUMERICVALUE"


def doc_terms(content: str) -> Counter:
    """1/2/3-gram term frequencies of one segment."""
    norm = " ".join(_norm_token(t) for t in re.sub("[\t\n]", " ", content).split(" "))
    toks = [t for t in _JAVA_WS.split(norm) if t]
    tf: Counter = Counter()
    for n in (1, 2, 3):
        for i in range(len(toks) - n + 1):
            tf[" ".join(toks[i:i + n])] += 1
    return tf


def parse_query(terms: str):
    includes, excludes = [], []
    for raw in shlex.split(terms):
        t = raw.strip()
        if not t:
            continue
        neg = t.startswith("-")
        t = t[1:] if neg else t
        pin = None
        for prefix in ("table:", "text:"):
            if t.startswith(prefix):
                pin, t = prefix[:-1], t[len(prefix):]
                break
        if t:
            (excludes if neg else includes).append((pin, t.lower()))
    return includes, excludes


class SearchOracle:
    """Inverted index over the segments, kept as term_l -> postings."""

    def __init__(self, segs: list[tuple]):
        self.by_term: dict[str, list[tuple]] = {}
        for conv_id, turn_idx, cindex, field, content in segs:
            for term, tf in doc_terms(content).items():
                self.by_term.setdefault(term.lower(), []).append(
                    ((conv_id, turn_idx, cindex), field, term, tf))
        self.n_docs = len({p[0] for ps in self.by_term.values() for p in ps})

    def search(self, terms: str) -> dict[tuple[str, int], tuple[tuple, float]]:
        """(conv_id, turn_idx) -> (sorted hit cindexes, summed score)."""
        includes, excludes = parse_query(terms)
        if not includes:
            return {}
        includes.append((None, "numericvalue"))

        def matches(conds, term_l, field):
            return any(t == term_l and (pin is None or pin == field) for pin, t in conds)

        inc = [p for t in sorted({t for _p, t in includes})
               for p in self.by_term.get(t, ()) if matches(includes, t, p[1])]
        df: Counter = Counter()
        for doc, _f, term, _tf in set(inc):
            df[term] += 1
        n_terms = len({t for _p, t in includes})
        matched: dict[tuple, set] = {}
        score: dict[tuple, float] = {}
        for doc, _f, term, tf in inc:
            matched.setdefault(doc, set()).add(term.lower())
            score[doc] = score.get(doc, 0.0) + tf * math.log(self.n_docs / df[term])
        killed = {p[0] for t in {t for _p, t in excludes}
                  for p in self.by_term.get(t, ()) if matches(excludes, t, p[1])}
        turns: dict[tuple[str, int], list] = {}
        for doc, terms_hit in matched.items():
            if len(terms_hit) == n_terms and doc not in killed:
                turns.setdefault(doc[:2], []).append(doc)
        return {k: (tuple(sorted(d[2] for d in docs)), sum(score[d] for d in docs))
                for k, docs in turns.items()}


def same_hits(got: dict, want: dict) -> bool:
    """Equal hit sets; scores equal up to summation order."""
    if got.keys() != want.keys():
        return False
    return all(
        got[k][0] == want[k][0]
        and math.isclose(got[k][1], want[k][1], rel_tol=SCORE_REL_TOL, abs_tol=1e-12)
        for k in got
    )


def hits_of(rows) -> dict[tuple[str, int], tuple[tuple, float]]:
    """Spark hit rows (conv_id, turn_idx, cindex[], score) -> oracle shape."""
    return {(r["conv_id"], r["turn_idx"]): (tuple(r["cindex"]), float(r["score"]))
            for r in rows}
