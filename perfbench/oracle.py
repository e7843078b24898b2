"""Independent answer checker: expected results computed in pure Python from
the generator's ground truth (``gen.Doc``), never from engine output.

It restates the benchmark's search configuration (``pipeline.search_config``)
as arithmetic:
  * a keyword clause matches a document through the glossary index
    (weight 10), the body text zone (weight 2) or the title zone (weight 3);
    it is satisfied when any of the three matches;
  * a phrase clause matches the body text zone (weight 2);
  * a hard filter gates on ``posted_date >= since``; a filter turned into a
    should adds 1.0 instead;
  * results order by score descending, then ``doc_id``, paged by
    ``from``/``size``.
BM25 follows Lucene's formula as ``plans.weights.bm25_score_column`` states
it, with corpus statistics counted here from the truth.
"""

from __future__ import annotations

import math
from collections import Counter

K = 10                 # result size of every search
BM25_TOL = 1e-5


def _has(hay: str, needle: str) -> bool:
    return f" {needle} " in f" {hay} "


def _keyword_score(d, term: str) -> float | None:
    idx = any(_has(t, term) for t in d.terms)
    txt = _has(d.text, term)
    ttl = _has(d.title.lower(), term)
    if not (idx or txt or ttl):
        return None
    return 10.0 * idx + 2.0 * txt + 3.0 * ttl


def search(docs, q: dict) -> list[tuple[str, float]]:
    """Expected ``(doc_id, score)`` rows of a weighted-match query."""
    rows = []
    for d in docs:
        s = _keyword_score(d, q["term"])
        if s is None:
            continue
        if "phrase" in q:
            if not _has(d.text, q["phrase"]):
                continue
            s += 2.0
        if q["kind"] == "keyword_filter" and d.posted_date < q["since"]:
            continue
        if q["kind"] == "keyword_should" and d.posted_date >= q["since"]:
            s += 1.0
        rows.append((d.doc_id, s))
    rows.sort(key=lambda r: (-r[1], r[0]))
    start = 10 if q["kind"] == "page" else 0
    return rows[start:start + K]


def keyword_topk(state: dict, term: str, *, postings=None
                 ) -> list[tuple[str, float]]:
    """Expected top-k of a one-clause keyword query over ``state``
    (doc_id -> Doc). ``postings`` (term -> doc_ids) narrows the scan: every
    planted term is in its document's body, so it holds every match."""
    ids = postings[term] if postings is not None else state
    return search((state[i] for i in ids), {"kind": "keyword", "term": term})


def facet(docs, field: str) -> list[tuple[str, int]]:
    c: Counter = Counter()
    for d in docs:
        if field == "keyword":
            c.update(d.terms)
        else:
            c[d.host] += 1
    return sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:K]


class BM25Truth:
    def __init__(self, docs):
        self.toks = {d.doc_id: d.text.split() for d in docs}
        self.n = len(self.toks)
        self.avgdl = sum(len(t) for t in self.toks.values()) / self.n
        self.df: Counter = Counter()
        for t in self.toks.values():
            self.df.update(set(t))

    def scores(self, terms: list[str], k1: float = 1.2, b: float = 0.75
               ) -> dict[str, float]:
        """Every document's positive BM25 score for ``terms``."""
        terms = list(dict.fromkeys(terms))
        out = {}
        for did, toks in self.toks.items():
            tf = Counter(toks)
            dl = len(toks)
            s = 0.0
            for t in terms:
                df = self.df.get(t, 0)
                idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                s += idf * (tf[t] * (k1 + 1.0)
                            / (tf[t] + k1 * (1.0 - b + b * dl / self.avgdl)))
            if s > 0:
                out[did] = s
        return out

    def topk(self, terms: list[str]) -> list[tuple[str, float]]:
        return sorted(self.scores(terms).items(),
                      key=lambda r: (-r[1], r[0]))[:K]


def bm25_matches(got: list[tuple[str, float]], want: list[tuple[str, float]],
                 exact: dict[str, float]) -> bool:
    """Scores agree position by position within ``BM25_TOL`` and every
    returned document's own expected score agrees with what came back;
    ties within the tolerance may order either way."""
    if len(got) != len(want):
        return False
    for (gid, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > BM25_TOL or abs(exact.get(gid, -1.0) - gs) > BM25_TOL:
            return False
    return True


def index_rows_by_field(docs) -> dict[str, int]:
    n = len(docs)
    return {"keyword": sum(len(d.terms) for d in docs), "date": n,
            "email": n, "phone": n, "hostname": n}


def table_summary(state: dict) -> tuple[int, int]:
    """(row count, sum of kafka_offset): the latest offset wins per key."""
    return len(state), sum(d.kafka_offset for d in state.values())
