"""Hierarchical field-weight resolution (SURVEY §2.8 Q7).

Reference: `sandpaper/sandbox/config/etk/field_weights.json:2-124` under
/root/reference — a wildcard weight tree over
``indexed.<field>.<method>.<segment>.{value,key}`` paths, e.g.
``tld.* = 100``, ``indexed.phone.gurobi.* = 20``,
``extract_from_landmark.* = 15``, per-segment overrides. Resolution is
longest/most-specific match.

Here a weight pattern is ``(field, method, segment)`` with ``*`` wildcards;
specificity = number of non-wildcard components; ties → later definition
wins (configs are ordered most-general first, like the reference's JSON).
Resolution happens driver-side at compile time — the scoring expression
ships to executors with the weights already folded in as literals.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class WeightRule:
    field: str = "*"
    method: str = "*"
    segment: str = "*"
    weight: float = 1.0


class WeightTree:
    def __init__(self, rules: list[WeightRule]):
        self.rules = list(rules)

    def resolve(self, field: str, method: str = "*", segment: str = "*") -> float:
        """Most-specific matching rule's weight; default 1.0."""
        best: tuple[int, int] | None = None
        weight = 1.0
        for i, r in enumerate(self.rules):
            if not _match(r.field, field):
                continue
            if not _match(r.method, method):
                continue
            if not _match(r.segment, segment):
                continue
            spec = sum(c != "*" for c in (r.field, r.method, r.segment))
            rank = (spec, i)
            if best is None or rank >= best:
                best, weight = rank, r.weight
        return weight


def _match(pattern: str, value: str) -> bool:
    return pattern == "*" or value == "*" or pattern == value


def bm25_analyze(text):
    """The BM25 analyzer, shared by the stats build, the stats lookup
    and the scorer so that a query term and the corpus tokens it must
    equal are normalized alike. A text ``Column`` becomes its token
    array: trimmed, lowercased locale-independently, split on
    whitespace. A query term ``str`` becomes its lowercase form."""
    if isinstance(text, str):
        return text.lower()
    from pyspark.sql import functions as F

    from dig_etl_engine_spark.functions.casefold import safe_lower

    return F.split(F.trim(safe_lower(text)), r"\s+")


def bm25_score_column(text_col, terms: list[str], *, df_counts: dict,
                      n_docs: int, avgdl: float, k1: float = 1.2,
                      b: float = 0.75):
    """Lucene-style BM25 score expression over a full-text zone — the
    opt-in scorer that matches the reference's Elasticsearch ranking
    family (SURVEY §7.4 R2 documents the deterministic weighted-match
    default as a divergence; this closes it for callers that want BM25).

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))   (Lucene's formulation)
    tf(t,d) over whitespace tokens; norm by |d|/avgdl.

    ``df_counts``/``n_docs``/``avgdl`` are corpus statistics computed
    once per corpus build (one aggregation job, scalars to the driver —
    model state, not data) and closed over, so the per-query plan is pure
    column math with no extra shuffle.
    """
    import math

    from pyspark.sql import functions as F

    toks = bm25_analyze(text_col)
    dl = F.size(toks).cast("double")
    score = F.lit(0.0)
    # normalize the terms (and their df keys) as the tokens are, or an
    # uppercase query term would silently score tf=0; dedupe terms after
    # normalizing (no double-scoring of 'Foo'+'foo') and merge colliding
    # df keys with max (deterministic, not dict-order)
    terms = list(dict.fromkeys(bm25_analyze(t) for t in terms))
    merged: dict = {}
    for k, v in df_counts.items():
        lk = bm25_analyze(k)
        merged[lk] = max(merged.get(lk, 0), v)
    df_counts = merged
    for t in terms:
        df = df_counts.get(t, 0)
        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        tf = F.size(F.filter(toks, lambda x: x == t)).cast("double")
        score = score + F.lit(idf) * (
            tf * (k1 + 1.0)
            / (tf + k1 * (1.0 - b + b * dl / avgdl)))
    return F.round(score, 6)
