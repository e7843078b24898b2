"""Structured-query compiler — the sandpaper "coarse" pipeline (SURVEY §2.8,
§3.2) re-expressed as driver-side compilation to Column expressions.

Reference pipeline (configs under /root/reference
`sandpaper/sandbox/config/etk/`): preprocess (Q1 predicate→type
`predicate_range_mappings.json`, Q2 value transforms
`constraint_type_transformations.json`, Q3/Q4 constraint+synonym expansion
`dict_constraint_mappings.json`) → parameterize (Q5 at-least-one-field OR,
`config.json:27-36`) → generate (Q6 field fan-out `type_field_mappings.json`,
Q7 weight tree `field_weights.json`, Q8 query kind `type_query_mappings.json`,
Q9 index routing, Q10 compiler options `elasticsearch_compiler_options.json`)
→ execute (Q11).

Differences by design (documented divergence, SURVEY §7.4 R2): scoring is a
deterministic weighted-match sum — `score = Σ weight(field,method,segment) ×
match(field, clause)` — not BM25×boost; ordering is made total with a doc_id
tie-break so golden tests are stable.

Physical shape (the part that must survive 100 TB): clause probes are
driver-side literals compiled into predicates over the long index table and
matched by one narrow generator — no probe relation, no broadcast, no Spark
job spent on the query's own constants. The index scan is pre-filtered with
`field IN (fan-out set)` — on a field-partitioned index table that's
partition pruning, so a query touches only its fields' partitions. Per-doc
dedup + score aggregation is one shuffle keyed by doc_id; the join back to
the doc table for projection is the same key.
Config expressions are NEVER eval'd (risk R4) — transforms are a named
registry.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field as dc_field
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from dig_etl_engine_spark.functions.casefold import safe_lower

from dig_etl_engine_spark.plans.weights import WeightTree

# --- config model -------------------------------------------------------------

STOPWORDS = {"a", "an", "and", "are", "as", "at", "be", "by", "for", "from",
             "in", "is", "it", "of", "on", "or", "that", "the", "to", "with"}

# Q2: named transform registry — replaces the reference's eval'd Python
# expression strings (`constraint_type_transformations.json:2-4`; risk R4).
TRANSFORMS = {
    "identity": lambda v: v,
    "lower": lambda v: v.lower(),
    "strip_stopwords": lambda v: " ".join(
        t for t in v.lower().split() if t not in STOPWORDS) or v.lower(),
}


@dataclass(frozen=True)
class FieldRef:
    """One physical search target from the Q6 fan-out: either a row subset
    of the long index table (zone='index') or a doc-table text column
    (zone='text' — the content_extraction.* full-text zones)."""
    field: str
    method: str = "*"
    segment: str = "*"
    zone: str = "index"


@dataclass
class EngineConfig:
    predicate_types: dict[str, str]                      # Q1
    type_field_mappings: dict[str, list[FieldRef]]       # Q6
    weights: WeightTree                                  # Q7
    type_query_kinds: dict[str, str] = dc_field(default_factory=dict)   # Q8
    transforms: dict[str, str] = dc_field(default_factory=dict)         # Q2
    synonyms: dict[str, dict[str, list[str]]] = dc_field(default_factory=dict)  # Q3/Q4
    convert_filters_to_shoulds: bool = False             # Q10
    boost_shoulds: float = 1.0                           # Q10
    default_source_fields: list[str] | None = None       # Q10 projection
    excluded_source_fields: list[str] = dc_field(default_factory=list)
    # Q10 highlight (`elasticsearch_compiler_options.json:27-38`): text-zone
    # columns to return with matched terms wrapped in <em> tags
    # (number_of_fragments: 0 semantics — the whole field, highlighted).
    highlight_fields: list[str] = dc_field(default_factory=list)


@dataclass
class CompiledClause:
    clause_id: int
    qtype: str
    kind: str                 # 'match' | 'match_phrase'
    values: list[str]         # transformed + expanded constraint values
    index_refs: list[FieldRef]
    text_refs: list[FieldRef]


def preprocess(query: dict[str, Any], cfg: EngineConfig) -> list[CompiledClause]:
    """Q1–Q6: annotate clauses with types, transform + expand constraints,
    fan out to physical fields. Pure driver-side Python."""
    out: list[CompiledClause] = []
    for i, clause in enumerate(query.get("clauses", [])):
        pred, raw = clause["predicate"], str(clause["constraint"])
        qtype = cfg.predicate_types.get(pred, "owl:Thing")
        tname = cfg.transforms.get(qtype, "lower")
        base = TRANSFORMS[tname](raw)
        values = [base]
        for alt in cfg.synonyms.get(qtype, {}).get(base, []):
            values.append(TRANSFORMS[tname](alt))
        refs = cfg.type_field_mappings.get(qtype, [])
        out.append(CompiledClause(
            clause_id=i,
            qtype=qtype,
            kind=cfg.type_query_kinds.get(qtype, "match"),
            values=list(dict.fromkeys(values)),
            index_refs=[r for r in refs if r.zone == "index"],
            text_refs=[r for r in refs if r.zone == "text"],
        ))
    return out


def _any(preds) -> Column:
    """OR of ``preds``; False when there are none."""
    return reduce(operator.or_, preds, F.lit(False))


def _key_match(key_padded: Column, value: str, kind: str) -> Column:
    """Whether an index row's ``key`` matches the probe ``value``:
    'match_phrase' → the value is a token-boundary phrase of the key (or
    the whole key); 'match' → the key equals the value. ONE definition
    shared by the key pre-filter and the probe predicates, so the
    pre-filter stays implied by them."""
    if kind == "match_phrase":
        return key_padded.contains(f" {value} ") | (F.col("key") == value)
    return F.col("key") == value


def _text_match(doc_col: Column, values: list[str], kind: str) -> Column:
    """Match indicator on a full-text zone. 'match_phrase' → contiguous
    token-boundary phrase; 'match' → any constraint token present."""
    padded = F.concat(F.lit(" "), safe_lower(doc_col), F.lit(" "))
    needles = (values if kind == "match_phrase"
               else [tok for v in values for tok in v.split()])
    return _any(padded.contains(f" {n} ") for n in needles)


def compile_query(
    spark: SparkSession,
    docs: DataFrame,
    index: DataFrame,
    query: dict[str, Any],
    cfg: EngineConfig,
    *,
    doc_id: str = "doc_id",
) -> DataFrame:
    """Compile + execute a structured query → ranked docs with ``score``.

    Semantics: each clause must match in ≥1 of its fan-out fields (Q5
    AtLeastOneFieldCombination, AND across clauses); score = Σ over
    (clause, physical field) matches of the resolved field weight.
    ``spark`` is unused; it stays so callers need not change.
    """
    clauses = preprocess(query, cfg)
    if not clauses:
        raise ValueError("query has no clauses")

    # ---- index-zone matching: literal probe predicates ----------------------
    # (clause, field, method, segment, weight) -> the distinct (value,
    # kind) pairs whose key match puts an index row in that target
    targets: dict[tuple, dict[tuple[str, str], None]] = {}
    for c in clauses:
        for r in c.index_refs:
            w = float(cfg.weights.resolve(r.field, r.method, r.segment))
            targets.setdefault(
                (c.clause_id, r.field, r.method, r.segment, w), {}
            ).update(dict.fromkeys((v, c.kind) for v in c.values))

    per_doc_index = None
    if targets:
        # Explicit field-set pre-filter: partition pruning on a
        # field-partitioned index table; Catalyst pushes the IN to parquet.
        idx = index.filter(F.col("field").isin(
            sorted({t[1] for t in targets})))
        key_padded = F.concat(F.lit(" "), F.col("key"), F.lit(" "))
        # one key match per distinct (value, kind): a clause fanning out
        # to k index fields names each value k times, and k identical
        # OR-disjuncts would evaluate k× per row
        key_match = {vk: _key_match(key_padded, *vk)
                     for pairs in targets.values() for vk in pairs}
        # Key pre-filter: the key matches OR'd across probes are a plain
        # single-side predicate, implied by every target predicate below,
        # so results are untouched, but Catalyst can push it through the
        # index's dedup aggregate and, for inline index builds, into the
        # glossary broadcast side of the contains join — the docs ×
        # glossary nested-loop then tests only probe-relevant terms
        # instead of the whole glossary. On a materialized index it
        # prunes the scan's output before anything is generated.
        idx = idx.filter(_any(key_match.values()))
        # The probes are driver-side literals, so matching them is a
        # narrow generator, not a join: one struct per target a row hits
        # (field, method and segment equal, `*` matching any, and one of
        # the target's key matches), null for the rest, nulls dropped.
        hits = []
        for (cid, f, m, sg, w), pairs in targets.items():
            pred = F.col("field") == f
            if m != "*":
                pred = pred & (F.col("method") == m)
            if sg != "*":
                pred = pred & (F.col("segment") == sg)
            hits.append(F.when(
                pred & _any(key_match[vk] for vk in pairs),
                F.struct(F.lit(cid).alias("clause_id"),
                         F.lit(f).alias("p_field"),
                         F.lit(m).alias("p_method"),
                         F.lit(sg).alias("p_segment"),
                         F.lit(w).alias("p_weight"))))
        matched = (idx.select("doc_id", F.explode(F.array(*hits)).alias("_p"))
                   .filter(F.col("_p").isNotNull()))
        # Boolean match per (doc, clause, physical field): dedup before
        # summing so duplicate extractions don't double-count (ES indicator
        # semantics), then one aggregation keyed by doc.
        # One doc_id repartition serves the whole chain (guide §2.4):
        # HashPartitioning(doc_id) satisfies the dedup's clustering
        # requirement (subset rule), the groupBy(doc_id), and the final
        # doc join's right side. When the index is ALREADY doc_id-
        # partitioned (the inline glossary path after its own
        # repartition) Catalyst collapses this node into the existing
        # exchange — verified empirically on this Spark — so the inline
        # path stays at one matched-set shuffle while a materialized
        # field-partitioned index drops from two to one.
        per_doc_index = (
            matched.select("doc_id", "_p.*")
            .repartition(F.col("doc_id"))
            .distinct()
            .groupBy("doc_id")
            .agg(F.sum("p_weight").alias("_idx_score"),
                 F.collect_set("clause_id").alias("_idx_clauses"))
            .withColumnRenamed("doc_id", "_pdi_doc_id")
        )

    # ---- text-zone matching: per-clause column indicators --------------------
    text_score: Column = F.lit(0.0)
    text_clause_flags: dict[int, Column] = {}
    for c in clauses:
        if not c.text_refs:
            continue
        flag = F.lit(False)
        for r in c.text_refs:
            w = cfg.weights.resolve(r.field, r.method, r.segment)
            m = _text_match(F.col(r.field), c.values, c.kind)
            text_score = text_score + F.when(m, F.lit(float(w))).otherwise(F.lit(0.0))
            flag = flag | m
        text_clause_flags[c.clause_id] = flag

    # Q10 highlight: for each configured text zone, return the whole field
    # with every clause term wrapped in <em>…</em> (ES highlight with
    # number_of_fragments: 0). One native case-insensitive regexp_replace
    # per field; NULL when nothing matched there. Built here (not after
    # the join) so it rides the doc-side projection below.
    highlight_cols: list[Column] = []
    if cfg.highlight_fields:
        import re as _re

        terms: list[str] = []
        for c in clauses:
            for v in c.values:
                terms.extend([v] if c.kind == "match_phrase" else v.split())
        terms = [t for t in dict.fromkeys(terms) if t]
        if terms:
            # (?i) without UNICODE_CASE is ASCII-only folding in Java —
            # deterministic and JVM-locale-free (unlike lower(), see
            # functions/casefold.py); a non-ASCII query term matches
            # case-sensitively, a documented divergence from RE2's
            # Unicode simple folding
            pat = (r"(?i)\b(" + "|".join(_re.escape(t) for t in terms)
                   + r")\b")
            for hf in cfg.highlight_fields:
                matched = _text_match(
                    F.col(hf), terms, "match_phrase")
                highlight_cols.append(
                    F.when(matched,
                           F.regexp_replace(F.col(hf), pat, "<em>$1</em>"))
                    .alias(f"highlight_{hf}"))

    # Q10 filters — per-doc expressions, precomputed with the flags below.
    # (The DSL filters doc-table fields; index-derived columns are not
    # addressable here, same as the projected output contract.)
    filter_preds = [_compile_filter(flt) for flt in query.get("filters", [])]

    # ---- doc-side precompute + projection (r12, guide §2.3) ------------------
    # Everything the post-join pipeline needs from the doc table is a
    # per-doc expression: text-zone flags/score, highlight columns, Q10
    # filter predicates, and the projected source fields. Compute them
    # BELOW the join and project away every other column — above all the
    # raw text zones — so the doc-side join exchange carries a few flag
    # bytes per row instead of full documents. The expressions are
    # unchanged, only evaluated one operator earlier; results identical.
    # `c != "score"` preserves the pre-r12 contract: a doc table that
    # itself carries a `score` column never leaks it into the output —
    # the computed rank score is the only `score` (wave-6 review
    # finding 2).
    out_cols = cfg.default_source_fields or [
        c for c in docs.columns if c != "score"]
    out_cols = [c for c in out_cols if c not in cfg.excluded_source_fields]
    if doc_id not in out_cols:
        out_cols = [doc_id, *out_cols]
    pre = [F.col(c) for c in out_cols]
    pre.append(text_score.alias("_txt_score"))
    pre += [flag.alias(f"_tflag_{cid}")
            for cid, flag in text_clause_flags.items()]
    pre += [p.alias(f"_flt_{i}") for i, p in enumerate(filter_preds)]
    pre += highlight_cols          # already aliased highlight_<field>
    doc_side = docs.select(*pre)

    # ---- combine, Q5 gate, Q10 filters, rank ---------------------------------
    result = doc_side
    if per_doc_index is not None:
        result = result.join(per_doc_index,
                             result[doc_id] == per_doc_index["_pdi_doc_id"],
                             "left").drop("_pdi_doc_id")
    else:
        result = result.withColumn("_idx_score", F.lit(None).cast("double")) \
                       .withColumn("_idx_clauses", F.array().cast("array<int>"))

    score = F.coalesce(F.col("_idx_score"), F.lit(0.0)) + F.col("_txt_score")
    idx_clauses = F.coalesce(F.col("_idx_clauses"), F.array().cast("array<int>"))

    satisfied = F.lit(True)
    for c in clauses:
        in_index = F.array_contains(idx_clauses, c.clause_id) \
            if c.index_refs else F.lit(False)
        in_text = F.col(f"_tflag_{c.clause_id}") \
            if c.clause_id in text_clause_flags else F.lit(False)
        satisfied = satisfied & (in_index | in_text)

    # Q10: structured filters — hard predicates, or scored shoulds.
    for i in range(len(filter_preds)):
        pred = F.col(f"_flt_{i}")
        if cfg.convert_filters_to_shoulds:
            score = score + F.when(pred, F.lit(cfg.boost_shoulds)).otherwise(F.lit(0.0))
        else:
            satisfied = satisfied & pred

    result = result.withColumn("score", F.round(score, 6)).filter(satisfied)

    # Q10 projection: default source fields minus the exclude list
    # (never ship raw_content back to clients) — the prune itself
    # happened in the doc-side projection; this orders the output.
    hl_names = [f"highlight_{hf}" for hf in cfg.highlight_fields] \
        if highlight_cols else []
    result = result.select(*out_cols, *hl_names, "score")

    # Q13: deterministic total order + paging.
    size = int(query.get("size", 10))
    frm = int(query.get("from", 0))
    if frm:
        w = W.orderBy(F.desc("score"), F.asc(doc_id))
        return (result.withColumn("_rn", F.row_number().over(w))
                .filter((F.col("_rn") > frm) & (F.col("_rn") <= frm + size))
                .drop("_rn"))
    return result.orderBy(F.desc("score"), F.asc(doc_id)).limit(size)


def _compile_filter(flt: dict[str, Any]) -> Column:
    """Structured filter → predicate. Supported ops: eq, ne, lt, lte, gt,
    gte, in, contains (the DSL's filter surface)."""
    col = F.col(flt["field"])
    op, v = flt.get("op", "eq"), flt.get("value")
    return {
        "eq": lambda: col == v,
        "ne": lambda: col != v,
        "lt": lambda: col < v,
        "lte": lambda: col <= v,
        "gt": lambda: col > v,
        "gte": lambda: col >= v,
        "in": lambda: col.isin(v),
        "contains": lambda: safe_lower(col).contains(str(v).lower()),
    }[op]()


def facet_counts(index: DataFrame, field: str, k: int = 10) -> DataFrame:
    """A1 facet aggregation over the long index table: top-k keys for one
    logical field (`type_field_group_by_mappings.json` drives which fields
    get facets). One partial-agg shuffle; deterministic tie-break."""
    return (
        index.filter(F.col("field") == field)
        .groupBy("key")
        .agg(F.countDistinct("doc_id").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(k)
    )
