"""Registry entries for the structured-search pipeline (SURVEY §2.8 Q1–Q13,
§3.2): the sandpaper "coarse" query surface compiled to DataFrame plans.

The demo project: documents indexed by glossary keywords (field `keyword`,
method `glossary`) with the raw `text` column as the full-text zone — the
elicit walkthrough shape (SURVEY §7.2) on the synthetic corpus. Oracles
restate the weighted-match scoring arithmetic directly in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dig_etl_engine_spark.catalog import load_tables
from dig_etl_engine_spark.functions.localdf import local_df
from dig_etl_engine_spark.functions.casefold import safe_lower
from dig_etl_engine_spark.functions import extractors as X
from dig_etl_engine_spark.plans.query_compiler import (
    EngineConfig, FieldRef, compile_query, facet_counts,
)
from dig_etl_engine_spark.plans.weights import WeightRule, WeightTree
from dig_etl_engine_spark.queries import register
from dig_etl_engine_spark.queries_extraction import GLOSSARY_TERMS, _glossary_df

_GLOSSARY_VALUES_SQL = ", ".join(f"('{t}')" for t in GLOSSARY_TERMS)


def demo_config() -> EngineConfig:
    """Project config mirroring the reference's etk config shape:
    predicate→type (Q1, `predicate_range_mappings.json:2-29`), field fan-out
    (Q6, `type_field_mappings.json:77-89` — City fans out to indexed fields
    + text zones), weight tree (Q7, `field_weights.json:2-124` — indexed
    methods ≫ text zones), phrase kinds (Q8, `type_query_mappings.json:2`)."""
    return EngineConfig(
        predicate_types={"keyword": "Keyword", "description": "owl:Thing"},
        type_field_mappings={
            "Keyword": [FieldRef("keyword", "glossary", "text", zone="index"),
                        FieldRef("text", zone="text")],
            "owl:Thing": [FieldRef("text", zone="text")],
        },
        weights=WeightTree([
            WeightRule(weight=1.0),
            WeightRule(field="text", weight=2.0),
            WeightRule(field="keyword", method="glossary", weight=10.0),
        ]),
        type_query_kinds={"Keyword": "match_phrase", "owl:Thing": "match_phrase"},
        transforms={"Keyword": "lower", "owl:Thing": "strip_stopwords"},
        synonyms={"owl:Thing": {"fast": ["quick", "rapid"]}},
        default_source_fields=["doc_id", "lang", "source"],
        excluded_source_fields=["text"],  # never ship raw_content (Q10)
    )


def build_keyword_index(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The demo project's long-format index: glossary keyword extractions
    (§3.1 stage 7 output). At scale this table is materialized partitioned
    by `field`; here it's computed inline."""
    matches = X.glossary_matches(docs, "text", _glossary_df(spark))
    return matches.select(
        "doc_id",
        F.lit("keyword").alias("field"),
        F.lit("glossary").alias("method"),
        F.lit("text").alias("segment"),
        F.col("term").alias("value"),
        F.col("term").alias("key"),
    )


# Shared oracle CTE: per-doc match indicators for the demo corpus.
_IND = """
    WITH ind AS (
      SELECT doc_id, lang, source,
             POSITION(' hash value ' IN ' ' || LOWER(text) || ' ') > 0 AS hv,
             POSITION(' window ' IN ' ' || LOWER(text) || ' ') > 0 AS win,
             (POSITION(' fast ' IN ' ' || LOWER(text) || ' ') > 0
              OR POSITION(' quick ' IN ' ' || LOWER(text) || ' ') > 0
              OR POSITION(' rapid ' IN ' ' || LOWER(text) || ' ') > 0) AS fast
      FROM documents
    )
"""


@register(
    "coarse_search_rank",
    oracle=_IND + """
    SELECT doc_id, lang, source,
           ROUND((CASE WHEN hv THEN 12.0 ELSE 0 END)
               + (CASE WHEN win THEN 2.0 ELSE 0 END), 6) AS score
    FROM ind
    WHERE hv AND win
    ORDER BY score DESC, doc_id ASC
    LIMIT 15
    """,
)
def coarse_search_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full coarse pipeline (Q1→Q13, `sandpaper/sandbox/config/etk/
    config.json:4-87`): two clauses — an indexed keyword (glossary hit w=10
    + text zone w=2) AND a full-text phrase (w=2); at-least-one-field per
    clause (Q5); deterministic weighted-match ranking (R2); projection
    excludes raw text (Q10); top-k with total order (Q13)."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    query = {
        "clauses": [
            {"predicate": "keyword", "constraint": "Hash Value"},
            {"predicate": "description", "constraint": "the window"},
        ],
        "size": 15,
    }
    return compile_query(spark, docs, index, query, demo_config())


@register(
    "coarse_search_rank_materialized",
    oracle=_IND + """
    SELECT doc_id, lang, source,
           ROUND((CASE WHEN hv THEN 12.0 ELSE 0 END)
               + (CASE WHEN win THEN 2.0 ELSE 0 END), 6) AS score
    FROM ind
    WHERE hv AND win
    ORDER BY score DESC, doc_id ASC
    LIMIT 15
    """,
)
def coarse_search_rank_materialized(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """The coarse pipeline reading the MATERIALIZED field-partitioned
    index (`functions/kg.py` materialize_index/load_index) instead of
    recomputing the glossary scan per query — the 100 TB shape: index once
    per corpus build (the reference's ES indexing stage, §3.1 stage 7),
    then every query's `field IN (fan-out)` pre-filter becomes parquet
    partition pruning, reading only its fields' directories. Same answer
    as `coarse_search_rank`; test_plan_quality pins the pruned scan."""
    from dig_etl_engine_spark.functions.kg import (
        load_index, materialize_index)
    from dig_etl_engine_spark.queries_corpus import (
        _build_once, _scratch_path)

    docs = load_tables(spark, sf_dir)["documents"]
    # build-once semantics, like the production index lifecycle: the
    # corpus build materializes, every query after that only reads.
    path = _build_once(
        _scratch_path(sf_dir, "kw_index"),
        lambda p: materialize_index(build_keyword_index(spark, docs), p))
    index = load_index(spark, path)
    query = {
        "clauses": [
            {"predicate": "keyword", "constraint": "Hash Value"},
            {"predicate": "description", "constraint": "the window"},
        ],
        "size": 15,
    }
    return compile_query(spark, docs, index, query, demo_config())


@register(
    "search_highlight",
    oracle=_IND + """
    SELECT doc_id, lang, source,
           CASE WHEN win THEN regexp_replace(
                  (SELECT text FROM documents d2 WHERE d2.doc_id = ind.doc_id),
                  '(?i)\\b(window)\\b', '<em>\\1</em>', 'g')
           END AS highlight_text,
           ROUND(CASE WHEN win THEN 2.0 ELSE 0 END, 6) AS score
    FROM ind
    WHERE win
    ORDER BY score DESC, doc_id ASC
    LIMIT 10
    """,
)
def search_highlight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 highlight (`elasticsearch_compiler_options.json:27-38`,
    number_of_fragments: 0): the configured text zone comes back whole
    with every clause term wrapped in <em> tags — one native
    case-insensitive word-boundary regexp_replace; the oracle restates
    the same replace arithmetic."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    cfg = demo_config()
    cfg.highlight_fields = ["text"]
    query = {
        "clauses": [{"predicate": "description", "constraint": "the window"}],
        "size": 10,
    }
    return compile_query(spark, docs, index, query, cfg)


@register(
    "search_synonym_expansion",
    oracle=_IND + """
    SELECT doc_id, lang, source,
           ROUND(CASE WHEN fast THEN 2.0 ELSE 0 END, 6) AS score
    FROM ind
    WHERE fast
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
)
def search_synonym_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3/Q4 constraint/synonym expansion (`dict_constraint_mappings.json:
    2-5` — blonde→[straw, blond, yellow] pattern): 'fast' expands to
    quick/rapid; one weight per matched field regardless of how many
    variants hit (ES should-clause indicator semantics)."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    query = {"clauses": [{"predicate": "description", "constraint": "fast"}],
             "size": 20}
    return compile_query(spark, docs, index, query, demo_config())


@register(
    "search_filters_to_shoulds",
    oracle=_IND + """
    SELECT doc_id, lang, source,
           ROUND((CASE WHEN win THEN 2.0 ELSE 0 END)
               + (CASE WHEN lang = 'en' THEN 1.5 ELSE 0 END), 6) AS score
    FROM ind
    WHERE win
    ORDER BY score DESC, doc_id ASC
    LIMIT 25
    """,
)
def search_filters_to_shoulds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 `convert_text_filters_to_shoulds` + `boost_shoulds`
    (`elasticsearch_compiler_options.json:2-3`): the lang filter becomes a
    scored should (weight 1.5) instead of a hard predicate — non-en docs
    still rank, lower."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    cfg = demo_config()
    cfg.convert_filters_to_shoulds = True
    cfg.boost_shoulds = 1.5
    query = {
        "clauses": [{"predicate": "description", "constraint": "a window"}],
        "filters": [{"field": "lang", "op": "eq", "value": "en"}],
        "size": 25,
    }
    return compile_query(spark, docs, index, query, cfg)


@register(
    "search_hard_filter",
    oracle=_IND + """
    SELECT doc_id, lang, source,
           ROUND(CASE WHEN win THEN 2.0 ELSE 0 END, 6) AS score
    FROM ind
    WHERE win AND lang = 'zh'
    ORDER BY score DESC, doc_id ASC
    LIMIT 25
    """,
)
def search_hard_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 default mode: structured filters as hard predicates — compare
    with `search_filters_to_shoulds` (same clause, filter enforced)."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    query = {
        "clauses": [{"predicate": "description", "constraint": "a window"}],
        "filters": [{"field": "lang", "op": "eq", "value": "zh"}],
        "size": 25,
    }
    return compile_query(spark, docs, index, query, demo_config())


@register(
    "search_paging",
    oracle=_IND + """
    SELECT doc_id, lang, source, score FROM (
      SELECT doc_id, lang, source,
             ROUND((CASE WHEN hv THEN 12.0 ELSE 0 END)
                 + (CASE WHEN win THEN 2.0 ELSE 0 END), 6) AS score,
             ROW_NUMBER() OVER (ORDER BY (CASE WHEN hv THEN 12.0 ELSE 0 END)
                 + (CASE WHEN win THEN 2.0 ELSE 0 END) DESC, doc_id ASC) AS rn
      FROM ind WHERE hv AND win
    ) WHERE rn > 5 AND rn <= 10
    """,
)
def search_paging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 `from`/`size` paging on the ranked result (ES paging via the DIG
    UI, `nginx/sandbox/conf.d/dig.conf:95-104`)."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    query = {
        "clauses": [
            {"predicate": "keyword", "constraint": "Hash Value"},
            {"predicate": "description", "constraint": "the window"},
        ],
        "size": 5, "from": 5,
    }
    return compile_query(spark, docs, index, query, demo_config())


@register(
    "search_zone_weighted_variant",
    oracle="""
    WITH ind AS (
      SELECT doc_id, lang, source,
             POSITION(' hash value ' IN ' ' || LOWER(text) || ' ') > 0
               AS strict,
             POSITION(' hash ' IN ' ' || LOWER(text) || ' ') > 0 AS relaxed
      FROM documents
    )
    SELECT doc_id, lang, source,
           ROUND((CASE WHEN strict THEN 5.0 ELSE 0 END)
               + (CASE WHEN relaxed THEN 1.5 ELSE 0 END), 6) AS score
    FROM ind
    WHERE strict OR relaxed
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
)
def search_zone_weighted_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 zone-weighted variant (`sandpaper/sandbox/config/basic/
    zone_field_mappings.json`, `microcap/field_weights.json`): the SAME
    compile path under an alternate physical layout — each logical field
    materialized as `{strict, relaxed}` zones with per-segment weight
    overrides (strict phrase hit w=5 ≫ relaxed token hit w=1.5), proving
    the field map + weight tree are config, not code. A doc matching the
    strict zone also matches relaxed → score 6.5; token-only docs → 1.5."""
    docs = load_tables(spark, sf_dir)["documents"]
    tdf = local_df(spark, [("hash value",), ("merge batch",)],
                   "term string")
    padded = F.concat(F.lit(" "), safe_lower(F.col("text")), F.lit(" "))
    base = docs.crossJoin(F.broadcast(tdf)) \
        .select("doc_id", "term", padded.alias("pt"))
    phrase = F.concat(F.lit(" "), F.col("term"), F.lit(" "))
    token = F.concat(F.lit(" "), F.split(F.col("term"), " ")[0], F.lit(" "))
    mk = lambda df, seg: df.select(  # noqa: E731
        "doc_id", F.lit("keyword").alias("field"),
        F.lit("glossary").alias("method"), F.lit(seg).alias("segment"),
        F.col("term").alias("value"), F.col("term").alias("key"))
    index = mk(base.filter(F.col("pt").contains(phrase)), "strict") \
        .unionByName(mk(base.filter(F.col("pt").contains(token)), "relaxed"))

    cfg = EngineConfig(
        predicate_types={"keyword": "Keyword"},
        type_field_mappings={
            "Keyword": [FieldRef("keyword", "glossary", "strict"),
                        FieldRef("keyword", "glossary", "relaxed")],
        },
        weights=WeightTree([
            WeightRule(weight=1.0),
            WeightRule(field="keyword", segment="strict", weight=5.0),
            WeightRule(field="keyword", segment="relaxed", weight=1.5),
        ]),
        default_source_fields=["doc_id", "lang", "source"],
    )
    query = {"clauses": [{"predicate": "keyword", "constraint": "hash value"}],
             "size": 20}
    return compile_query(spark, docs, index, query, cfg)


@register(
    "search_bm25_rank",
    oracle="""
    WITH stats AS (
      SELECT COUNT(*) AS n,
             AVG(len(string_split(lower(trim(text)), ' ')))::DOUBLE
               AS avgdl,
             COUNT(*) FILTER (
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'hash')) > 0) AS df_hash,
             COUNT(*) FILTER (
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'window')) > 0) AS df_window
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
        (SELECT ROUND(
           ln(1.0 + (n - df_hash + 0.5) / (df_hash + 0.5))
             * (tf_h * 2.2 / (tf_h + 1.2 * (0.25 + 0.75 * dl / avgdl)))
           + ln(1.0 + (n - df_window + 0.5) / (df_window + 0.5))
             * (tf_w * 2.2 / (tf_w + 1.2 * (0.25 + 0.75 * dl / avgdl))),
           6) FROM stats) AS score
      FROM (
        SELECT doc_id, lang,
               len(string_split(lower(trim(text)), ' '))::DOUBLE AS dl,
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'hash'))::DOUBLE AS tf_h,
               len(list_filter(string_split(lower(trim(text)), ' '),
                               x -> x = 'window'))::DOUBLE AS tf_w
        FROM documents)
    )
    SELECT doc_id, lang, score FROM scored
    WHERE score > 0
    ORDER BY score DESC, doc_id ASC
    LIMIT 20
    """,
)
def search_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in BM25 ranking (Lucene formulation, k1=1.2 b=0.75) — the
    scoring family the reference's Elasticsearch actually uses, closing
    the documented weighted-match divergence (SURVEY §7.4 R2) for
    callers that want parity. Corpus stats (N, per-term df, avgdl) are
    PERSISTED at corpus-build time (`functions/kg.py:
    materialize_bm25_stats`) — the reference's ES builds df into its
    inverted index at ingest the same way. Query time reads one scalar
    row plus len(terms) rows on the driver, with no Spark job and once
    per stats epoch for the scalar (`load_bm25_stats`), folds them
    into the scoring expression as literals
    (`plans/weights.py:bm25_score_column`), and scores with pure column
    math over the scan — no full-corpus aggregation in the query path.
    The oracle recomputes the full formula including ln()."""
    from dig_etl_engine_spark.functions.kg import (
        load_bm25_stats, materialize_bm25_stats)
    from dig_etl_engine_spark.plans.weights import bm25_score_column
    from dig_etl_engine_spark.queries_corpus import _scratch_path
    from dig_etl_engine_spark.sinks.kg_table import live_epoch

    docs = load_tables(spark, sf_dir)["documents"]
    terms = ["hash", "window"]
    path = _scratch_path(sf_dir, "bm25_stats")
    if live_epoch(path) is None:
        # the build is lock-serialized and publishes an epoch, so a
        # concurrent builder at worst rebuilds over this one
        materialize_bm25_stats(docs, path)
    n_docs, avgdl, df_counts = load_bm25_stats(spark, path, terms)
    score = bm25_score_column(
        F.col("text"), terms,
        df_counts=df_counts, n_docs=n_docs, avgdl=avgdl)
    return (docs.select("doc_id", "lang", score.alias("score"))
            .filter(F.col("score") > 0)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20))


@register(
    "facet_keyword_counts",
    oracle=f"""
    SELECT g.term AS key, COUNT(DISTINCT d.doc_id) AS doc_count
    FROM documents d
    CROSS JOIN (VALUES {_GLOSSARY_VALUES_SQL}) AS g(term)
    WHERE POSITION(' ' || g.term || ' ' IN ' ' || LOWER(d.text) || ' ') > 0
    GROUP BY g.term
    ORDER BY doc_count DESC, key ASC
    LIMIT 10
    """,
)
def facet_keyword_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 facets over the long index table (`type_field_group_by_mappings
    .json`): top-k keys for the keyword field, distinct-doc counted."""
    docs = load_tables(spark, sf_dir)["documents"]
    index = build_keyword_index(spark, docs)
    return facet_counts(index, "keyword", k=10)
