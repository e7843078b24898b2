"""Job shape and exactness of the search-serving path.

A search spends no Spark job on its own constants: the BM25 statistics
are read on the driver (:func:`functions.kg.load_bm25_stats` runs no
job, so a steady-state BM25 query runs only its own collect), and the
query compiler turns clause probes into literal predicates instead of
broadcasting a probe relation (no ``LocalTableScan``, one job fewer).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from dig_etl_engine_spark.functions import kg
from dig_etl_engine_spark.plans.query_compiler import (
    EngineConfig, FieldRef, compile_query)
from dig_etl_engine_spark.plans.weights import WeightRule, WeightTree
from dig_etl_engine_spark.sinks.kg_table import live_epoch

from .conftest import SF_UNIT, jobs_in_group

_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
          "hotel", "india", "juliet", "kilo", "lima", "mike", "november"]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_term_df_is_sorted_within_files(spark, tmp_path):
    docs = spark.createDataFrame(
        [(i, " ".join(f"{_WORDS[(i * k) % len(_WORDS)]}{k % 7}"
                      for k in range(1, 9)))
         for i in range(120)], "doc_id long, text string")
    path = str(tmp_path / "bm25")
    # uncoalesced, the groupBy writes one term_df file per shuffle
    # partition, so the check sees several files
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        with jobs_in_group(spark, "bm25-build") as jobs:
            kg.materialize_bm25_stats(docs, path)
    finally:
        spark.conf.set(conf, old)
    # a shuffle map job and a write job per table: the in-file sort adds
    # no sampling job and no exchange
    assert len(jobs) == 4, jobs
    term_df = os.path.join(live_epoch(path), "term_df")
    sizes = []
    for f in os.listdir(term_df):
        if f.endswith(".parquet"):
            terms = pq.read_table(os.path.join(term_df, f)) \
                .column("term").to_pylist()
            assert terms == sorted(terms), f
            sizes.append(len(terms))
    assert len(sizes) > 1 and max(sizes) > 1, sizes


def test_load_bm25_stats_runs_no_job(spark, tmp_path):
    docs = spark.createDataFrame(
        [(1, "fast spark query"), (2, "slow scan")],
        "doc_id long, text string")
    path = str(tmp_path / "bm25")
    kg.materialize_bm25_stats(docs, path)
    with jobs_in_group(spark, "bm25-load") as jobs:
        first = kg.load_bm25_stats(spark, path, ["fast", "scan", "absent"])
        again = kg.load_bm25_stats(spark, path, ["fast", "scan", "absent"])
    assert jobs == []
    assert first == again == (2, 2.5, {"fast": 1, "scan": 1, "absent": 0})
    assert kg.load_bm25_stats(spark, path, []) == (2, 2.5, {})


def test_bm25_term_casing_reaches_stats_and_score(spark, tmp_path):
    """A query term is looked up and scored under the tokenizer's own
    normalization: 'Fast' and 'fast' are one term."""
    from pyspark.sql import functions as F

    from dig_etl_engine_spark.plans.weights import bm25_score_column

    docs = spark.createDataFrame(
        [(1, "Fast spark query"), (2, "slow scan"), (3, "fast FAST")],
        "doc_id long, text string")
    path = str(tmp_path / "bm25")
    kg.materialize_bm25_stats(docs, path)

    def scored(terms):
        n_docs, avgdl, df_counts = kg.load_bm25_stats(spark, path, terms)
        score = bm25_score_column(F.col("text"), terms, df_counts=df_counts,
                                  n_docs=n_docs, avgdl=avgdl)
        rows = docs.select("doc_id", score.alias("s")).orderBy("doc_id")
        return (n_docs, avgdl, list(df_counts.values())), rows.collect()

    assert kg.load_bm25_stats(spark, path, ["Fast"]) == (
        3, 7 / 3, {"Fast": 2})
    assert scored(["Fast"]) == scored(["fast"])


def _two_corpora(spark):
    a = spark.createDataFrame(
        [(1, "fast spark query"), (2, "slow scan")],
        "doc_id long, text string")
    b = a.unionByName(spark.createDataFrame(
        [(3, "fast fast merge")], "doc_id long, text string"))
    return a, b


_TERMS = ["fast", "scan"]
_STATS_A = (2, 2.5, {"fast": 1, "scan": 1})
_STATS_B = (3, 8 / 3, {"fast": 2, "scan": 1})


def test_refresh_reaches_the_next_load(spark, tmp_path):
    """The stats cache is keyed by the live epoch root: a refresh
    between two loads of one session is seen by the second."""
    a, b = _two_corpora(spark)
    path = str(tmp_path / "bm25")
    kg.materialize_bm25_stats(a, path)
    assert kg.load_bm25_stats(spark, path, _TERMS) == _STATS_A
    assert kg.refresh_bm25_stats(b, path, force=True) is True
    assert kg.load_bm25_stats(spark, path, _TERMS) == _STATS_B


def test_rebuild_after_delete_reaches_the_next_load(spark, tmp_path):
    import shutil

    a, b = _two_corpora(spark)
    path = str(tmp_path / "bm25")
    kg.materialize_bm25_stats(a, path)
    assert kg.load_bm25_stats(spark, path, _TERMS) == _STATS_A
    shutil.rmtree(path)
    kg.materialize_bm25_stats(b, path)
    assert kg.load_bm25_stats(spark, path, _TERMS) == _STATS_B


def test_stats_cache_holds_one_entry_per_store(spark, tmp_path):
    a, b = _two_corpora(spark)
    path = str(tmp_path / "bm25")
    kg.materialize_bm25_stats(a, path)
    kg.load_bm25_stats(spark, path, _TERMS)
    for i in range(5):
        kg.refresh_bm25_stats(b if i % 2 == 0 else a, path, force=True)
        kg.load_bm25_stats(spark, path, _TERMS)
    mine = [k for k, (root, *_) in kg._epoch_cache.items()
            if k == path or root.startswith(path + os.sep)]
    assert mine == [path]
    assert kg._epoch_cache[path][0] == live_epoch(path)
    assert kg.load_bm25_stats(spark, path, _TERMS) == _STATS_B


def test_missing_or_empty_corpus_reads_stale(spark, tmp_path):
    """An epoch whose ``corpus`` table is gone, or holds no row, does
    not describe any corpus."""
    import shutil

    a, _ = _two_corpora(spark)
    for name in ("missing", "empty"):
        path = str(tmp_path / name)
        kg.materialize_bm25_stats(a, path)
        corpus = os.path.join(live_epoch(path), "corpus")
        empty = pq.read_table(corpus).slice(0, 0)
        shutil.rmtree(corpus)
        if name == "empty":
            os.makedirs(corpus)
            pq.write_table(empty, os.path.join(corpus, "part-0.parquet"))
        assert kg.bm25_stats_stale(a, path) is True, name


def test_steady_bm25_query_runs_one_job(spark):
    from dig_etl_engine_spark.queries_search import search_bm25_rank

    search_bm25_rank(spark, SF_UNIT).collect()   # may build the stats
    with jobs_in_group(spark, "bm25-query") as jobs:
        rows = search_bm25_rank(spark, SF_UNIT).collect()
    assert len(jobs) == 1, jobs
    assert rows


def test_keyword_query_runs_no_probe_job(spark, tmp_path):
    """One keyword clause over a materialized index: the doc side's and
    the matched index rows' shuffles plus the result — 3 jobs, and no
    probe relation in the plan."""
    from dig_etl_engine_spark.catalog import load_tables
    from dig_etl_engine_spark.queries_search import (
        build_keyword_index, demo_config)

    docs = load_tables(spark, SF_UNIT)["documents"]
    path = str(tmp_path / "idx")
    kg.materialize_index(build_keyword_index(spark, docs), path)
    index = kg.load_index(spark, path)
    query = {"clauses": [{"predicate": "keyword",
                          "constraint": "Hash Value"}], "size": 10}
    with jobs_in_group(spark, "kw-query") as jobs:
        df = compile_query(spark, docs, index, query, demo_config())
        rows = df.collect()
    assert len(jobs) == 3, jobs
    assert "LocalTableScan" not in _plan(df)
    assert rows and all(r["score"] == 12.0 for r in rows)


def test_literal_probes_match_once_per_target(spark):
    """Two clauses sharing a synonym value, each fanning out to two
    index targets of one field — ``(glossary, text)`` and ``(*, title)``
    — so every value is probed twice and ``fast`` four times. A doc
    scores each (clause, target) it matches once, however many values,
    probes or duplicate extractions hit it."""
    docs = spark.createDataFrame([(i, f"doc {i}") for i in range(1, 7)],
                                 "doc_id int, title string")
    index = spark.createDataFrame([
        (1, "kw", "glossary", "text", "spark", "spark"),
        (1, "kw", "glossary", "text", "spark", "spark"),
        (1, "kw", "glossary", "text", "fast", "fast"),
        (2, "kw", "regex", "title", "apache spark", "apache spark"),
        (2, "kw", "glossary", "title", "quick", "quick"),
        (3, "kw", "glossary", "text", "fast", "fast"),
        (3, "kw", "glossary", "title", "fast", "fast"),
        (4, "other", "glossary", "text", "spark", "spark"),
        (4, "other", "glossary", "title", "fast", "fast"),
        (5, "kw", "glossary", "text", "sparky", "sparky"),
        (5, "kw", "glossary", "title", "quick", "quick"),
        (6, "kw", "glossary", "text", "spark", "spark"),
    ], "doc_id int, field string, method string, segment string,"
       " value string, key string")
    refs = [FieldRef("kw", "glossary", "text"), FieldRef("kw", "*", "title")]
    cfg = EngineConfig(
        predicate_types={"tech": "Tech", "speed": "Speed"},
        type_field_mappings={"Tech": refs, "Speed": refs},
        weights=WeightTree([
            WeightRule(weight=1.0),
            WeightRule(field="kw", weight=2.0),
            WeightRule(field="kw", method="glossary", segment="text",
                       weight=5.0)]),
        type_query_kinds={"Tech": "match_phrase", "Speed": "match_phrase"},
        synonyms={"Tech": {"spark": ["fast"]}, "Speed": {"fast": ["quick"]}},
        default_source_fields=["doc_id"],
    )
    query = {"clauses": [{"predicate": "tech", "constraint": "Spark"},
                         {"predicate": "speed", "constraint": "fast"}],
             "size": 10}
    df = compile_query(spark, docs, index, query, cfg)
    got = [(r["doc_id"], r["score"]) for r in df.collect()]
    # doc 3: both clauses hit both targets (5 + 2) * 2; doc 1: both
    # clauses hit (glossary, text) only, through two values and a
    # duplicate row; doc 2: both clauses hit (*, title) only, clause 0
    # through a phrase; docs 4-6 miss a clause
    assert got == [(3, 14.0), (1, 10.0), (2, 4.0)]
    assert "LocalTableScan" not in _plan(df)
