"""The benchmark's DIG pipeline, driven only through the engine's public
module functions: JSON-lines source, extractors, KG assembly and index,
BM25 statistics, the query compiler, the KG table sink and streaming ingest.

Every function returns what the benchmark checks; none of them caches or
reorders work the engine would do for a real caller.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dig_etl_engine_spark.functions import extractors as X
from dig_etl_engine_spark.functions.kg import (
    kg_build, kg_index, load_bm25_stats, load_index, materialize_bm25_stats,
    materialize_index)
from dig_etl_engine_spark.plans.query_compiler import (
    EngineConfig, FieldRef, compile_query, facet_counts)
from dig_etl_engine_spark.plans.weights import (
    WeightRule, WeightTree, bm25_score_column)
from dig_etl_engine_spark.sinks.kg_table import read_partitioned
from dig_etl_engine_spark.sources.jsonlines import read_jsonlines
from dig_etl_engine_spark.streaming.ingest import (
    file_stream_source, run_ingest)

CDR_SCHEMA = ("doc_id string, kafka_offset bigint, url string, "
              "posted_date string, raw_content string")
KG_VALUES = "array<struct<value:string,key:string,method:string,segment:string>>"


def cdr_struct() -> StructType:
    return StructType.fromDDL(CDR_SCHEMA)


# --- extraction module (shared by kg_build and ingest_fresh) ----------------

def zones(docs: DataFrame) -> DataFrame:
    """HTML zones and the regex/URL extractors, one column each."""
    raw = F.col("raw_content")
    return docs.select(
        "doc_id", "kafka_offset", "url", "posted_date",
        X.html_title(raw).alias("title"),
        X.html_main_content(raw).alias("text"),
        X.extract_date_iso(raw).alias("_date"),
        X.extract_email(raw).alias("_email"),
        X.extract_phone(raw).alias("_phone"),
        X.extract_hostname(F.col("url")).alias("_hostname"))


def keywords(z: DataFrame, glossary: DataFrame) -> DataFrame:
    """Glossary matches over the main-content text: (doc_id, term)."""
    return X.glossary_matches(z, "text", glossary)


def assemble(z: DataFrame, matches: DataFrame) -> DataFrame:
    """Fold the matches back per document and build the KG map."""
    kw = matches.groupBy("doc_id").agg(F.collect_list(F.struct(
        F.col("term").alias("value"), F.col("term").alias("key"),
        F.lit("glossary").alias("method"),
        F.lit("text").alias("segment"))).alias("_keyword"))
    j = z.join(kw, "doc_id", "left")
    kg = kg_build(j, {
        "keyword": F.coalesce(F.col("_keyword"), F.array().cast(KG_VALUES)),
        "date": F.col("_date"), "email": F.col("_email"),
        "phone": F.col("_phone"), "hostname": F.col("_hostname")})
    return kg.select("doc_id", "kafka_offset", "url", "posted_date",
                     "title", "text", "knowledge_graph")


def extract(docs: DataFrame, glossary: DataFrame) -> DataFrame:
    z = zones(docs)
    return assemble(z, keywords(z, glossary))


def read_glossary(spark: SparkSession, path: str) -> DataFrame:
    return read_jsonlines(spark, path, "term string")


# --- kg_build -----------------------------------------------------------------

def build_paths(root: str) -> dict[str, str]:
    return {k: os.path.join(root, k) for k in ("docs", "index", "bm25")}


class NoTrace:
    """Untraced runs: layer boundaries cost nothing and run no action."""

    def boundary(self, layer: str, df: DataFrame) -> DataFrame:
        return df

    def step(self, layer: str, fn) -> None:
        fn()


def build(spark: SparkSession, corpus: str, glossary: str, root: str,
          tracer=NoTrace()) -> dict[str, str]:
    """Batch ETL: JSON-lines -> extraction -> KG doc table -> field index
    and BM25 statistics under ``root`` (wiped first). ``tracer`` marks the
    layer boundaries; the traced run puts an action at each one."""
    shutil.rmtree(root, ignore_errors=True)
    p = build_paths(root)
    t = tracer
    docs = t.boundary("sources.jsonlines",
                      read_jsonlines(spark, corpus, CDR_SCHEMA))
    z = t.boundary("functions.extractors.zones", zones(docs))
    m = t.boundary("functions.extractors.glossary",
                   keywords(z, read_glossary(spark, glossary)))
    kg = assemble(z, m)
    t.step("functions.kg.kg_build",
           lambda: kg.write.mode("overwrite").parquet(p["docs"]))
    kg_docs = spark.read.parquet(p["docs"])
    t.step("functions.kg.materialize_index",
           lambda: materialize_index(kg_index(kg_docs), p["index"]))
    t.step("functions.kg.bm25_stats",
           lambda: materialize_bm25_stats(kg_docs, p["bm25"]))
    return p


def index_rows_by_field(spark: SparkSession, index_path: str) -> dict:
    rows = (load_index(spark, index_path).groupBy("field").count()
            .collect())
    return {r["field"]: r["count"] for r in rows}


# --- search serving -----------------------------------------------------------

def search_config(convert_filters_to_shoulds: bool = False) -> EngineConfig:
    """Keyword clauses fan out to the glossary index (10), the body text
    zone (2) and the title zone (3); phrase clauses to the body (2)."""
    return EngineConfig(
        predicate_types={"keyword": "Keyword", "description": "owl:Thing"},
        type_field_mappings={
            "Keyword": [FieldRef("keyword", "glossary", "text", zone="index"),
                        FieldRef("text", zone="text"),
                        FieldRef("title", zone="text")],
            "owl:Thing": [FieldRef("text", zone="text")],
        },
        weights=WeightTree([
            WeightRule(weight=1.0),
            WeightRule(field="text", weight=2.0),
            WeightRule(field="title", weight=3.0),
            WeightRule(field="keyword", method="glossary", weight=10.0),
        ]),
        type_query_kinds={"Keyword": "match_phrase",
                          "owl:Thing": "match_phrase"},
        transforms={"Keyword": "lower", "owl:Thing": "strip_stopwords"},
        convert_filters_to_shoulds=convert_filters_to_shoulds,
        default_source_fields=["doc_id", "posted_date"],
        excluded_source_fields=["text", "raw_content"],
    )


def structured_query(q: dict) -> dict:
    clauses = [{"predicate": "keyword", "constraint": q["term"]}]
    if "phrase" in q:
        clauses.append({"predicate": "description", "constraint": q["phrase"]})
    out: dict = {"clauses": clauses, "size": 10}
    if "since" in q:
        out["filters"] = [{"field": "posted_date", "op": "gte",
                           "value": q["since"]}]
    if q["kind"] == "page":
        out["from"] = 10
    return out


class Searcher:
    """Serves the query stream against a built index: ``construct`` is the
    compile/facet/BM25-expression call that builds a query's plan and
    ``bm25_stats`` the BM25 statistics lookup; callers collect the plan."""

    def __init__(self, spark: SparkSession, paths: dict[str, str]):
        self.spark = spark
        self.paths = paths
        self.docs = spark.read.parquet(paths["docs"])
        self.index = load_index(spark, paths["index"])
        self.cfg = search_config()
        self.cfg_should = search_config(convert_filters_to_shoulds=True)

    def bm25_stats(self, q: dict):
        return load_bm25_stats(self.spark, self.paths["bm25"], q["terms"])

    def construct(self, q: dict, stats=None) -> DataFrame:
        kind = q["kind"]
        if kind == "facet":
            return facet_counts(self.index, q["field"], k=10)
        if kind == "bm25":
            n_docs, avgdl, df_counts = stats
            score = bm25_score_column(F.col("text"), q["terms"],
                                      df_counts=df_counts, n_docs=n_docs,
                                      avgdl=avgdl)
            return (self.docs.select("doc_id", score.alias("score"))
                    .filter(F.col("score") > 0)
                    .orderBy(F.desc("score"), F.asc("doc_id")).limit(10))
        cfg = self.cfg_should if kind == "keyword_should" else self.cfg
        return compile_query(self.spark, self.docs, self.index,
                             structured_query(q), cfg)


def result_rows(q: dict, rows) -> list[tuple]:
    if q["kind"] == "facet":
        return [(r["key"], r["doc_count"]) for r in rows]
    return [(r["doc_id"], r["score"]) for r in rows]


# --- ingest -------------------------------------------------------------------

class Ingest:
    """A bucketed KG table fed by ``run_ingest`` over a file-drop stream."""

    def __init__(self, spark: SparkSession, root: str, glossary: str):
        self.spark = spark
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.table = os.path.join(root, "kg_table")
        self.quarantine = os.path.join(root, "quarantine")
        self.checkpoint = os.path.join(root, "checkpoint")
        os.makedirs(self.landing, exist_ok=True)
        self.glossary = read_glossary(spark, glossary)
        self.transform = lambda df: extract(df, self.glossary)

    def land(self, files: list[str]) -> None:
        """Atomically drop a batch's files into the watched directory."""
        for f in files:
            os.replace(f, os.path.join(self.landing, os.path.basename(f)))

    def drain(self, transform=None):
        """One availableNow run: every landed file not yet seen."""
        q = run_ingest(file_stream_source(self.spark, self.landing,
                                          cdr_struct()),
                       target_path=self.table,
                       quarantine_path=self.quarantine,
                       checkpoint_dir=self.checkpoint,
                       transform=transform or self.transform)
        q.awaitTermination()
        return q

    def fresh_search(self, term: str, timings: dict | None = None):
        """read_partitioned -> kg_index -> compile_query on the live table."""
        t0 = time.perf_counter()
        docs = read_partitioned(self.spark, self.table)
        t1 = time.perf_counter()
        df = compile_query(self.spark, docs, kg_index(docs),
                           {"clauses": [{"predicate": "keyword",
                                         "constraint": term}], "size": 10},
                           search_config())
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        if timings is not None:
            timings.update(read_partitioned_ms=(t1 - t0) * 1e3,
                           construct_ms=(t2 - t1) * 1e3,
                           execute_ms=(t3 - t2) * 1e3)
        return [(r["doc_id"], r["score"]) for r in rows]

    def summary(self) -> tuple[int, int]:
        r = read_partitioned(self.spark, self.table).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("kafka_offset").alias("s")).head()
        return r["n"], r["s"]
