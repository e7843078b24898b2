"""Job shape of the bucketed KG table's write and fresh-read path.

The table's bucket dirs, deltas and schema are named by the manifest,
so neither a fold's touched-bucket read nor ``read_partitioned`` may
launch a Spark listing job for them, even past Spark's default 32-path
threshold, and a steady-state upsert runs only its delta write.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dig_etl_engine_spark.functions.localdf import local_df
from dig_etl_engine_spark.sinks import kg_table

from .conftest import jobs_in_group

SCHEMA = "doc_id STRING, kafka_offset BIGINT, v STRING"
BUCKETS = 64


def _listing(jobs: list[str]) -> list[str]:
    return [j for j in jobs if j.startswith("Listing leaf files")]


def _born(spark, path, n=600):
    rows = [(f"k{i}", 1, "base") for i in range(n)]
    kg_table.upsert_partitioned(spark, path, local_df(spark, rows, SCHEMA),
                                buckets=BUCKETS)
    assert len(kg_table._load_manifest(path)["live"]) == BUCKETS


def _batch(spark, n, off):
    # half updates, half inserts
    return local_df(spark, [(f"k{i}" if i % 2 else f"new{i}", off, "upd")
                            for i in range(n)], SCHEMA)


def test_upsert_and_fresh_read_list_on_driver(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(kg_table, "_MAX_DELTAS", 1)  # the upsert folds
    path = str(tmp_path / "kg")
    _born(spark, path)
    n = 200
    batch = _batch(spark, n, 10)
    touched = {r[0] for r in batch.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(BUCKETS))).collect()}
    assert len(touched) > 32, "the touched read must exceed 32 paths"
    with jobs_in_group(spark, "kg-fold-shape") as jobs:
        kg_table.upsert_partitioned(spark, path, batch)
    assert jobs and not _listing(jobs), jobs
    with jobs_in_group(spark, "kg-read-shape") as jobs:
        df = kg_table.read_partitioned(spark, path)
    assert not _listing(jobs), jobs
    got = {r.doc_id: r.kafka_offset for r in df.collect()}
    assert len(got) == 600 + n // 2
    assert got["k1"] == 10 and got["k0"] == 1 and got["new0"] == 10


def test_steady_upsert_runs_only_its_delta_write(spark, tmp_path):
    path = str(tmp_path / "kg")
    _born(spark, path)
    kg_table.upsert_partitioned(spark, path, _batch(spark, 20, 5))
    with jobs_in_group(spark, "kg-steady-upsert") as jobs:
        kg_table.upsert_partitioned(spark, path, _batch(spark, 200, 10))
    # only the delta write: the batch dedupe's shuffle-map stage and the
    # write's result stage, each submitted as its own job under AQE —
    # no listing job, no footer-inference job ("parquet at ..."), no
    # touched-bucket collect
    assert not [j for j in jobs if j.startswith(
        ("Listing leaf files", "parquet at", "collect at"))], jobs
    assert len(jobs) <= 2, jobs
    with jobs_in_group(spark, "kg-steady-read") as jobs:
        df = kg_table.read_partitioned(spark, path)
    assert jobs == []          # schema from the manifest: no footer job
    assert len(kg_table._load_manifest(path)["deltas"]) == 2
    got = {r.doc_id: r.kafka_offset for r in df.collect()}
    assert len(got) == 600 + 100
    assert got["k1"] == 10 and got["k0"] == 1 and got["new0"] == 10
