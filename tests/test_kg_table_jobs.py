"""Job shape of the bucketed KG table's write and fresh-read path.

The table's bucket dirs are named by the manifest, so neither the
merge's touched-bucket read nor ``read_partitioned`` may launch a Spark
listing job for them, even past Spark's default 32-path threshold.
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


def test_upsert_and_fresh_read_list_on_driver(spark, tmp_path):
    path = str(tmp_path / "kg")
    rows = [(f"k{i}", 1, "base") for i in range(600)]
    kg_table.upsert_partitioned(spark, path, local_df(spark, rows, SCHEMA),
                                buckets=BUCKETS)
    assert len(kg_table._live_bucket_dirs(path)) == BUCKETS
    n = 200
    # half updates, half inserts
    batch = local_df(spark, [(f"k{i}" if i % 2 else f"new{i}", 10, "upd")
                             for i in range(n)], SCHEMA)
    touched = {r[0] for r in batch.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(BUCKETS))).collect()}
    assert len(touched) > 32, "the touched read must exceed 32 paths"
    with jobs_in_group(spark, "kg-upsert-shape") as jobs:
        kg_table.upsert_partitioned(spark, path, batch)
    assert jobs and not _listing(jobs), jobs
    with jobs_in_group(spark, "kg-read-shape") as jobs:
        df = kg_table.read_partitioned(spark, path)
    assert not _listing(jobs), jobs
    got = {r.doc_id: r.kafka_offset for r in df.collect()}
    assert len(got) == 600 + n // 2
    assert got["k1"] == 10 and got["k0"] == 1 and got["new0"] == 10
