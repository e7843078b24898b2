"""Broker round-trip for the Kafka legs (S5 source, K1 sink, C1-C5 ingest,
C2 offset reset) — the one pipeline slice the sandbox cannot exercise.

Self-skips unless ``KAFKA_BOOTSTRAP`` points at a reachable broker; see
integration/kafka/README.md for the one-command docker compose recipe.
Runs its own SparkSession because the Kafka connector jar must be on the
classpath at session creation (``spark.jars.packages``), which the shared
fixture deliberately omits.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pytest

pytestmark = [
    pytest.mark.kafka,
    pytest.mark.skipif(
        not os.environ.get("KAFKA_BOOTSTRAP"),
        reason="KAFKA_BOOTSTRAP unset — run integration/kafka/ compose "
               "recipe first"),
]

BOOTSTRAP = os.environ.get("KAFKA_BOOTSTRAP", "")

DOC_SCHEMA = "doc_id string, title string, version int"


@pytest.fixture(scope="module")
def kspark():
    import pyspark
    from pyspark.sql import SparkSession

    scala = "2.13"
    pkg = (f"org.apache.spark:spark-sql-kafka-0-10_{scala}:"
           f"{pyspark.__version__}")
    spark = (SparkSession.builder.master("local[4]")
             .appName("kafka-integration")
             .config("spark.jars.packages", pkg)
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    yield spark
    spark.stop()


def _produce(kspark, topic: str, rows: list[tuple]) -> None:
    from dig_etl_engine_spark.sinks.kafka import to_kafka_batch

    df = kspark.createDataFrame(rows, DOC_SCHEMA)
    to_kafka_batch(df, bootstrap_servers=BOOTSTRAP, topic=topic,
                   key_col="doc_id").save()


def test_produce_consume_upsert_and_reset(kspark, tmp_path):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dig_etl_engine_spark.sinks.kg_table import (
        create_table_if_not_exists, read_partitioned)
    from dig_etl_engine_spark.streaming.ingest import kafka_source, run_ingest

    topic = f"it_{uuid.uuid4().hex[:8]}_in"
    schema = T.StructType.fromDDL(DOC_SCHEMA)
    target = str(tmp_path / "kg")
    quarantine = str(tmp_path / "quarantine")
    checkpoint = str(tmp_path / "ckpt")
    create_table_if_not_exists(
        kspark, target,
        T.StructType.fromDDL(f"kafka_offset long, {DOC_SCHEMA}"), buckets=4)

    # K1: publish batch 1 — includes an invalid doc (null doc_id)
    _produce(kspark, topic, [
        ("d1", "first", 1), ("d2", "second", 1), (None, "orphan", 1)])

    def drain():
        src = kafka_source(kspark, bootstrap_servers=BOOTSTRAP, topic=topic,
                           value_schema=schema)
        q = run_ingest(src, target_path=target, quarantine_path=quarantine,
                       checkpoint_dir=checkpoint)
        q.awaitTermination()

    drain()
    got = {r.doc_id: (r.title, r.version)
           for r in read_partitioned(kspark, target).collect()}
    assert got == {"d1": ("first", 1), "d2": ("second", 1)}
    quarantined = kspark.read.parquet(quarantine)
    assert quarantined.count() == 1
    assert quarantined.head()["title"] == "orphan"

    # C3/K2: batch 2 overwrites d1 by higher broker offset, adds d3
    _produce(kspark, topic, [("d1", "first-v2", 2), ("d3", "third", 1)])
    drain()
    got = {r.doc_id: (r.title, r.version)
           for r in read_partitioned(kspark, target).collect()}
    assert got == {"d1": ("first-v2", 2), "d2": ("second", 1),
                   "d3": ("third", 1)}

    # C2: offset reset — drop the checkpoint, replay from earliest; the
    # (doc_id, offset) last-write-wins merge makes the replay idempotent
    shutil.rmtree(checkpoint)
    drain()
    after = {r.doc_id: (r.title, r.version)
             for r in read_partitioned(kspark, target).collect()}
    assert after == got
    # quarantine replay replaces its own _batch_id partition, no dup rows
    assert kspark.read.parquet(quarantine).filter(
        F.col("title") == "orphan").count() == 1
