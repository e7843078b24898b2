"""Job shape of the bucketed KG table's write, maintenance and
fresh-read paths.

The table's bucket dirs, deltas and schema are named by the manifest,
so neither a fold's touched-bucket read nor ``read_partitioned`` may
launch a Spark listing job for them, even past Spark's default 32-path
threshold, a steady-state upsert runs only its delta write, and
compaction and rebucketing each run one fold's job chain. Creating a
table runs no job, and its first upsert is a plain birth.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def test_create_runs_no_job_and_first_upsert_is_a_birth(spark, tmp_path):
    created, absent = str(tmp_path / "created"), str(tmp_path / "absent")
    with jobs_in_group(spark, "kg-create") as jobs:
        assert kg_table.create_table_if_not_exists(
            spark, created, T.StructType.fromDDL(SCHEMA), buckets=BUCKETS)
    assert jobs == []
    assert os.listdir(created) == [kg_table._MANIFEST]
    rows = [(f"k{i}", 1, "base") for i in range(600)]
    with jobs_in_group(spark, "kg-birth-absent") as absent_jobs:
        kg_table.upsert_partitioned(spark, absent,
                                    local_df(spark, rows, SCHEMA),
                                    buckets=BUCKETS)
    with jobs_in_group(spark, "kg-birth-created") as created_jobs:
        kg_table.upsert_partitioned(spark, created,
                                    local_df(spark, rows, SCHEMA))
    # the same fold into birth buckets: no extra job reads anything
    # the table held before its first batch
    assert created_jobs == absent_jobs, (created_jobs, absent_jobs)
    for path in (created, absent):
        m = kg_table._load_manifest(path)
        assert len(m["live"]) == BUCKETS and not m["deltas"]
        assert kg_table.read_partitioned(spark, path).count() == 600


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


def _live_files(path):
    """The manifest's live map, and each live dir's files with their
    mtimes."""
    live = kg_table._load_manifest(path)["live"]
    return live, {d: sorted(
        (f, os.stat(os.path.join(path, d, f)).st_mtime_ns)
        for f in os.listdir(os.path.join(path, d)))
        for d in live.values()}


def test_steady_upsert_runs_only_its_delta_write(spark, tmp_path):
    path = str(tmp_path / "kg")
    _born(spark, path)
    kg_table.upsert_partitioned(spark, path, _batch(spark, 20, 5))
    before = _live_files(path)
    deltas = {n for n in os.listdir(path) if n.startswith(".kgd_")}
    with jobs_in_group(spark, "kg-steady-upsert") as jobs:
        kg_table.upsert_partitioned(spark, path, _batch(spark, 200, 10))
    # on disk, where AQE's job names cannot hide a write: no bucket dir
    # was rewritten or touched, and the batch became one new delta
    assert _live_files(path) == before
    new = {n for n in os.listdir(path) if n.startswith(".kgd_")} - deltas
    assert new == {kg_table._load_manifest(path)["deltas"][-1]}
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


def _fragment(path, n):
    """Split the single parquet file of ``n`` live buckets in two, on
    the driver (pyarrow, no Spark job)."""
    import pyarrow.parquet as pq

    live = kg_table._load_manifest(path)["live"]
    for b in sorted(live)[:n]:
        d = os.path.join(path, live[b])
        (f,) = [x for x in os.listdir(d) if x.endswith(".parquet")]
        t = pq.read_table(os.path.join(d, f))
        half = t.num_rows // 2
        pq.write_table(t.slice(0, half), os.path.join(d, "frag-a.parquet"))
        pq.write_table(t.slice(half), os.path.join(d, "frag-b.parquet"))
        os.remove(os.path.join(d, f))


def test_compaction_jobs_do_not_grow_with_fragmented_buckets(
        spark, tmp_path):
    """Compaction is one fold: the deltas and every fragmented bucket
    go through one Spark job chain, so a table with 2 deltas and 4
    fragmented buckets compacts in as many jobs as one with 2 deltas
    and 1 fragmented bucket (or none) — no job per bucket."""
    counts = {}
    for frag in (0, 1, 4):
        path = str(tmp_path / f"kg{frag}")
        _born(spark, path)
        kg_table.upsert_partitioned(spark, path, _batch(spark, 20, 5))
        kg_table.upsert_partitioned(spark, path, _batch(spark, 20, 6))
        _fragment(path, frag)
        gen = kg_table._load_manifest(path)["gen"]
        with jobs_in_group(spark, f"kg-compact-{frag}") as jobs:
            n = kg_table.compact_partitioned(spark, path)
        m = kg_table._load_manifest(path)
        assert m["gen"] == gen + 1 and not m["deltas"]
        assert n >= frag
        counts[frag] = len(jobs)
        got = {r.doc_id: r.kafka_offset
               for r in kg_table.read_partitioned(spark, path).collect()}
        assert len(got) == 600 + 10
        assert got["k1"] == 6 and got["k0"] == 1 and got["new0"] == 6
    assert counts[4] == counts[1] == counts[0], counts


def test_rebucket_runs_no_count_job(spark, tmp_path):
    path = str(tmp_path / "kg")
    _born(spark, path)
    kg_table.upsert_partitioned(spark, path, _batch(spark, 20, 5))
    with jobs_in_group(spark, "kg-rebucket") as jobs:
        n = kg_table.rebucket_partitioned(spark, path, 16)
    # one fold and nothing else: the dedupe's shuffle-map stage, the
    # per-bucket repartition's and the write's result stage, each its
    # own job under AQE. The row count comes from the new epochs'
    # parquet footers, so no count job follows
    assert len(jobs) <= 3, jobs
    assert n == 600 + 10
    assert kg_table._load_manifest(path)["buckets"] == 16
