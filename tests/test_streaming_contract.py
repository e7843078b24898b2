"""Pins the file-stream source contract the registry's stream queries
rely on: a ``Trigger.AvailableNow`` drain over ``file_stream_source``
(which sets no ``maxFilesPerTrigger``) processes every file present at
start in ONE micro-batch. The queries write their stream inputs fully
parallel (no ``coalesce(1)`` — a single-task serialization of the whole
corpus) and their oracles replay the result as one batch; if a Spark
upgrade ever changed the availableNow default to split by file count,
this test fails before any oracle silently diverges."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T


def test_available_now_drains_many_files_in_one_batch(spark, tmp_path):
    from dig_etl_engine_spark.streaming.ingest import file_stream_source

    in_dir = str(tmp_path / "in")
    ck = str(tmp_path / "ck")
    (spark.range(20000)
     .select(F.col("id").alias("doc_id"),
             F.md5(F.col("id").cast("string")).alias("text"))
     .repartition(16)
     .write.mode("overwrite").json(in_dir))
    n_files = len(glob.glob(os.path.join(in_dir, "part-*")))
    assert n_files > 1, "need a multi-file input to pin the contract"

    schema = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    batches: list[tuple[int, int]] = []

    def fb(b, bid):
        batches.append((bid, b.count()))

    q = (file_stream_source(spark, in_dir, schema)
         .writeStream.outputMode("append").foreachBatch(fb)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert batches == [(0, 20000)], (n_files, batches)


def test_checkpoint_restart_carries_state_and_file_log(spark, tmp_path):
    """The restart contract behind `stream_restart_recovery`
    (queries_io.py): a NEW query started from the SAME checkpoint must
    (1) resume the state store — fingerprints emitted in run 1 stay
    suppressed in run 2 even from a fresh query object — and (2) resume
    the processed-file log — run 2 reads only files landed after run 1.
    Both are Spark's documented contract; this pins them at the exact
    operator + source shape the registered query uses."""
    from dig_etl_engine_spark.streaming.ingest import file_stream_source
    from dig_etl_engine_spark.streaming.stateful import (
        run_first_seen_dedup)

    in_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    schema = T.StructType([T.StructField("fp", T.StringType()),
                           T.StructField("off", T.LongType())])

    def drain():
        q = run_first_seen_dedup(
            file_stream_source(spark, in_dir, schema),
            target_path=out, checkpoint_dir=ck,
            fingerprint_col="fp", order_col="off",
            output_schema="fp string, off long")
        q.awaitTermination()

    spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3)], schema).write.json(in_dir)
    drain()
    got1 = {(r.fp, r.off) for r in spark.read.parquet(out).collect()}
    assert got1 == {("a", 1), ("b", 2)}

    # run 2: re-sends of a/b (must stay suppressed — state carried)
    # plus a new fingerprint c (must pass); offsets strictly later
    spark.createDataFrame(
        [("a", 10), ("b", 11), ("c", 12)], schema) \
        .write.mode("append").json(in_dir)
    drain()
    got2 = {(r.fp, r.off) for r in spark.read.parquet(out).collect()}
    assert got2 == {("a", 1), ("b", 2), ("c", 12)}, got2


def test_dead_process_scratch_roots_are_reaped(tmp_path, monkeypatch):
    """`_scratch` reaps sibling pid-scoped roots whose owner exited
    (one leaked dir per process otherwise) and never touches a live
    pid's root or non-scratch names."""
    import os

    from dig_etl_engine_spark import queries_io as qio

    parent = tmp_path / "scratchroot"
    parent.mkdir()
    dead = parent / "spark_graft_io-999999999"   # pid can't exist
    dead.mkdir()
    (dead / "junk").write_text("x")
    live = parent / f"spark_graft_io-{os.getpid()}x"  # non-int suffix
    live.mkdir()
    other_live = parent / f"spark_graft_io-{os.getppid()}"
    other_live.mkdir()
    monkeypatch.setattr(qio, "_SCRATCH",
                        str(parent / f"spark_graft_io-{os.getpid()}"))
    monkeypatch.setattr(qio, "_REAPED", False)
    qio._scratch("t")
    assert not dead.exists()          # dead pid reaped
    assert live.exists()              # malformed name untouched
    assert other_live.exists()        # live pid untouched


def test_stream_parts_scopes_confs_and_restores_them(spark):
    # inside the scope: the fixture-scale stream partition count and no
    # checkpoint checksums; on exit, normal or raising, the session's
    # own values come back
    from dig_etl_engine_spark.queries_io import _stream_parts

    sp = "spark.sql.shuffle.partitions"
    ck = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    orig = (spark.conf.get(sp), spark.conf.get(ck))
    spark.conf.set(sp, "5")
    spark.conf.set(ck, "true")
    try:
        with _stream_parts(spark):
            assert (spark.conf.get(sp), spark.conf.get(ck)) == ("16", "false")
        assert (spark.conf.get(sp), spark.conf.get(ck)) == ("5", "true")
        with pytest.raises(RuntimeError, match="stream died"):
            with _stream_parts(spark):
                assert spark.conf.get(sp) == "16"
                raise RuntimeError("stream died")
        assert (spark.conf.get(sp), spark.conf.get(ck)) == ("5", "true")
    finally:
        spark.conf.set(sp, orig[0])
        spark.conf.set(ck, orig[1])
