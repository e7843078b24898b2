"""scripts/maintain.py — the one-command nightly maintenance pass
(README §"Persisted state has a maintenance story"). Builds a small
warehouse the way the sinks/indexes write it (multi-batch KG upserts,
incremental minhash + IVF appends), runs the CLI as a subprocess, and
asserts every layout still answers identically afterwards."""

import os
import subprocess
import sys

from pyspark.sql import functions as F

from dig_etl_engine_spark.catalog import load_tables

SF = "/root/testdata/sf0.001"


def test_maintain_cli_end_to_end(spark, tmp_path):
    from dig_etl_engine_spark.operators.dedup import (
        incremental_minhash_dedup, materialize_minhash_index)
    from dig_etl_engine_spark.operators.similarity import (
        incremental_embedding_dedup, materialize_ivf_index)
    from dig_etl_engine_spark.sinks.kg_table import (
        create_table_if_not_exists, read_partitioned, upsert_partitioned)

    kg, mh, ivf = (str(tmp_path / d) for d in ("kg", "mh", "ivf"))
    t = load_tables(spark, SF)
    docs = t["documents"].select(
        "doc_id", "text", F.col("doc_id").alias("kafka_offset"))
    emb = t["embeddings"]

    create_table_if_not_exists(spark, kg, docs.schema)
    for i in range(3):  # three micro-batch upserts → small files
        upsert_partitioned(spark, kg, docs.filter(F.col("doc_id") % 3 == i),
                           buckets=4)
    before_kg = sorted(tuple(r) for r in read_partitioned(spark, kg).collect())

    materialize_minhash_index(docs.filter("doc_id % 2 = 0"), "text", mh)
    incremental_minhash_dedup(docs.filter("doc_id % 2 = 1"), mh,
                              content_col="text", append=True).count()
    materialize_ivf_index(emb.filter("vec_id % 2 = 0"), ivf, k=4)
    incremental_embedding_dedup(emb.filter("vec_id % 2 = 1"), ivf,
                                append=True).count()
    # the incremental appends answered before maintenance — capture a
    # reference query result to compare after compaction
    probe = docs.filter("doc_id % 7 = 3")
    pairs_before = sorted(
        tuple(r) for r in incremental_minhash_dedup(
            probe, mh, content_col="text", append=False)
        .select("doc_a", "doc_b").collect())

    r = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(__file__), "..", "scripts",
                      "maintain.py"),
         "--kg-table", kg, "--minhash", mh, "--ivf", ivf],
        capture_output=True, text=True, timeout=400)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "minhash index" in r.stdout and "ivf index" in r.stdout

    # every layout still answers, byte-identically where it matters
    assert sorted(tuple(r) for r in
                  read_partitioned(spark, kg).collect()) == before_kg
    pairs_after = sorted(
        tuple(r) for r in incremental_minhash_dedup(
            probe, mh, content_col="text", append=False)
        .select("doc_a", "doc_b").collect())
    assert pairs_after == pairs_before and len(pairs_after) > 0
    # ivf index still probes without error post-compaction
    incremental_embedding_dedup(emb.filter("vec_id % 7 = 3"), ivf,
                                append=False).count()


def test_maintain_cli_zorder_recluster(spark, tmp_path):
    """--zorder rewrites a clustered layout in place through the staged
    swap: same rows, requested file count, still readable through the
    torn-view reader."""
    from dig_etl_engine_spark.operators.layout import (
        read_zorder_clustered, write_zorder_clustered)

    li = load_tables(spark, SF)["lineitem"] \
        .select("l_orderkey", "l_partkey", "l_extendedprice")
    path = str(tmp_path / "liz")
    write_zorder_clustered(li, path, ["l_orderkey", "l_partkey"],
                           num_files=16)
    before = read_zorder_clustered(spark, path).count()

    r = subprocess.run(
        [sys.executable,
         os.path.join(os.path.dirname(__file__), "..", "scripts",
                      "maintain.py"),
         "--zorder", path, "--zorder-cols", "l_orderkey,l_partkey",
         "--zorder-files", "4"],
        capture_output=True, text=True, timeout=400)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "zorder layout" in r.stdout
    assert read_zorder_clustered(spark, path).count() == before
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 4, files


def test_maintain_cli_check_layout(spark, tmp_path):
    """--check (verdict r11 item 3): read-only diagnosis of a KG
    table's layout — exit 1 naming rebucket_partitioned on a mixed
    visible/hidden layout a naive root read cannot resolve, exit 0
    after rebucket normalizes it. Needs no Spark session in the CLI
    itself (pure filesystem)."""
    from dig_etl_engine_spark.sinks import kg_table

    p = str(tmp_path / "kg")
    docs = spark.createDataFrame(
        [(i, f"t{i}", i) for i in range(20)],
        "doc_id long, text string, kafka_offset long")
    kg_table.upsert_partitioned(spark, p, docs, buckets=4)

    cli = os.path.join(os.path.dirname(__file__), "..", "scripts",
                       "maintain.py")

    r = subprocess.run([sys.executable, cli, "--check", p],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 1, (r.stdout, r.stderr[-1000:])
    assert "rebucket_partitioned" in r.stdout
    assert "era=manifest" in r.stdout and "guard=yes" in r.stdout
    assert "deltas=0" in r.stdout
    kg_table.upsert_partitioned(spark, p, docs.limit(2), buckets=4)
    r = subprocess.run([sys.executable, cli, "--check", p],
                       capture_output=True, text=True, timeout=120)
    assert "deltas=1" in r.stdout and "1 hidden delta" in r.stdout

    kg_table.rebucket_partitioned(spark, p, 4)
    r = subprocess.run([sys.executable, cli, "--check", p],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, (r.stdout, r.stderr[-1000:])
    assert "finding:" not in r.stdout

    # an absent path is a finding, not a crash
    r = subprocess.run(
        [sys.executable, cli, "--check", str(tmp_path / "nope")],
        capture_output=True, text=True, timeout=120)
    assert r.returncode == 1 and "does not exist" in r.stdout


def test_maintain_cli_check_corrupt_manifest(tmp_path):
    """A torn manifest is a FINDING, not a traceback — a damaged table
    is precisely what the diagnosis tool is pointed at (r12 review,
    second pass). No Spark needed."""
    p = str(tmp_path / "kg")
    os.makedirs(p)
    with open(os.path.join(p, "_kg_manifest"), "w") as fh:
        fh.write('{"v": 2, "gen": 3, "liv')   # torn mid-write shape

    cli = os.path.join(os.path.dirname(__file__), "..", "scripts",
                       "maintain.py")
    r = subprocess.run([sys.executable, cli, "--check", p],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 1, (r.stdout, r.stderr[-1000:])
    assert "UNREADABLE" in r.stdout and "finding:" in r.stdout
    assert "Traceback" not in r.stderr
