"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same config block is what we would ship to a 1000-executor cluster — the
only local-specific knob is the master URL.

The builder in :func:`get_spark` is the one place the engine sets its
Spark confs, and ``get_spark(extra_conf=...)`` is the one way to override
any of them. Environment variables pick only the deployment's shape:
``SPARK_MASTER``, ``SPARK_GRAFT_CPUS``, ``SPARK_DRIVER_MEM`` and
``SPARK_GRAFT_WORKER_PRELOAD``.

Key choices (rationale):
  * AQE on — runtime coalescing + skew-join handling replace hand-tuned
    partition counts at 100 TB.
  * ``spark.sql.shuffle.partitions`` starts at 2× cores locally; on a real
    cluster AQE's coalescing makes the initial number mostly irrelevant as
    long as it is high enough, so we also set
    ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``.
  * UTC session timezone — matches DuckDB's UTC-naive timestamps so the
    correctness oracle compares equal (pyspark guide pitfall list).
  * Arrow enabled — every pandas UDF / toPandas crosses via Arrow batches.
"""

from __future__ import annotations

import os
import tempfile
import threading
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

_SHIP_LOCK = threading.Lock()


def get_spark(app_name: str = "dig_etl_engine_spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session. Idempotent within a process.

    ``extra_conf`` overrides any conf the builder sets below."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus and not (cpus.isdigit() and int(cpus) > 0):
        raise ValueError(f"SPARK_GRAFT_CPUS={cpus!r} is not a positive "
                         "integer; set a core count or unset it")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus or '*'}]")
    cores = int(cpus) if cpus else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp — read as long, catalog converts to µs.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MB split target: good balance of task count vs per-task
        # overhead for large parquet scans (default, stated explicitly).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Floor the scan split count at the core count: small local files
        # otherwise produce 1-2 partitions and idle the other cores. At
        # cluster scale this floor is a no-op (file bytes dominate).
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.ui.enabled", "false")
        # 16g: large heaps (48g+) measurably worsen GC pause variance in
        # local mode; 16g is ample for sf0.1 broadcasts + shuffles.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # r12 (optimization round) — measured knobs; override any of
        # them through extra_conf:
        #
        # Checkpoint-file checksums (new default-on in Spark 4.1) write
        # and await a .crc sidecar for EVERY state-store delta, offset
        # and commit file — per micro-batch × per state partition.
        # Thread-dump sampling of the streaming stages put 29% of task
        # samples inside ChecksumCheckpointFileManager awaits, and an
        # interleaved A/B on stream_e2e_curation measured 2.2× (min
        # 6.9 s vs 15.5 s; every on/off pair agreed). The cost scales
        # WITH deployment size (files ∝ partitions × batches), while
        # the guard only detects silent checkpoint corruption —
        # redundant on checksumming/replicated storage (HDFS, S3,
        # zfs/btrfs). Spark ≤ 4.0 never had it. Deployments on raw
        # disks that want it back pass
        # spark.sql.streaming.checkpoint.fileChecksum.enabled=true.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
                "false")
        # ContextCleaner periodic GC: the default (30min) means a
        # shorter-lived session NEVER collects the JVM-side references
        # that keep finished queries' localCheckpoint blocks, broadcast
        # pieces and shuffle files alive (the engine's pin() blocks are
        # unreferenced after their query's action, but only a JVM GC
        # lets the weak-ref ContextCleaner reclaim the storage). 90 s
        # bounds the leak window at every scale; the System.gc() it
        # triggers is a no-op burden on a healthy heap.
        .config("spark.cleaner.periodicGC.interval", "90s")
        # PySpark 4 wraps EVERY DataFrame/Column API call in a
        # call-site-capture decorator for error enrichment: per call it
        # reads a conf over py4j, walks the Python stack, and makes two
        # more py4j round trips (PySparkCurrentOrigin set/clear).
        # cProfile over agg_pricing_summary's construction: 61% of
        # build time inside that wrapper (0.57 s → 0.25 s per build
        # with it off); construction runs inside the bench's timed
        # region and inside every real caller's latency budget. The
        # cost is pure driver-side Python — it scales with plan width,
        # not data, so it is the same tax on a 100 TB cluster driver.
        # Debugging deployments re-enable with
        # spark.python.sql.dataFrameDebugging.enabled=true (a static
        # conf, and the python-side flag is cached at first use, so it
        # must be set before the first DataFrame op — which builder
        # config guarantees).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # r13: let AQE size the partitions of plans that POPULATE a
        # cache (default false keeps a cached plan's output partitioning
        # stable so later queries can reuse it as a shuffle — a trade
        # that only pays when consumers join/aggregate on exactly that
        # key and partition count). The engine's persisted tables are
        # vocabulary/model-sized reuse tables consumed by MAP passes
        # (the BPE trainer's word table, micro-batch pins), where the
        # frozen pre-AQE layout means 2×cores near-empty cached
        # partitions and every downstream pass schedules that many
        # no-op tasks PER ITERATION (measured: bpe_train_merges runs
        # 9 × 64-task stages at local[32] carrying ~0.3 s of CPU each —
        # task-count ∝ cores, work ~0; guide §2.4/§2.2). With AQE
        # sizing, cached partitions follow bytes at every scale.
        # Override: pass
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
                "true")
        # r13: Hadoop's DEFAULT local filesystem (file:// →
        # ChecksumFileSystem / ChecksumFs) writes a ``.crc`` sidecar for
        # EVERY file it creates and doubles every rename — a THIRD
        # integrity layer under the two Spark 4.1 already stacks (its
        # own checkpoint checksums, disabled above with rationale, and
        # the parquet footer/page checksums inside the files). jstack
        # sampling of stream_e2e_curation put 21 of ~50 busy task
        # samples inside ChecksumFs.renameInternal: the streaming state
        # store commits one delta file per state partition per
        # micro-batch, and each commit paid crc compute + a second
        # file write + a second rename. The raw local FS drops the
        # sidecars; on HDFS/S3/ABFS these confs are inert (different
        # scheme), and those stores carry their own server-side
        # checksums — which is exactly the redundancy argument. Local
        # deployments on raw disks that want Hadoop-client checksums
        # back pass both
        #   spark.hadoop.fs.file.impl=org.apache.hadoop.fs.LocalFileSystem
        #   spark.hadoop.fs.AbstractFileSystem.file.impl=
        #       org.apache.hadoop.fs.local.LocalFs
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
                "org.apache.hadoop.fs.local.RawLocalFs")
        # Let the planner pick shuffled-hash join when its size
        # conditions hold instead of always preferring sort-merge
        # (optimization guide §3.1/§9: hash beats sort-merge when one
        # side is moderately small per partition; broadcast still wins
        # when a side is tiny, and sort-merge remains the fallback when
        # neither size condition holds — including whenever
        # autoBroadcastJoinThreshold is disabled, since the local-map
        # condition scales from the same threshold). Interleaved
        # min-of-6 A/B over the join-heavy headline queries: 9.47 s vs
        # 10.01 s total, direction consistent on 5 of 6 queries.
        # Shuffled-hash cannot spill-sort its build side, so a
        # deployment whose size estimates misfire reverts with
        # spark.sql.join.preferSortMergeJoin=true instead of a code
        # change.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Above 32 paths (the default threshold) a file-source read
        # lists its directories in a Spark job, one task per path. The
        # bucketed KG table reads its bucket dirs by explicit path from
        # the manifest — up to 64 at the default bucket count — so
        # every merge's touched-bucket read and every read_partitioned
        # paid a 49-64-task "Listing leaf files and directories" job for
        # directories the driver lists in a few ms. Measured at
        # local[4] on a 4-core host: read_partitioned + count of a
        # 64-bucket table 0.55 s → 0.22 s, a 100-document merge
        # 2.5 s → 2.2 s (with the schema pass-through in the merge).
        # 1024 keeps the listing on the driver up to that many paths;
        # past it, a cluster-side listing is worth its scheduling cost
        # again. Sessions the caller builds keep Spark's default and
        # still pay the job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
                "1024")
    )
    for k, v in _worker_preload_confs(master).items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _worker_preload_confs(master: str) -> dict[str, str]:
    """Python-worker preload confs (guide §4.5, hoisted one level
    further): the stock pyspark daemon forks workers that each pay the
    pandas+pyarrow import chain on their first Arrow/pandas task
    (measured 0.25-0.4 s of pure CPU per worker on this host, amplified
    by fork bursts — 13-50 fresh workers observed on bursty runs at
    local[32], 8.8-10 s aggregate per 32-worker burst; at cluster scale
    it is executors × workers-per-executor × that cost on every cold
    start). The top-level ``dig_etl_worker_preload`` module imports them
    ONCE in the daemon, so forked children inherit the modules
    copy-on-write.

    The daemon module must be importable by the WORKER Python — the
    daemon starts before addPyFile ships anything, and ``-m`` resolution
    ignores SparkFiles — so a wrong guess here bricks every Python task
    on the cluster ("Python worker failed to connect back"). The conf is
    therefore applied automatically only for ``local`` masters, where
    the workers share the driver's filesystem and we extend
    ``spark.executorEnv.PYTHONPATH`` with this package's parent so
    driver resolvability implies worker resolvability. A multi-node
    deployment that has installed the module on every executor host
    opts in explicitly with ``SPARK_GRAFT_WORKER_PRELOAD=force``; any
    of off/false/0/no reverts to the stock daemon with no code change.
    The module-resolvability guard (file next to the package, or
    driver ``find_spec`` for an installed copy) protects against an
    un-importable module, which (unlike a failed PRELOAD import,
    swallowed inside the module) would break worker startup outright."""
    raw = os.environ.get("SPARK_GRAFT_WORKER_PRELOAD", "on")
    flag = raw.lower()
    if flag not in ("on", "off", "false", "0", "no", "force"):
        raise ValueError(
            f"SPARK_GRAFT_WORKER_PRELOAD={raw!r} is not one of "
            "on/off/false/0/no/force")
    if flag in ("off", "false", "0", "no"):
        return {}
    if not master.startswith("local") and flag != "force":
        return {}
    import importlib.util
    pkg_parent = str(Path(__file__).resolve().parent.parent)
    if (not (Path(pkg_parent) / "dig_etl_worker_preload.py").is_file()
            and importlib.util.find_spec("dig_etl_worker_preload") is None):
        return {}
    merged = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH", "")) if p)
    return {"spark.python.daemon.module": "dig_etl_worker_preload",
            "spark.executorEnv.PYTHONPATH": merged}


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Cloudpickle serializes module-level functions by reference, so any
    mapInPandas/pandas_udf closing over package code needs the package on the
    workers' sys.path. The driver process may have found us via a bare
    ``sys.path`` insert (no PYTHONPATH the workers would inherit), so ship a
    zip of the package via ``addPyFile`` — the mechanism that also works on a
    real multi-node cluster, where executors share no filesystem with the
    driver. Idempotent per SparkContext; called by every operator that creates
    a Python UDF.
    """
    sc = spark.sparkContext
    if getattr(sc, "_dig_pkg_shipped", False):
        return
    # operators may run from concurrent driver threads (e.g. the PQ
    # trainer fits its subspaces in parallel); without the lock two
    # threads rebuild the zip simultaneously and executors abort with
    # "exists and does not match contents" on fetch. Also write to a
    # temp name + atomic rename so a half-written zip is never the file
    # addPyFile registers.
    with _SHIP_LOCK:
        if getattr(sc, "_dig_pkg_shipped", False):
            return
        pkg_dir = Path(__file__).resolve().parent
        zpath = (Path(tempfile.gettempdir())
                 / "dig_etl_engine_spark_pyfiles.zip")
        tmp = zpath.with_suffix(f".{os.getpid()}.tmp")
        with zipfile.ZipFile(tmp, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
        os.replace(tmp, zpath)
        sc.addPyFile(str(zpath))
        sc._dig_pkg_shipped = True
