"""Benchmark of the DIG pipeline: index build, search serving, fresh ingest.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json and perfbench/METRICS.md):
  kg_build        batch ETL from CDR JSON-lines to a searchable index;
  search_serving  a closed loop with one client against a built index;
  ingest_fresh    micro-batches upserted into a bucketed KG table, each
                  followed by a search that must see the batch.

Inputs come from ``gen.py`` with ``--seed``; every answer is checked against
``oracle.py``. Set-up runs once, cold; then comes an untimed warm-up, then
operations are timed until ``--seconds`` of operation time has passed.
``--trace 1`` times the first half of that window untraced and the second
half traced, and reports the per-layer metrics instead of the end-to-end
ones.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it (``detail``) carries the
per-workload metrics under their own names, with the host anchors of
``bench.py`` on traced runs. All files go under ``.perfbench_work/`` in the
checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("kg_build", "search_serving", "ingest_fresh")


def session_conf(work: Path, traced: bool) -> dict[str, str]:
    import spans

    # -Xms equal to the heap limit: G1 then never resizes the heap, which
    # made peak RSS and operation times far steadier run to run
    mem = os.environ["SPARK_DRIVER_MEM"]
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{mem}",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if traced:
        conf.update(spans.event_log_conf(str(work / "events")))
    return conf


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this process plus the Spark JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM, which exits when its stdin
    closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = gw.proc
    spark.stop()
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        from dig_etl_engine_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus),
                      SPARK_DRIVER_MEM=os.environ.get("SPARK_DRIVER_MEM",
                                                      "2g"),
                      SPARK_LOCAL_DIRS=str(work / "local"),
                      TMPDIR=str(work / "tmp"))
    try:
        return run(args, work, cpus, get_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass


def run(args, work: Path, cpus: int, get_spark) -> int:
    import layers
    import workloads as W
    from pyspark import SparkContext

    inp = W.make_inputs(args.workload, args.seed, work, cpus)
    r = W.Run(args.seconds, bool(args.trace))
    r.n_terms = inp["n_terms"]
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}",
                      session_conf(work, r.traced))
    session_s = time.perf_counter() - t0
    jvm_pid = SparkContext._gateway.proc.pid
    try:
        W.WORKLOADS[args.workload](spark, r, inp)
        if r.traced:
            import bench
            r.detail.update(calibration_sec=bench._calibrate(spark),
                            calibration_driver_sec=bench._calibrate_driver())
        rss = peak_rss_mb(jvm_pid)
    finally:
        stop_session(spark)
    lat_ms = [x * 1e3 for x in r.lat]
    setup_s = session_s + r.prep_s
    r.detail.update(workload=args.workload, seed=args.seed,
                    session_start_s=session_s, setup_s=setup_s,
                    op_ms=[round(x, 1) for x in lat_ms],
                    error_rate=r.failed / max(r.attempted, 1),
                    peak_rss_mb=rss)
    if r.traced:
        metrics = layers.per_layer(args.workload, r, session_s,
                                   str(work / "events"))
    else:
        e2e = {"setup_s": (setup_s, "s"),
               "op_p50_ms": (statistics.median(lat_ms), "ms"),
               "items_per_s": (r.items / r.timed_s, "1/s"),
               "peak_rss_mb": (rss, "MB")}
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for e in r.errors[:5]:
        print(f"perfbench: wrong answer: {e}", file=sys.stderr)
    print(json.dumps({"detail": r.detail}))
    print(json.dumps({"correct": r.failed == 0, "attempted": r.attempted,
                      "failed": r.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
