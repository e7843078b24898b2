"""Pure-filesystem benchmark of the bucketed-table ENTRY-SWEEP tax vs
the swept-gen fast path (SCALING.md r12 section's numbers) — no Spark.

Builds a synthetic manifest table with N one-file epoch dirs, then
times ``_recover_partitioned_swap`` in two states:

  * fast path — sidecar matches the manifest generation and the prune
    probe releases nothing: one manifest parse + one sidecar read,
    return;
  * full sweep — sidecar invalidated (what any crashed writer leaves):
    the staging glob, the root listing with per-dir stats, the
    unreferenced-dir sweep, guard heal, re-stamp.

The ratio is the per-batch syscall overhead the sidecar removes at the
rebucket-as-you-grow doctrine's bucket counts. The residual fast-path
cost is the manifest parse itself — it IS the catalog, O(live) by
definition.

Usage:  python scripts/sweep_tax_bench.py [N ...]    # default 256 4096 65536
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SCRATCH = "/tmp/spark_graft_sweep_tax"


def build(root: str, n: int) -> None:
    from pyspark.sql import types as T

    from dig_etl_engine_spark.sinks import kg_table

    os.makedirs(root)
    live = {}
    for i in range(n):
        d = f".kbe_{i}_tok0"
        os.mkdir(os.path.join(root, d))
        with open(os.path.join(root, d, "a.parquet"), "w") as fh:
            fh.write("x")
        live[i] = d
    m = kg_table._new_manifest(T.StructType(), buckets=n, key="doc_id",
                               order="kafka_offset")
    kg_table.commit_pointer(root, kg_table._dump_manifest(
        dict(m, gen=5, live=live)), name=kg_table._MANIFEST)


def median_ms(fn, reps: int = 5) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts) * 1000


def main() -> None:
    from dig_etl_engine_spark.sinks import kg_table

    sizes = [int(x) for x in sys.argv[1:]] or [256, 4096, 65536]
    for n in sizes:
        root = os.path.join(SCRATCH, f"t{n}")
        if not os.path.isdir(root):
            build(root, n)
        kg_table._stamp_swept_gen(root, 5)
        fast = median_ms(
            lambda: kg_table._recover_partitioned_swap(root))

        def full():
            kg_table._invalidate_swept_gen(root)
            kg_table._recover_partitioned_swap(root)

        full_ms = median_ms(full)
        print(f"N={n:6d}: entry recovery fast path {fast:8.3f} ms | "
              f"full sweep {full_ms:9.3f} ms | "
              f"ratio {full_ms / max(fast, 1e-9):5.1f}x", flush=True)


if __name__ == "__main__":
    main()
