"""Nightly maintenance pass over a spark-dig warehouse — the one-command
recipe a production deployment schedules after its daily ingest.

Every incrementally-written layout in this engine decays in a known way,
and every decay has a sanctioned repair (README §"Persisted state has a
maintenance story"):

* bucketed KG tables accumulate one delta dir per micro-batch upsert
  and small files per fold → ``kg_table.compact_partitioned`` folds
  the deltas and compacts the files (and, when buckets outgrow their
  birth size, ``kg_table.rebucket_partitioned``);
* incremental minhash dedup indexes accumulate ``_ab=`` append
  partitions → ``dedup.compact_minhash_index``;
* incremental IVF ANN indexes accumulate ``(cluster, _ab)`` appends
  → ``similarity.compact_ivf_index``;
* Z-order clustered layouts lose their bounding-box tightness as
  appends land and key bounds drift → ``layout.recluster_zorder``
  (staged in-place rewrite);
* persisted BM25 corpus stats (df/avgdl snapshots) drift from a table
  served through incremental upserts → ``kg.refresh_bm25_stats``
  (signature check, rebuild-and-swap only on drift).

Usage (paths are the warehouse layouts this repo's sinks/indexes write):

    python scripts/maintain.py --kg-table  /warehouse/kg \\
                               --minhash   /warehouse/minhash_idx \\
                               --ivf       /warehouse/ivf_idx \\
                               [--rebucket-kg-to N] \\
                               [--zorder /warehouse/facts_z \\
                                --zorder-cols k1,k2 [--zorder-files N]] \\
                               [--bm25-stats /warehouse/bm25 \\
                                --bm25-docs /warehouse/docs \\
                                [--bm25-text-col text --bm25-id-col doc_id]]

Any subset of flags may be given; each repair is independent, idempotent
and single-writer — writer exclusion is ENFORCED by the layouts' shared
advisory ``table_lock``, so a maintenance run that overlaps a live
ingest waits for the ingest's in-flight batch instead of corrupting it
(``--lock-timeout`` bounds the wait; the semantic rule of scheduling
index compaction between checkpointed stream stops still applies, see
``compact_minhash_index``). All three repairs are crash-safe: the
KG compaction publishes immutable epoch dirs with one atomic manifest
replace (a killed run leaves only unreferenced orphans), the index
compactions write fresh epochs whose duplicate rows are provably
harmless to every consumer, so a killed maintenance run never
corrupts a query.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--kg-table",
                    help="bucketed KG table root (_kg_manifest layout)")
    ap.add_argument("--rebucket-kg-to", type=int, metavar="N",
                    help="also rebucket the KG table to N buckets "
                         "(growth maintenance; runs before compaction)")
    ap.add_argument("--minhash", help="incremental minhash index root")
    ap.add_argument("--ivf", help="incremental IVF index root")
    ap.add_argument("--zorder", metavar="PATH",
                    help="Z-order clustered parquet layout to re-cluster "
                         "in place (operators/layout.py staged rewrite)")
    ap.add_argument("--zorder-cols", metavar="A,B",
                    help="comma-separated integer key columns for "
                         "--zorder (required with it)")
    ap.add_argument("--zorder-files", type=int, default=8, metavar="N",
                    help="output file count for the --zorder rewrite "
                         "(default 8)")
    ap.add_argument("--bm25-stats", metavar="PATH",
                    help="persisted BM25 stats root (pointer-committed "
                         "epoch_<token>/ dirs behind a _CURRENT file) "
                         "to refresh if its corpus signature has "
                         "drifted")
    ap.add_argument("--bm25-docs", metavar="PATH",
                    help="parquet corpus the stats describe "
                         "(required with --bm25-stats)")
    ap.add_argument("--bm25-text-col", default="text", metavar="COL",
                    help="corpus text column (default: text)")
    ap.add_argument("--bm25-id-col", default="doc_id", metavar="COL",
                    help="corpus id column (default: doc_id)")
    ap.add_argument("--check", metavar="PATH", action="append",
                    default=[],
                    help="read-only layout diagnosis of a KG table "
                         "(kg_table.layout_report; era absent, flat, "
                         "manifest or retired, and the live delta "
                         "count): flags mixed "
                         "visible/hidden bucket layouts that a naive "
                         "spark.read.parquet(root) cannot see "
                         "correctly, naming rebucket_partitioned as "
                         "the normalizer, and retired on-disk formats "
                         "(_kb= dirs with no _kg_manifest, a manifest "
                         "that is not v3) that no entry point reads; "
                         "repeatable; exits 1 when any checked table "
                         "has findings; needs no Spark session")
    ap.add_argument("--target-file-bytes", type=int, default=128 << 20,
                    help="KG compaction target file size (default 128 MiB)")
    ap.add_argument("--lock-timeout", type=float, default=1800.0,
                    metavar="SECONDS",
                    help="how long to wait for a layout's writer lock "
                         "before failing (default 1800 s — a nightly "
                         "job out-waits a long in-flight ingest batch "
                         "rather than dying)")
    args = ap.parse_args()
    if not (args.kg_table or args.minhash or args.ivf or args.zorder
            or args.bm25_stats or args.check):
        ap.error("nothing to do: pass at least one of "
                 "--kg-table / --minhash / --ivf / --zorder / "
                 "--bm25-stats / --check")

    rc = 0
    if args.check:
        # pure-filesystem diagnosis — no Spark session needed
        from dig_etl_engine_spark.sinks.kg_table import layout_report
        for path in args.check:
            try:
                rep = layout_report(path)
            except Exception as ex:  # noqa: BLE001 — a damaged table
                # is precisely what this diagnosis is pointed at: a
                # torn manifest (JSONDecodeError) or an unreadable one
                # (resolve_pointer propagates EACCES by design) is a
                # FINDING, not a crash
                print(f"check {path}: UNREADABLE")
                print(f"  finding: manifest/layout unreadable "
                      f"({type(ex).__name__}: {ex}) — restore the "
                      f"table from its bucket dirs with "
                      f"rebucket_partitioned, or fix permissions")
                rc = 1
                continue
            desc = f"check {path}: era={rep['era']}"
            if rep["era"] == "manifest":
                desc += (f" gen={rep['gen']} buckets={rep['buckets']} "
                         f"live={rep['live_visible']}v+"
                         f"{rep['live_hidden']}h "
                         f"deltas={rep['deltas']} "
                         f"grace={rep['grace_dirs']} "
                         f"guard={'yes' if rep['guard_present'] else 'no'}")
            print(desc)
            for f in rep["findings"]:
                print(f"  finding: {f}")
                rc = 1
        if not (args.kg_table or args.minhash or args.ivf or args.zorder
                or args.bm25_stats):
            return rc
    if bool(args.bm25_stats) != bool(args.bm25_docs):
        ap.error("--bm25-stats and --bm25-docs must be given together "
                 "(the stats root and the corpus it describes)")
    zorder_cols: list[str] = []
    if args.zorder:
        if not args.zorder_cols:
            ap.error("--zorder requires --zorder-cols")
        zorder_cols = [c.strip() for c in args.zorder_cols.split(",")]
        if not all(zorder_cols):
            ap.error(f"--zorder-cols has an empty column name: "
                     f"{args.zorder_cols!r}")

    from dig_etl_engine_spark.session import get_spark
    spark = get_spark("maintain")
    spark.sparkContext.setLogLevel("WARN")

    if args.kg_table:
        from dig_etl_engine_spark.sinks import kg_table
        if args.rebucket_kg_to:
            n = kg_table.rebucket_partitioned(spark, args.kg_table,
                                              args.rebucket_kg_to,
                                              lock_timeout=args.lock_timeout)
            print(f"kg_table: rebucketed {n} rows "
                  f"to {args.rebucket_kg_to} buckets")
        n = kg_table.compact_partitioned(
            spark, args.kg_table, target_file_bytes=args.target_file_bytes,
            lock_timeout=args.lock_timeout)
        print(f"kg_table: compacted {n} buckets")

    if args.minhash:
        from dig_etl_engine_spark.operators.dedup import compact_minhash_index
        stats = compact_minhash_index(spark, args.minhash,
                                      lock_timeout=args.lock_timeout)
        print(f"minhash index: {stats}")

    if args.ivf:
        from dig_etl_engine_spark.operators.similarity import compact_ivf_index
        stats = compact_ivf_index(spark, args.ivf,
                                  lock_timeout=args.lock_timeout)
        print(f"ivf index: {stats}")

    if args.zorder:
        from dig_etl_engine_spark.operators.layout import recluster_zorder
        n = recluster_zorder(spark, args.zorder, zorder_cols,
                             num_files=args.zorder_files,
                             lock_timeout=args.lock_timeout)
        print(f"zorder layout: re-clustered {n} rows "
              f"into {args.zorder_files} files")

    if args.bm25_stats:
        from dig_etl_engine_spark.functions.kg import refresh_bm25_stats
        docs = spark.read.parquet(args.bm25_docs)
        rebuilt = refresh_bm25_stats(
            docs, args.bm25_stats,
            text_col=args.bm25_text_col, id_col=args.bm25_id_col,
            lock_timeout=args.lock_timeout)
        print(f"bm25 stats: {'rebuilt (corpus drifted)' if rebuilt else 'fresh, no rebuild'}")

    return rc


if __name__ == "__main__":
    raise SystemExit(main())
