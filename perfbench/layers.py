"""Per-layer metrics of a traced run, named ``<engine module>.<metric>``.

Every workload reports every metric; a layer the workload does not run
reports 0, which is itself the prediction for that workload (for example,
no extractor time on ``search_serving``). Values are medians over the traced
operations unless the name says otherwise. METRICS.md maps each metric to
the end-to-end metric it should move.
"""

from __future__ import annotations

import datetime
import os
import statistics

import spans as T

UNITS = {
    "session.start_s": "s",
    "sources.jsonlines.read_s": "s",
    "sources.jsonlines.bytes_read": "bytes",
    "functions.extractors.zones_s": "s",
    "functions.extractors.glossary_s": "s",
    "functions.extractors.glossary_pairs_tested": "count",
    "functions.extractors.matches_per_doc": "count",
    "functions.kg.kg_build_s": "s",
    "functions.kg.kg_index_rows": "count",
    "functions.kg.materialize_index_s": "s",
    "functions.kg.index_bytes_written": "bytes",
    "functions.kg.index_files_written": "count",
    "functions.kg.bm25_stats_s": "s",
    "functions.kg.load_bm25_stats_ms": "ms",
    "plans.query_compiler.construct_ms": "ms",
    "plans.query_compiler.execute_ms": "ms",
    "plans.query_compiler.jobs_per_query": "count",
    "plans.query_compiler.stages_per_query": "count",
    "plans.query_compiler.tasks_per_query": "count",
    "plans.query_compiler.rows_read_per_result": "count",
    "plans.query_compiler.shuffle_bytes_per_query": "bytes",
    "sinks.kg_table.upsert_s": "s",
    "sinks.kg_table.buckets_touched_frac": "ratio",
    "sinks.kg_table.bytes_rewritten_per_input_byte": "ratio",
    "sinks.kg_table.grace_dirs": "count",
    "sinks.kg_table.read_partitioned_ms": "ms",
    "streaming.ingest.trigger_ms": "ms",
    "streaming.ingest.add_batch_ms": "ms",
    "streaming.ingest.query_planning_ms": "ms",
    "streaming.ingest.wal_commit_ms": "ms",
    "streaming.ingest.start_to_first_batch_ms": "ms",
    "spark.executor_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.spill_bytes_per_op": "bytes",
    "trace.overhead_frac": "ratio",
}


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping markers and hidden
    files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def per_layer(workload: str, run, session_s: float, events_dir: str) -> dict:
    jobs = T.parse_event_log(events_dir)
    traced = run.traced_ops
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = session_s
    if run.lat and run.traced_lat:
        m["trace.overhead_frac"] = (statistics.median(run.traced_lat)
                                    / statistics.median(run.lat))
    op_totals = []
    for tr, rec in traced:
        tot = T.by_span(jobs, tr.spans)
        op_totals.append(tot)
        rec["by_span"] = dict(tot)
    {"kg_build": _kg_build, "search_serving": _search,
     "ingest_fresh": _ingest}[workload](m, traced, run)
    n = max(len(op_totals), 1)
    totals = [t for op in op_totals for _, t in op]
    m["spark.executor_cpu_s_per_op"] = sum(t["cpu_ns"] for t in totals) / 1e9 / n
    m["spark.gc_s_per_op"] = sum(t["gc_ms"] for t in totals) / 1e3 / n
    m["spark.spill_bytes_per_op"] = sum(t["spill_bytes"] for t in totals) / n
    return {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()}


def _kg_build(m: dict, traced, run) -> None:
    def med(f):
        return _med(f(tr, rec) for tr, rec in traced)

    n_terms = run.n_terms
    m["sources.jsonlines.read_s"] = med(
        lambda tr, r: tr.span_s("sources.jsonlines"))
    m["sources.jsonlines.bytes_read"] = med(
        lambda tr, r: r["by_span"]["sources.jsonlines"]["input_bytes"])
    for layer, key in (("functions.extractors.zones", "zones_s"),
                       ("functions.extractors.glossary", "glossary_s"),
                       ("functions.kg.kg_build", "kg_build_s"),
                       ("functions.kg.materialize_index",
                        "materialize_index_s"),
                       ("functions.kg.bm25_stats", "bm25_stats_s")):
        m[f"{layer.rsplit('.', 1)[0]}.{key}"] = med(
            lambda tr, r, layer=layer: tr.span_s(layer))
    m["functions.extractors.glossary_pairs_tested"] = med(
        lambda tr, r: tr.counts["sources.jsonlines"] * n_terms)
    m["functions.extractors.matches_per_doc"] = med(
        lambda tr, r: tr.counts["functions.extractors.glossary"]
        / tr.counts["sources.jsonlines"])
    m["functions.kg.kg_index_rows"] = med(
        lambda tr, r: r["by_span"]["functions.kg.materialize_index"][
            "output_records"])
    m["functions.kg.index_files_written"] = med(
        lambda tr, r: r["index_files"])
    m["functions.kg.index_bytes_written"] = med(
        lambda tr, r: r["index_bytes"])


def _query_counts(m: dict, recs: list[dict]) -> None:
    pc = "plans.query_compiler"
    m[f"{pc}.construct_ms"] = _med(r["construct_ms"] for r in recs)
    m[f"{pc}.execute_ms"] = _med(r["execute_ms"] for r in recs)
    m[f"{pc}.jobs_per_query"] = _med(r["counts"][0] for r in recs)
    m[f"{pc}.stages_per_query"] = _med(r["counts"][1] for r in recs)
    m[f"{pc}.tasks_per_query"] = _med(r["counts"][2] for r in recs)
    m[f"{pc}.rows_read_per_result"] = _med(
        r["by_span"][pc]["input_records"] / max(r["results"], 1)
        for r in recs)
    m[f"{pc}.shuffle_bytes_per_query"] = _med(
        r["by_span"][pc]["shuffle_write_bytes"] for r in recs)


def _search(m: dict, traced, run) -> None:
    recs = [rec for _, rec in traced]
    _query_counts(m, recs)
    m["functions.kg.load_bm25_stats_ms"] = _med(
        tr.span_s("functions.kg.load_bm25_stats") * 1e3
        for tr, rec in traced if rec["kind"] == "bm25")


def _ingest(m: dict, traced, run) -> None:
    recs = []
    for tr, rec in traced:
        p = rec["progress"]
        d = p["durationMs"]
        ts = datetime.datetime.strptime(
            p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=datetime.timezone.utc).timestamp() * 1e3
        extract_s = sum(tr.span_s(f"functions.{x}") for x in
                        ("extractors.zones", "extractors.glossary",
                         "kg.kg_build"))
        lay = rec["layout"]
        written = rec["by_span"]["streaming.ingest"]["output_bytes"]
        recs.append({
            "streaming.ingest.trigger_ms": d.get("triggerExecution", 0),
            "streaming.ingest.add_batch_ms": d.get("addBatch", 0),
            "streaming.ingest.query_planning_ms": d.get("queryPlanning", 0),
            "streaming.ingest.wal_commit_ms": d.get("walCommit", 0),
            "streaming.ingest.start_to_first_batch_ms": ts - rec["start_ms"],
            "sinks.kg_table.upsert_s": d.get("addBatch", 0) / 1e3 - extract_s,
            "sinks.kg_table.grace_dirs": lay.get("grace_dirs", 0),
            "sinks.kg_table.buckets_touched_frac":
                lay.get("grace_dirs", 0) / max(lay.get("buckets", 1), 1),
            "sinks.kg_table.bytes_rewritten_per_input_byte":
                written / rec["batch_bytes"],
            "sinks.kg_table.read_partitioned_ms":
                rec["search"]["read_partitioned_ms"],
            "sources.jsonlines.bytes_read": rec["batch_bytes"],
            "functions.extractors.zones_s":
                tr.span_s("functions.extractors.zones"),
            "functions.extractors.glossary_s":
                tr.span_s("functions.extractors.glossary"),
            "functions.extractors.glossary_pairs_tested":
                tr.counts["functions.extractors.zones"]
                * run.n_terms,
            "functions.extractors.matches_per_doc":
                tr.counts["functions.extractors.glossary"]
                / max(tr.counts["functions.extractors.zones"], 1),
            "functions.kg.kg_build_s": tr.span_s("functions.kg.kg_build"),
        })
    for k in (recs[0] if recs else {}):
        m[k] = _med(r[k] for r in recs)
    _query_counts(m, [dict(rec["search"], results=rec["results"],
                           counts=rec["counts"], by_span=rec["by_span"])
                      for _, rec in traced])
