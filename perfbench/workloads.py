"""The three workloads. Each prepares its state once (timed as set-up),
warms up, then runs operations through ``Run.loop`` and checks every answer
against ``oracle``. Traced operations also keep what ``layers`` needs."""

from __future__ import annotations

import os
import shutil
import statistics
import time
from pathlib import Path

import gen
import layers
import oracle
import pipeline as P
import spans as T
from dig_etl_engine_spark.sinks.kg_table import layout_report

N_DOCS = 800            # corpus documents (and the seed table for ingest)
BATCH_DOCS = 100        # documents per ingest batch, 20% of them updates
N_BATCHES = 24          # more than any run can drain
N_QUERIES = 800         # query stream length; the loop cycles it
WARMUP_QUERIES = 14     # two passes over the seven query kinds
WARMUP_BATCHES = 2


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


class Run:
    """Counters and samples of one benchmark run."""

    def __init__(self, seconds: float, traced: bool):
        self.seconds = seconds
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.lat: list[float] = []          # untraced operation seconds
        self.traced_lat: list[float] = []
        self.items = 0
        self.timed_s = 0.0
        self.prep_s = 0.0
        self.detail: dict = {}
        self.traced_ops: list = []          # (Tracer, record) per operation
        self.n_terms = 0
        self.errors: list[str] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def loop(self, op, traced_op) -> None:
        """Run operations until ``seconds`` of operation time is spent; a
        traced run spends the second half on ``traced_op``. An operation
        returns (seconds, items) and checks its answer outside its timing."""
        split = self.seconds / 2 if self.traced else None
        spent = 0.0
        while spent < self.seconds:
            tracing = split is not None and spent >= split
            try:
                dt, n = (traced_op if tracing else op)()
            except Exception as e:             # a failed operation is data
                self.check(False, f"{type(e).__name__}: {e}"[:300])
                spent += 1.0                   # never spin on a hard fault
                continue
            spent += dt
            if tracing:
                self.traced_lat.append(dt)
            else:
                self.lat.append(dt)
                self.items += n
                self.timed_s += dt


def make_inputs(workload: str, seed: int, work: Path, parts: int) -> dict:
    corpus = gen.Corpus(seed)
    docs = [corpus.doc(corpus.new_id(), i) for i in range(N_DOCS)]
    inp = {"work": work, "docs": docs, "corpus": str(work / "in" / "corpus"),
           "glossary": str(work / "in" / "glossary"),
           "n_terms": len(corpus.glossary)}
    for k in range(parts):
        gen.write_jsonl(f"{inp['corpus']}/part-{k:03d}.jsonl", docs[k::parts])
    gen.write_glossary(f"{inp['glossary']}/terms.jsonl", corpus.glossary)
    if workload == "search_serving":
        inp["queries"] = gen.query_stream(seed, corpus, docs, N_QUERIES)
    elif workload == "ingest_fresh":
        inp["batches"] = gen.ingest_batches(corpus, docs, N_BATCHES,
                                            BATCH_DOCS)
        inp["batch_files"], inp["batch_bytes"] = [], []
        for i, b in enumerate(inp["batches"]):
            f = str(work / "in" / "batches" / f"batch-{i:04d}.jsonl")
            inp["batch_bytes"].append(gen.write_jsonl(f, b.docs))
            inp["batch_files"].append(f)
    return inp


def kg_build(spark, run: Run, inp: dict) -> None:
    want = oracle.index_rows_by_field(inp["docs"])
    root = str(inp["work"] / "build")

    def once(tracer=P.NoTrace()):
        t0 = time.perf_counter()
        p = P.build(spark, inp["corpus"], inp["glossary"], root, tracer)
        dt = time.perf_counter() - t0
        run.check(P.index_rows_by_field(spark, p["index"]) == want,
                  "index rows per field")
        return dt, N_DOCS, p

    run.prep_s = once()[0]
    once()                                     # warm-up

    def op():
        return once()[:2]

    def traced_op():
        tr = T.Tracer(spark, "kg_build")
        dt, n, p = once(tr)
        tr.release()
        files, size = layers.dir_stats(p["index"])
        run.traced_ops.append((tr, {"index_files": files,
                                    "index_bytes": size}))
        return dt, n

    run.loop(op, traced_op)
    run.detail["build_docs_per_s"] = run.items / run.timed_s


def search_serving(spark, run: Run, inp: dict) -> None:
    docs = inp["docs"]
    t0 = time.perf_counter()
    paths = P.build(spark, inp["corpus"], inp["glossary"],
                    str(inp["work"] / "serve"))
    run.prep_s = time.perf_counter() - t0
    s = P.Searcher(spark, paths)
    bm25 = oracle.BM25Truth(docs)
    queries = inp["queries"]
    state = {"i": 0}

    def next_query():
        state["i"] += 1
        return state["i"] - 1, queries[(state["i"] - 1) % len(queries)]

    def verify(q, rows):
        got = P.result_rows(q, rows)
        if q["kind"] == "facet":
            ok = got == oracle.facet(docs, q["field"])
        elif q["kind"] == "bm25":
            ok = oracle.bm25_matches(got, bm25.topk(q["terms"]),
                                     bm25.scores(q["terms"]))
        else:
            ok = got == oracle.search(docs, q)
        run.check(ok, f"query {q}")

    def op():
        _, q = next_query()
        t0 = time.perf_counter()
        stats = s.bm25_stats(q) if q["kind"] == "bm25" else None
        rows = s.construct(q, stats).collect()
        dt = time.perf_counter() - t0
        verify(q, rows)
        return dt, 1

    def traced_op():
        i, q = next_query()
        tr = T.Tracer(spark, "search_serving")
        t0 = time.perf_counter()
        stats = None
        if q["kind"] == "bm25":
            tr.group("functions.kg.load_bm25_stats")
            a = T.now_ms()
            stats = s.bm25_stats(q)
            tr.span("functions.kg.load_bm25_stats", a, T.now_ms())
        g = tr.group(f"plans.query_compiler:{i}")
        a = T.now_ms()
        df = s.construct(q, stats)
        b = T.now_ms()
        rows = df.collect()
        c = T.now_ms()
        dt = time.perf_counter() - t0
        tr.span("plans.query_compiler", a, c)
        tr.release()
        run.traced_ops.append((tr, {
            "kind": q["kind"], "construct_ms": b - a, "execute_ms": c - b,
            "results": len(rows), "counts": T.job_counts(spark, g)}))
        verify(q, rows)
        return dt, 1

    for _ in range(WARMUP_QUERIES):
        op()
    run.loop(op, traced_op)
    lat_ms = [x * 1e3 for x in run.lat]
    run.detail.update(search_p50_ms=percentile(lat_ms, 0.5),
                      search_p90_ms=percentile(lat_ms, 0.9),
                      search_samples=len(lat_ms),
                      search_qps=len(run.lat) / run.timed_s)


def ingest_fresh(spark, run: Run, inp: dict) -> None:
    work = inp["work"]
    ing = P.Ingest(spark, str(work / "ingest"), inp["glossary"])
    # the stream consumes what lands, so it gets its own copies
    names = sorted(os.listdir(inp["corpus"]))
    seed_files = [str(work / f"seed-{n}") for n in names]
    for n, dst in zip(names, seed_files):
        shutil.copyfile(os.path.join(inp["corpus"], n), dst)
    t0 = time.perf_counter()
    ing.land(seed_files)
    ing.drain()
    run.prep_s = time.perf_counter() - t0
    run.check(ing.summary() == oracle.table_summary(
        {d.doc_id: d for d in inp["docs"]}), "seeded table rows")
    batches = inp["batches"]
    state = {"i": 0}
    parts: dict[str, list[float]] = {"batch": [], "search": []}

    def land_next():
        i = state["i"]
        if i >= len(batches):
            raise RuntimeError("ran out of generated batches")
        state["i"] += 1
        ing.land([inp["batch_files"][i]])
        return batches[i]

    def verify(b, got):
        run.check(got == oracle.keyword_topk(b.state_after, b.fresh_term),
                  f"fresh search {b.fresh_term!r}")

    def op():
        b = land_next()
        t0 = time.perf_counter()
        ing.drain()
        t1 = time.perf_counter()
        rows = ing.fresh_search(b.fresh_term)
        t2 = time.perf_counter()
        parts["batch"].append(t1 - t0)
        parts["search"].append(t2 - t1)
        verify(b, rows)
        return t2 - t0, len(b.docs)

    def traced_op():
        b = land_next()
        tr = T.Tracer(spark, "ingest_fresh")

        def transform(df):
            z = tr.boundary("functions.extractors.zones", P.zones(df))
            m = tr.boundary("functions.extractors.glossary",
                            P.keywords(z, ing.glossary))
            return tr.boundary("functions.kg.kg_build", P.assemble(z, m))

        t0 = time.perf_counter()
        a = T.now_ms()
        q = ing.drain(transform)
        b_ms = T.now_ms()
        tr.span("streaming.ingest", a, b_ms)
        tm: dict = {}
        g = tr.group("plans.query_compiler:fresh")
        rows = ing.fresh_search(b.fresh_term, tm)
        dt = time.perf_counter() - t0
        tr.span("plans.query_compiler", b_ms, T.now_ms())
        tr.release()
        run.traced_ops.append((tr, {
            "progress": q.lastProgress, "start_ms": a,
            "layout": layout_report(ing.table),
            "batch_bytes": inp["batch_bytes"][state["i"] - 1],
            "search": tm, "counts": T.job_counts(spark, g),
            "results": len(rows)}))
        verify(b, rows)
        return dt, len(b.docs)

    for _ in range(WARMUP_BATCHES):
        op()
    parts["batch"].clear()
    parts["search"].clear()
    run.loop(op, traced_op)
    run.check(ing.summary() == oracle.table_summary(
        batches[state["i"] - 1].state_after),
        "final table rows and latest offsets")
    run.detail.update(
        ingest_batch_p50_ms=statistics.median(parts["batch"]) * 1e3,
        fresh_search_p50_ms=statistics.median(parts["search"]) * 1e3,
        ingest_docs_per_s=run.items / run.timed_s)


WORKLOADS = {"kg_build": kg_build, "search_serving": search_serving,
             "ingest_fresh": ingest_fresh}
