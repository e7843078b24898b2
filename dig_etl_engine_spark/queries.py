"""Query registry: every implemented operator from SURVEY.md §2 declared as a
(spark_fn, oracle_sql) pair over the canonical test tables.

The driver contract (``__spark_entry__.py``) runs each ``spark_fn(spark,
sf_dir)`` and its DuckDB oracle side by side, comparing row count, schema and
an order-insensitive value hash. Conventions that make the hashes stable:

  * every computed column is aliased identically in Spark and SQL;
  * double-typed aggregates are rounded explicitly on BOTH sides (float
    summation order differs between engines at the 1e-12 level) — and
    rounding is NOT sufficient over AVG/STDDEV/VAR of fixed-point
    inputs, whose group means sit exactly on round-half boundaries
    where the 1-ulp wobble flips the digit: those aggregate exact
    int64 SUM/SUMSQ/COUNT instead and derive the statistic per-row
    with mirrored expression trees (``functions/exact.py``; enforced
    registry-wide by ``test_registry_contract.py``'s wobble lint);
  * timestamps are projected as formatted strings (Spark session tz is UTC,
    DuckDB is UTC-naive — strings remove the ambiguity);
  * integer SUMs that reach the output are CAST to BIGINT in the oracle:
    DuckDB's SUM over integers yields HUGEINT (int128), which Arrow/pandas
    materializes as float64 while Spark emits int64 — a typed value hash
    would mismatch on every row even when the values are equal. (Integer
    SUMs consumed inside the query — CASE guards, divisions — are exempt.)

Each entry's docstring cites the reference operator it covers
(file:line under /root/reference).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QuerySpec = tuple[Callable[[SparkSession, str], DataFrame], str | None]

_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query to the registry with its DuckDB oracle SQL.

    ``oracle=None`` → non-SQL-expressible; the driver records a weaker
    rows-only check (allowed for custom stateful / iterative ops).
    """
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = (fn, oracle)
        return fn
    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


_LOADED = False

# Queries whose PRODUCT CODE changed after their latest green verdict,
# mapped to the round the change landed, so the driver's time-boxed
# sweep re-checks them next round even though they are not the stalest
# (external review, round 5, item 5: these five passed at r5 in the
# same round the ADVICE fixes to webdataset/kg_table/queries_io landed,
# and round 6 edited those paths again — staged-swap sharing, read-only
# torn-dir views, snapshot pins — plus ts_downsample_ohlc whose oracle
# expression moved to its canonical home). An entry sorts into the
# priority tier only while its latest verdict PRE-dates the recorded
# change round — once the driver re-verifies it, the entry expires by
# itself (no human edit needed) and the slot returns to the staleness
# window. Keep the set small: every LIVE entry displaces one
# staleness-window slot.
_PRIORITY_RECHECK: dict[str, int] = {
    # (the r8 entries all expired at r8's own driver sweep — every one
    # re-verified green — and were pruned; entries below are the r9
    # code changes)
    #
    # kernel-side continuous-round conversions (r9): the r8 plan-walk
    # lint's documented blind spot — engine/Python round() applied to a
    # sqrt-derived cosine produced INSIDE a numpy kernel (mapInPandas /
    # applyInPandas) or on the driver — rewritten to the shared
    # floor(x·10^d + 0.5) BIGINT tree in both engines. VERDICT r8 named
    # knn_cosine_bruteforce and rag_pipeline_full; the r9 audit found
    # the same class live in every query below (F.round over a
    # Python-kernel-produced cosine on a hashed surface, or a
    # quantized threshold deciding row membership), so all converted
    # and all re-verified together.
    "knn_cosine_bruteforce": 9,
    "rag_pipeline_full": 9,
    "dedup_embedding_cosine": 9,
    "ann_hyperplane_lsh": 9,
    # r12 optimization round, wave 7: ivf_kmeans_train's per-iteration
    # centroid update is now ONE fused Arrow pass emitting in-kernel
    # per-cluster partial sums (operators/similarity.py) — the
    # corpus-by-id re-join (locally a corpus-sized broadcast) and the
    # corpus×dim posexplode feeding avg() are gone; the per-(cluster,
    # dim) mean is sum(batch sums)/sum(batch counts), a different
    # summation ORDER over the same multiset (already order-dependent:
    # partial aggregation follows partitioning, and the DuckDB oracle
    # sums in its own order). carry_vec=True additionally lets
    # semdedup / contrastive_pairs / materialize_ivf_index consume the
    # vector straight from the assignment pass instead of re-joining it
    # by id. All seven queries executing the trainer re-verified MATCH
    # vs the oracle at sf0.001 + sf0.01 + sf0.1 immediately after the
    # change; the numpy-Lloyd's parity and repartition-invariance tests
    # pin the semantics — but the executed trees changed, so the driver
    # re-checks them. (semdedup / contrastive_pairs /
    # incremental_embedding_dedup / ivf_kmeans_train previously carried
    # r9 entries for the continuous-round conversions, long expired.)
    "semdedup": 12,
    "contrastive_pairs": 12,
    "incremental_embedding_dedup": 12,
    "ivf_kmeans_train": 13,  # r13: local-relation constructor (see r13 block)
    "pq_encode": 12,
    "pq_adc_topk": 13,  # r13: local-relation constructor (see r13 block)
    "knn_ivf_indexed": 13,  # r13: local-relation constructor (see r13 block)
    # r12: the bucketed table's commit/recovery protocol changed again
    # (sinks/kg_table.py — grace retention became configurable with a
    # v2 list-valued manifest grace format, reclamation at commit became
    # targeted removal beside the entry sweep, staged epoch data is
    # fsynced before the flip,
    # the naive-read guard file lands at the root, and resolve_pointer
    # narrowed its except clause). Merge SEMANTICS are untouched, but
    # these three queries execute every changed path:
    # upsert_partitioned_merge through upsert_partitioned/
    # read_partitioned, stream_file_upsert through run_ingest's default
    # bucketed sink (the r11 rationale for excluding it — "only a name
    # comparison changed" — does not apply this round: the commit
    # protocol it executes IS the diff), and search_bm25_rank through
    # the BM25 epoch publish, which now fsyncs its staged tables
    # before the pointer flip.
    "upsert_partitioned_merge": 12,
    "stream_file_upsert": 12,
    "search_bm25_rank": 12,
    # r12 optimization round: dsir_importance_weights was restructured
    # (dense bucket-domain LMs + window total replacing the 1-row
    # broadcast-total joins whose plan re-executed the target gram
    # pipeline three times). The log-probability arithmetic is
    # bit-identical by construction (0+k == k; same division, same
    # log — rationale at the operator) and the query re-verified MATCH
    # at sf0.01 right after the change, but the executed tree changed,
    # so the driver window re-checks it.
    "dsir_weights": 12,
    # r12 optimization round: the stateful first-seen dedup's per-chunk
    # winner pick moved from stable mergesort+head(1) to numpy argmin —
    # same selected row by construction (argmin returns the FIRST
    # occurrence of the minimum, which is what the stable sort's head
    # row was), but the executed kernel changed, so the three queries
    # that run it re-check.
    "stream_stateful_dedup": 12,
    "stream_restart_recovery": 12,
    "stream_e2e_curation": 12,
    # r12 optimization round, wave 3: the trigram projection under
    # ngram_lm_scores is now assembled as one parsed SQL string
    # (operators/text_analysis.py::_trigram_rows). The parsed tree is
    # alpha-identical to the Column form (pinned by
    # test_corpus_profiling.py::test_trigram_sql_tree_matches_column_
    # form) — only Catalyst-internal lambda variable NAMES differ — but
    # the construction path changed, so both consumers re-check.
    "ngram_lm_perplexity": 12,
    "perplexity_buckets": 12,
    # r12 wave 3: src_avro_roundtrip / sink_webdataset_roundtrip
    # dropped their in-path manifest-vs-count sanity asserts (a full
    # docs.count() job per run; the oracle's row-set equality subsumes
    # the check and tests pin the manifests). Returned rows unchanged,
    # but the executed function body changed.
    "src_avro_roundtrip": 13,  # r13: manifest local relation (see r13 block)
    "sink_webdataset_roundtrip": 13,  # r13: manifest local relation (see r13 block)
    # r12 wave 3: connected_components / pagerank / label_propagation
    # entry pins became lazy (eager=False; the adjacent full action
    # materializes the checkpoint in the same job — one fewer job per
    # call, identical LogicalRDD plans). Same labels by construction,
    # but the executed entry path changed for every consumer:
    "dedup_connected_components": 12,
    "dedup_corpus": 12,
    "dedup_report": 12,
    "corpus_curation_full": 12,
    "doc_pagerank": 12,
    "doc_communities": 12,
    # r12 wave 4: create_table_if_not_exists no longer runs an
    # empty-DataFrame Spark write job (it now commits a generation-0
    # manifest with nothing live; the read-back schema equals a Spark
    # write's across all type families, test_io.py::
    # test_seed_read_schema_identical_to_spark_write); zero rows
    # either way — but every stream query's table-bootstrap path
    # changed, so the two not already re-checking above join the list:
    "stream_dedup_ingest": 13,  # r13: minhash-index meta local relation (see r13 block)
    "stream_decontaminate_ingest": 12,
    # r12 wave 6: the search compiler + glossary matcher restructure
    # (plans/query_compiler.py::compile_query,
    # functions/extractors.py::glossary_matches): (1) the padded
    # casefold of the doc text is projected BELOW the glossary contains
    # join instead of being inlined in its condition (once per doc, not
    # once per doc×term pair); (2) an implied-by-the-join probe-value
    # pre-filter on `key` prunes the index/glossary side before the
    # contains join; (3) text-zone flags/score, highlight columns and
    # Q10 filter predicates are computed below the index join and the
    # raw text columns are projected away before the doc-side exchange.
    # All three are expression-motion only — the same expressions over
    # the same rows, evaluated one operator earlier, plus a filter
    # implied by the join condition — and every query listed here
    # re-verified MATCH at sf0.01 immediately after the change; but the
    # executed trees changed, so the driver re-checks them.
    "coarse_search_rank": 13,  # r13: probe/glossary local relation (see r13 block)
    "coarse_search_rank_materialized": 13,  # r13: probe/glossary local relation (see r13 block)
    "search_highlight": 13,  # r13: probe/glossary local relation (see r13 block)
    "search_synonym_expansion": 13,  # r13: probe/glossary local relation (see r13 block)
    "search_filters_to_shoulds": 13,  # r13: probe/glossary local relation (see r13 block)
    "search_hard_filter": 13,  # r13: probe/glossary local relation (see r13 block)
    "search_paging": 13,  # r13: probe/glossary local relation (see r13 block)
    "search_zone_weighted_variant": 13,  # r13: probe/glossary local relation (see r13 block)
    "facet_keyword_counts": 13,  # r13: probe/glossary local relation (see r13 block)
    "glossary_extract": 13,  # r13: probe/glossary local relation (see r13 block)
    "high_confidence_keys": 13,  # r13: probe/glossary local relation (see r13 block)
    "golden_elicit_pipeline": 13,  # r13: probe/glossary local relation (see r13 block)
    # r13 optimization round: small driver-side literal relations moved
    # from the pickled-RDD createDataFrame path to the Arrow
    # LocalTableScan path (functions/localdf.py) — identical rows by
    # construction (parity pinned by tests/test_localdf.py, NaN/nested/
    # datetime values fall back to the stock path), but the executed
    # trees changed for every query whose plan or fixture build contains
    # one of the swapped relations: the BPE merge table, the sentiment
    # lexicon, the PQ/IVF probe tables, the search compiler's probe
    # rows, the glossary term lists, the windowed-CSV/Excel grid rows,
    # the avro/webdataset export manifests, and the minhash index's
    # build-params meta. All re-verified 176/176 MATCH in a fresh
    # driver-like process right after the change; the driver window
    # re-checks the direct executors listed here (the wave-6 names
    # above were bumped 12 -> 13 for the same diff instead of being
    # duplicated):
    "bpe_train_merges": 13,
    "sentiment_score": 13,
    "glossary_extract_ngram_join": 13,
    "src_csv_windowed": 13,
    "src_excel_windowed": 13,
    "incremental_minhash_dedup": 13,
    "stream_dedup_ingest_oracle": 13,
    # Deliberately NOT listed (r12 optimization round, cannot move
    # results): the session/conf work — call-site-capture off,
    # checkpoint-file checksums off, periodic ContextCleaner GC,
    # preferSortMergeJoin=false, and load_tables' same-dir view-
    # registration skip — never changes what any query computes: the
    # first two remove instrumentation/integrity sidecars only, GC
    # reclaims unreferenced blocks, join strategy selection is
    # result-identical by engine contract, and the view skip fires only
    # when the views already point at the requested tables (cross-dir
    # calls still repoint; pinned by test_catalog_cache). The full
    # registry was re-driven 176/176 MATCH at sf0.01 in a fresh
    # driver-like process after these changes regardless.
    # Deliberately NOT listed (r12, cannot move results):
    # upsert_last_write_wins calls no kg_table function at all — it is
    # a pure window dedup over the events table
    # (queries_relational.py::upsert_last_write_wins), so neither the
    # seed-write change nor the storage-protocol diff can touch its
    # executed path. Of the stream_* queries, exactly four bootstrap a
    # table (the create_table_if_not_exists call sites in
    # queries_io.py: stream_file_upsert, stream_dedup_ingest,
    # stream_decontaminate_ingest, stream_e2e_curation) — all four are
    # in the recheck list above; the other five (stream_windowed_counts,
    # stream_session_windows, stream_ohlc_rollup,
    # stream_kmv_cardinality, stream_dedup_ingest_oracle) call neither
    # create_table_if_not_exists nor the stateful first-seen kernel, so
    # no r12 executed-path change reaches them. The four bootstrapping
    # queries create a table with a generation-0 manifest and nothing
    # live, and their first micro-batch folds into its birth buckets:
    # upsert_partitioned is the KG table's one write path, and all four
    # read back through read_partitioned (stream_file_upsert created at
    # 64 buckets, the other three at queries_io._FIXTURE_BUCKETS = 4).
    # resolve_pointer's except-clause narrowing is extensionally
    # identity on every healthy filesystem: a missing pointer still
    # raises FileNotFoundError → None.
    # coarse_search_rank_materialized reads the _SUCCESS-markered
    # kw_index, not the pointer-epoch stats store. The guard file is a
    # new root-level name no registered query ever lists
    # (read_partitioned reads explicit bucket dirs).
    # (the r11 entries for search_bm25_rank / upsert_partitioned_merge
    # — the pointer-epoch and manifest-protocol migrations — expired at
    # r11's own driver sweep, both re-verified green, and are subsumed
    # by their r12 entries above)
    # Deliberately NOT listed (r11, cannot move results):
    # upsert_last_write_wins calls no kg_table function, and the
    # stream_* queries that then wrote flat tables did so through a
    # full-rewrite merge (since retired) whose only r11 change was one
    # extra name comparison in its bucketed-layout guard — always
    # False on the flat tables they built; the stream_* rows were
    # r07-stale and sorted into that round's window regardless.
    # Deliberately NOT listed (r10, cannot move results): the round's
    # perf work rewrote four expression BUILDERS onto bind-once
    # evaluation (`functions/bindings.py`: ngram_hashes, dedup.shingles,
    # the perplexity trigrams, the DSIR unigram+bigram stream — five
    # inlined tokenizations per explode row there, 2.37→1.77 s median
    # at sf0.1 with a byte-identical sf0.01 result digest before/after
    # — generator trees get no CSE, so the
    # inlined tokenization re-ran 2n× per row; the 26-way re-evaluation
    # at n=13 was the r9 decontaminate_eval_overlap bench regression)
    # and added an all-ASCII guard to safe_lower/safe_upper (ASCII rows
    # take the engine's already-locale-free fast path, skipping the
    # translate UTF-16 round-trip). Both are EXTENSIONALLY EQUAL to the
    # forms they replace for every input: bind_once(expr, f) ≡ f(expr)
    # by HOF semantics (transform maps f over the 1-element array of
    # expr — value identical, evaluation count 1 instead of 2n), and
    # the guard's fast branch equals the fold on the exact rows it
    # takes (on all-ASCII input the fold is replace=no-op + translate
    # I→i/J→j + lower ≡ lower). Equality is PINNED, not pleaded:
    # tests/test_bindings.py compares bound vs inlined forms value-by-
    # value (short/empty/null/unicode docs, n=2/13, k=2/3/5, composed
    # casefold inputs) and test_casefold.py property-tests guarded vs
    # unguarded over hypothesis-generated trigger strings plus the
    # hazard set — and the full registry re-verified 176/176 MATCH at
    # sf0.01 in a fresh driver-like process after the rewrite. The
    # remaining r10 changes are outside query paths entirely:
    # kg.refresh_bm25_stats/_recover_bm25_stats are NEW maintenance
    # entry points (search_bm25_rank still calls materialize/load,
    # both untouched); maintain.py / tz_sweep.py / hostile_env_sweep.py
    # / bench.py are tooling. So the r10 window stays pure staleness
    # (31 r05 + 19 oldest r07), per the r9 verdict's arithmetic.
    #
    # Deliberately NOT listed (r9, cannot move results): the casefold
    # sweep (functions/casefold.py) rewrote every engine F.lower/F.upper
    # call to the locale-independent safe wrappers. Under the
    # default-locale JVM the driver runs, the wrappers are EXTENSIONALLY
    # EQUAL to the raw calls — the pre-fold applies exactly the
    # root-locale mappings the engine's own casing would apply next, for
    # every possible input string, not just the ASCII fixtures
    # (test_casefold.py pins the parity against Python's locale-free
    # str.lower/str.upper over the full trigger set) — so no registered
    # query's output can move; the change is observable only under a
    # tr/az/lt-locale deployment JVM, where it is the fix. Re-verified
    # empirically anyway: full-registry fresh-process drive at sf0.01,
    # 176/176 MATCH, post-change. Same adjudication for the r9
    # review fixes: the two stream fingerprints now call
    # text_analysis.fingerprint_md5 (token-identical expression tree to
    # the inline copies they replace) and module_pipeline_demux's
    # generated module case-folds through safe_upper (extensionally
    # equal on its ASCII lang codes) — all three pre-validated MATCH at
    # sf0.01 after the edit. Likewise the partitionOverwriteMode
    # literal flip ("dynamic" → "DYNAMIC"): Spark uppercases the value
    # before its enum lookup, so under the driver's default locale both
    # spellings resolve to the same mode and the same write — the flip
    # is observable only under a tr/az JVM, where the lowercase form
    # CRASHES (it cannot silently alter results anywhere). Full drive
    # re-verified 176/176 MATCH after it regardless.
    #
    # Deliberately NOT listed (r8 changes that cannot move results):
    # stream_e2e_curation — the input-cache TOCTOU fix only reorders
    # partial-dir cleanup (rename-aside before rmtree); committed cache
    # content is byte-identical either way. zorder_cluster_write — the
    # recluster all-NULL-bounds guard adds an error path the registered
    # query never enters, and the skip_fraction edit is docstring-only.
    # upsert_partitioned_merge — kg_table._bucket_expr now widens
    # integral keys before xxhash64, but widening is the IDENTITY for
    # the long/string keys every registered query uses (the cast is
    # only attached for narrower types), so the bucket expression those
    # queries execute is token-identical to the one their r7 verdicts
    # covered; the new width path is unit-pinned in test_io.py.
    # ts_rolling_anomaly (exact-integer surface rewrite) needs no entry:
    # never driver-green, so it sorts tier-0 ahead of this tier.
}


def _last_verified_round() -> dict[str, int]:
    """Scan CORRECTNESS_r*.json at the repo root for each query's most recent
    fully-green driver verdict (rows+schema+hash all matching).

    The round driver time/count-boxes its correctness sweep and walks the
    registry in iteration order, so queries past the cut get no verdict that
    round. Rotating the registry by least-recently-verified guarantees every
    query cycles through the verified window across rounds.
    """
    import json
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            data = json.loads(path.read_text(encoding="utf-8"))
        except (OSError, ValueError):
            continue
        for name, verdict in data.items():
            if isinstance(verdict, dict) and verdict.get("rows_match") \
                    and verdict.get("schema_match") and verdict.get("hash_match"):
                last[name] = max(last.get(name, -1), rnd)
    return last


def _ensure_loaded() -> None:
    """Import every module that registers queries (import side effects), then
    reorder the registry least-recently-driver-verified first (see
    ``_last_verified_round``)."""
    global _LOADED
    if _LOADED:
        return
    from dig_etl_engine_spark import (  # noqa: F401
        queries_relational,
        queries_ingest,
        queries_extraction,
        queries_search,
        queries_llm,
        queries_corpus,
        queries_timeseries,
        queries_io,
        queries_mapping,
        queries_modules,
    )
    last = _last_verified_round()
    position = {name: i for i, name in enumerate(_REGISTRY)}

    def key(n: str):
        if last.get(n, -1) < 0:
            tier = 0          # never driver-verified: always first
        elif last[n] < _PRIORITY_RECHECK.get(n, -1):
            # strict '<' is correct because a round-N verdict is
            # recorded AFTER round N's code freeze (the driver sweeps
            # at round end) — a verdict from the change round already
            # covers the change
            tier = 1          # code changed since last verdict
        else:
            tier = 2          # stalest-verdict-first cohort
        return (tier, last.get(n, -1), position[n])

    for name in sorted(_REGISTRY, key=key):
        _REGISTRY[name] = _REGISTRY.pop(name)
    _LOADED = True
