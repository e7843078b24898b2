"""Knowledge-graph assembly and field indexing (SURVEY.md §1.1, §3.1 stage 7).

Reference flow (`etk_worker.py:104-121` under /root/reference): modules call
``doc.kg.add_value(field, value)`` building ``knowledge_graph`` =
``{field: [{value, key, …}]}``; then ``index_knowledge_graph_fields`` (from
digsandpaper, imported at `etk_worker.py:12`) flattens it to
``indexed.<field>.<method>.<segment>.{value,key}`` plus
``indexed.<field>.high_confidence_keys``.

Spark design: the KG is a MapType column (field set = project config, not
code); the searchable form is one exploded **long-format table**
``(doc_id, field, method, segment, value, key)`` — the pushdown-friendly
replacement for 3-level nested column names (SURVEY §1.1, risk R3). At scale
the index table is written partitioned by ``field`` so query-time field
fan-out prunes partitions.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from dig_etl_engine_spark.plans.weights import bm25_analyze


def kg_build(df: DataFrame, field_extractors: Mapping[str, Column],
             *, out_col: str = "knowledge_graph") -> DataFrame:
    """Assemble the KG map from per-field extractor result columns.

    ``field_extractors`` maps field name → extractor Column (each returning
    ``array<struct<value,key,method,segment>>``, see functions.extractors).
    Equivalent of a module's sequence of ``doc.kg.add_value`` calls
    (`docs/advanced.md:151-181`).
    """
    entries: list[Column] = []
    for fname, col in field_extractors.items():
        entries.extend([F.lit(fname), col])
    return df.withColumn(out_col, F.create_map(*entries))


def kg_index(df: DataFrame, *, doc_id: str = "doc_id",
             kg_col: str = "knowledge_graph") -> DataFrame:
    """Flatten the KG map into the long-format index table.

    Output: one row per (doc, field, extraction) —
    ``doc_id, field, method, segment, value, key``. Empty extraction arrays
    produce no rows (matching the reference: fields with no extractions are
    absent from ``indexed.*``).

    Spark shape: two generators (explode map → explode array), both narrow —
    no shuffle. The generated rows stay partition-local with their doc.
    """
    exploded = df.select(
        F.col(doc_id).alias("doc_id"),
        F.explode(F.col(kg_col)).alias("field", "extractions"),
    )
    return exploded.select(
        "doc_id", "field",
        F.explode("extractions").alias("x"),
    ).select(
        "doc_id", "field",
        F.col("x.method").alias("method"),
        F.col("x.segment").alias("segment"),
        F.col("x.value").alias("value"),
        F.col("x.key").alias("key"),
    )


def materialize_index(index_df: DataFrame, path: str) -> None:
    """Write the long index table PARTITIONED BY field — the physical
    layout that makes query-time field fan-out (Q6) partition pruning:
    a clause touching 3 logical fields reads 3 directories, not the
    corpus. The reference gets the same effect from ES per-field inverted
    indexes. Low-cardinality partition key (fields are project config,
    dozens not millions) → no small-file explosion."""
    index_df.write.mode("overwrite").partitionBy("field").parquet(path)


def load_index(df_or_spark, path: str) -> DataFrame:
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    return spark.read.parquet(path)


def materialize_bm25_stats(docs: DataFrame, path: str, *,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> None:
    """Persist the corpus statistics BM25 needs — alongside the index,
    at corpus-build time, the way the reference's Elasticsearch keeps df
    and field-length norms inside the inverted index it builds at ingest.

    The store's one on-disk format: two tables under one epoch root,
    published by ``sinks/kg_table.publish_epoch`` (the ES-alias-swap
    analog, `manager.py:237-255`). The two tables:

    * ``term_df`` — ``(term, df)`` for EVERY distinct token: one
      tokenize → per-doc distinct → explode → groupBy pass, each file
      sorted by ``term`` (a local sort, no extra job). Query time reads
      only the query's terms on the driver (:func:`load_bm25_stats`),
      and the sorted files' row-group min/max statistics let that
      ``term`` filter skip every row group that cannot hold a term.
    * ``corpus`` — a single row ``(n_docs, avgdl)``.

    Tokenization matches ``plans.weights.bm25_score_column`` (lower,
    trim, whitespace split) so build-time df and query-time tf agree.

    COMMIT CONTRACT: readers that resolve the live epoch
    (:func:`load_bm25_stats`, :func:`bm25_stats_stale`) always see one
    complete, internally consistent build — see ``publish_epoch``.

    STALENESS CONTRACT: these stats are a build-time snapshot. An
    incremental doc_id upsert (``sinks/kg_table.py:upsert_*`` — K2)
    changes the corpus WITHOUT refreshing df/avgdl, silently skewing
    BM25 scores — the same drift Elasticsearch hides by rebuilding
    df inside each segment merge. The build therefore persists a
    content signature (order-independent ``bit_xor`` of
    ``xxhash64(id, text)``) in the ``corpus`` table;
    :func:`bm25_stats_stale` recomputes it against the current corpus
    in one pass, and :func:`refresh_bm25_stats` closes the loop
    (check → crash-safe rebuild-and-flip) in the same maintenance slot
    as bucket compaction (``scripts/maintain.py --bm25-stats``) — NOT
    per query, which would re-scan the corpus and defeat the
    materialization.

    WRITER EXCLUSION: the build-and-flip runs under the store's
    advisory ``table_lock``: two unlocked concurrent builders could each
    sweep the other's fully-written epoch an instant before its pointer
    flip publishes it, leaving the pointer naming a deleted directory.
    With the lock, builders serialize and the loser simply rebuilds over
    the winner's epoch (kept as its grace copy). ``refresh_bm25_stats``
    already holds the lock and calls the unlocked internal (the mkdir
    lock is not reentrant).
    """
    from dig_etl_engine_spark.sinks.kg_table import table_lock

    with table_lock(path):
        _materialize_bm25_stats_locked(docs, path, text_col=text_col,
                                       id_col=id_col)


def _materialize_bm25_stats_locked(docs: DataFrame, path: str, *,
                                   text_col: str, id_col: str) -> None:
    from dig_etl_engine_spark.sinks.kg_table import publish_epoch

    toks = bm25_analyze(F.col(text_col))

    def write(root: str) -> None:
        (docs.select(F.explode(F.array_distinct(toks)).alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("df"))
             .sortWithinPartitions("term")
             .write.mode("overwrite").parquet(f"{root}/term_df"))
        (docs.agg(F.count(F.lit(1)).alias("n_docs"),
                  F.avg(F.size(toks)).alias("avgdl"),
                  _corpus_signature(id_col, text_col).alias("corpus_sig"))
             .write.mode("overwrite").parquet(f"{root}/corpus"))

    publish_epoch(path, write)


def _corpus_signature(id_col: str, text_col: str):
    """Order-independent corpus content signature: bit_xor of one
    xxhash64 per (id, text) row — one narrow map-side-combining pass,
    no shuffle beyond the single scalar, insensitive to partitioning
    and row order. Detects adds, deletes AND in-place content rewrites
    (an id-only signature would miss last-write-wins text updates)."""
    return F.bit_xor(F.xxhash64(F.col(id_col).cast("string"),
                                F.col(text_col)))


def bm25_stats_stale(docs: DataFrame, path: str, *,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> bool:
    """True when the persisted BM25 stats no longer describe ``docs``
    (see the staleness contract on :func:`materialize_bm25_stats`), or
    were never built. O(corpus) scan; maintenance-time only."""
    try:
        epoch = _stats_epoch(path)
    except FileNotFoundError:
        return True
    if epoch is None or epoch[0] is None:
        return True
    cur = docs.agg(
        _corpus_signature(id_col, text_col).alias("sig")).head()["sig"]
    return (cur or 0) != (epoch[0]["corpus_sig"] or 0)


def refresh_bm25_stats(docs: DataFrame, path: str, *,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       force: bool = False,
                       lock_timeout: float = 300.0) -> bool:
    """Maintenance-slot refresh closing the staleness loop that
    :func:`bm25_stats_stale` only *detects*: rebuild the persisted
    stats when (and only when) the corpus has drifted from the
    snapshot, so a table served through incremental upserts
    (``sinks/kg_table.upsert_*``) never keeps serving skewed df/avgdl.
    Reference contract: the ES index the sandpaper queries execute
    against never serves stale term stats — segment merges rebuild df
    continuously (`sandpaper/sandbox/config/etk/config.json:38-47`);
    this is the batch-engine equivalent, scheduled beside bucket
    compaction in ``scripts/maintain.py``.

    Returns True when a rebuild happened (False = stats already fresh
    and ``force`` unset — the no-op costs one signature pass, never a
    rebuild). The rebuild publishes a fresh epoch (see
    :func:`materialize_bm25_stats` for the commit contract). Reader
    contract: ``load_bm25_stats`` takes NO lock and needs none — it
    resolves the live epoch once and reads both tables from it, so a
    concurrent refresh can neither show it a missing root nor mix stats
    from two corpus builds. The check→build→flip runs under the
    layouts' shared advisory ``table_lock`` so two overlapping
    maintenance runs serialize instead of racing the flip; entry time
    sweeps a crashed build's orphans.
    """
    from dig_etl_engine_spark.sinks.kg_table import sweep_epochs, table_lock

    with table_lock(path, timeout=lock_timeout):
        sweep_epochs(path)
        if not force and not bm25_stats_stale(
                docs, path, id_col=id_col, text_col=text_col):
            return False
        _materialize_bm25_stats_locked(docs, path, text_col=text_col,
                                       id_col=id_col)
    return True


# store path -> (epoch root, corpus row, term_df dataset) of the epoch
# last read there
_epoch_cache: dict[str, tuple] = {}


def _stats_epoch(path: str) -> tuple | None:
    """``(corpus row, term_df dataset)`` of the live epoch under
    ``path``, read on the driver with ``pyarrow.dataset`` (no Spark
    job), or None when no pointer names an epoch. The row is a dict, or
    None when ``corpus`` holds no row; a missing table raises
    ``FileNotFoundError``. The pointer is resolved on every call and the
    reads are cached per ``path`` under the resolved root: epoch dirs
    are immutable and every build publishes a new root, so the cache
    needs no invalidation."""
    from dig_etl_engine_spark.sinks.kg_table import live_epoch

    root = live_epoch(path)
    if root is None:
        return None
    hit = _epoch_cache.get(path)
    if hit is None or hit[0] != root:
        import pyarrow.dataset as ds

        rows = ds.dataset(f"{root}/corpus", format="parquet") \
            .to_table().to_pylist()
        hit = (root, rows[0] if rows else None,
               ds.dataset(f"{root}/term_df", format="parquet"))
        _epoch_cache[path] = hit
    return hit[1:]


def load_bm25_stats(spark, path: str, terms: list[str]) -> tuple:
    """Read ``(n_docs, avgdl, {term: df})`` for the query's terms.

    Driver-side and job-free (:func:`_stats_epoch`): the corpus row is
    read once per epoch, and each call filters the cached ``term_df``
    dataset to ``term IN (terms)``, which the file-sorted ``term``
    column lets pyarrow answer from the matching row groups. Terms
    absent from the corpus get df=0 (scores 0, same as the inline agg).
    ``spark`` is unused; it stays so callers need not change.

    Lock-free epoch consistency: the pointer is resolved ONCE and both
    tables are read from that one immutable epoch root, so a refresh
    landing between the two reads cannot mix ``n_docs``/``avgdl`` from
    one corpus build with ``df`` from another, and the flip itself
    (atomic pointer replace, old epoch kept as the pointer-recorded
    grace copy) never exposes a missing root. With no pointer naming
    an epoch, raises ``ValueError`` naming ``path``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    epoch = _stats_epoch(path)
    if epoch is None:
        raise ValueError(
            f"load_bm25_stats: no committed stats under {path} (no live "
            "epoch) — build them with materialize_bm25_stats")
    row, term_df = epoch
    # the file holds analyzed tokens: look each term up under the
    # scorer's normalization, keyed by the caller's own spelling
    keys = {t: bm25_analyze(t) for t in terms}
    # a typed value set: pyarrow cannot bind an empty untyped list
    hits = term_df.to_table(columns=["term", "df"], filter=pc.field(
        "term").isin(pa.array(sorted(set(keys.values())), pa.string())))
    found = dict(zip(hits.column("term").to_pylist(),
                     hits.column("df").to_pylist()))
    df_counts = {t: found.get(k, 0) for t, k in keys.items()}
    # an empty-corpus build writes n_docs=0 with a null avgdl (and a
    # pathological build could write zero rows) — degrade to zero stats
    # instead of a TypeError deep in the query path
    if row is None:
        return 0, 0.0, df_counts
    return row["n_docs"], float(row["avgdl"] or 0.0), df_counts


def high_confidence_keys(index_df: DataFrame) -> DataFrame:
    """Per (doc, field) sorted distinct keys — the
    ``indexed.<field>.high_confidence_keys`` equivalent
    (`type_field_group_by_mappings.json:6-12`: facets group by these).

    Returned sorted so the array is deterministic; a single partial-agg
    shuffle on (doc_id, field).
    """
    return (
        index_df.groupBy("doc_id", "field")
        .agg(F.array_sort(F.collect_set("key")).alias("high_confidence_keys"))
    )
