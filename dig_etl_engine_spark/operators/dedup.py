"""Deduplication operators for training-data pipelines (BASELINE.json north
star): exact, MinHash+LSH, SimHash, n-gram Jaccard.

Hash choice: base hashes are md5-of-string — deliberately, so results are
bit-reproducible across engines (the DuckDB oracle computes the identical
pipeline) and across Spark versions; the 16 minhash permutations derive
from ONE base hash via universal hashing (two integer ops each), never 16
separate md5 passes. At 100 TB swap the md5 prefix for ``xxhash64`` (same
structure, ~10× cheaper) — the operator shapes don't change.

Scale shapes (shared by minhash and simhash):
  * exact: one shuffle on the fingerprint (groupBy), map-side combine.
  * explode tokens/shingles → scalar hash (whole-stage codegen) →
    groupBy(doc) min/sum aggregates (map-side combine, one shuffle) →
    narrow (id, bucket) self-join — md5 buckets are uniform, so no skew;
    array payloads move only for verified candidate pairs.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dig_etl_engine_spark.functions.bindings import bind_once
from dig_etl_engine_spark.functions.localdf import local_df
from dig_etl_engine_spark.operators.pin import pin

logger = logging.getLogger(__name__)

from dig_etl_engine_spark.operators.text_analysis import fingerprint_md5

# --- exact dedup --------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, *, id_col: str = "doc_id"
                ) -> DataFrame:
    """Exact (normalized-content) dedup: keep the smallest id per content
    fingerprint — deterministic winner, unlike dropDuplicates which keeps
    an arbitrary row. One shuffle on the 128-bit fingerprint."""
    fp = fingerprint_md5(F.col(content_col)).alias("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# --- shingles + minhash -------------------------------------------------------


def shingles(col: Column, k: int = 3) -> Column:
    """Token k-gram shingles (1 shingle per position; docs shorter than k
    tokens yield one whole-doc shingle).

    Built by zipping k shifted slices of the token array and joining each
    zipped tuple. Never reference the split inside a per-element lambda
    (e.g. slice(toks, i) over a position sequence): Catalyst inlines the
    producing expression into the lambda body and recomputes the regex
    split once per shingle position — O(n²) tokenization, ~50× slower on
    real documents. The split is BOUND ONCE per row (r10) — inlined it
    appears 2k times in the zip tree (k slices + k inlined length
    bounds) with no CSE in generator trees; see ``functions/bindings.py``
    (same fix as ``text_analysis.ngram_hashes``, where the 2n=26-way
    re-evaluation was the measured r9 bench regression).
    """
    return bind_once(F.split(F.trim(col), r"\s+"),
                     lambda toks: _shingles_of(toks, k))


def _shingles_of(toks: Column, k: int) -> Column:
    """Shingles of a BOUND token-array reference (see :func:`shingles`)."""
    n_out = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    zipped = F.arrays_zip(*[F.slice(toks, 1 + j, n_out) for j in range(k)])
    # arrays_zip names unnamed inputs by position; concat_ws skips the
    # nulls that pad the shorter shifted slices (short-doc case).
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]))


# Universal-hash constants for the 16 minhash permutations:
# sig_i = min over shingles of (A[i]·h + B[i]) mod P, where h is the first
# 7 hex chars (28 bits) of md5(shingle). A[i] < 2^30 keeps A·h < 2^58 —
# overflow-free identical signed-64 arithmetic in Spark and DuckDB.
MH_PRIME = 4294967311  # first prime > 2^32
MH_A = [1664525, 22695477, 69069, 1103515245, 134775813, 214013, 16807,
        48271, 69621, 40692, 40014, 40692, 62089911, 44485709, 25214903,
        28411]
MH_B = [1013904223, 1, 362437, 12345, 1, 2531011, 0, 3399, 23902, 52774,
        53668, 10774, 4, 117, 11, 3819]


def _shingle_hash28(col: Column) -> Column:
    """28-bit base hash of a shingle (md5 prefix — engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def jaccard(a: Column, b: Column) -> Column:
    """Exact set Jaccard over two shingle arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter / F.greatest(union, F.lit(1))


def _minhash_state(df: DataFrame, content_col: str, *, id_col: str,
                   k: int, num_hashes: int, bands: int
                   ) -> tuple[DataFrame, DataFrame]:
    """The two tables every minhash consumer needs: ``(id, sh)`` shingle
    arrays (for exact-Jaccard verification) and ``(id, band)`` LSH bucket
    rows (for candidate generation). Stage shape documented in
    :func:`minhash_lsh_pairs`; persisted as-is by
    :func:`materialize_minhash_index` for incremental dedup."""
    rows = num_hashes // bands
    # Both returned tables are pinned HERE, not by callers, because the
    # waste compounds through the lineage: `banded` derives from `sh`,
    # `sh` feeds both verify-join sides, and the band self-join consumes
    # `banded` twice — and neither static nor AQE exchange reuse fires on
    # any of it (measured: 4× corpus scan + 4× shingle Generate in the
    # executed minhash plan when only the caller pinned `sh` after
    # `banded` was already built on the unpinned lineage). With the pins
    # at the source the corpus is scanned and shingled ONCE and the
    # signature shuffle runs ONCE per call, for every consumer: the pair
    # generator, the incremental index probe, and the index build.
    sh = df.select(F.col(id_col).alias("id"),
                   shingles(F.col(content_col), k).alias("sh")) \
        .transform(pin, eager=False)
    hashed = (sh.select("id", F.explode("sh").alias("shingle"))
              .select("id", _shingle_hash28(F.col("shingle")).alias("h")))
    sig = hashed.groupBy("id").agg(*[
        F.min((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % MH_PRIME)
        .alias(f"m{i}") for i in range(num_hashes)])
    band_cols = [
        F.md5(F.concat_ws("|", F.lit(str(b)),
                          *[F.col(f"m{b * rows + r}") for r in range(rows)]))
        for b in range(bands)
    ]
    banded = sig.select("id", F.explode(F.array(*band_cols)).alias("band")) \
        .transform(pin, eager=False)
    return sh, banded


def _self_join_pairs(banded: DataFrame,
                     max_bucket: int | None) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs from an ``(id, band)`` table:
    all-pairs within each band bucket, or — with ``max_bucket`` — star
    pairs to the bucket's min-id representative for oversized buckets
    (the hot-bucket guard; semantics in :func:`minhash_lsh_pairs`)."""
    from pyspark.sql import Window

    if max_bucket is not None:
        w = Window.partitionBy("band")
        sized = (banded.withColumn("bsz", F.count(F.lit(1)).over(w))
                 .withColumn("rep", F.min("id").over(w)))
        small = sized.filter(F.col("bsz") <= max_bucket) \
            .select("id", "band")
        a, b = small.alias("a"), small.alias("b")
        pairs_small = (
            a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("doc_a"),
                    F.col("b.id").alias("doc_b")))
        pairs_star = (sized.filter((F.col("bsz") > max_bucket)
                                   & (F.col("id") != F.col("rep")))
                      .select(F.col("rep").alias("doc_a"),
                              F.col("id").alias("doc_b")))
        return (pairs_small.unionByName(pairs_star)
                .dropDuplicates(["doc_a", "doc_b"]))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"),
                F.col("b.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_lsh_pairs(df: DataFrame, content_col: str, *,
                      id_col: str = "doc_id", k: int = 3,
                      num_hashes: int = 16, bands: int = 4,
                      threshold: float = 0.6,
                      max_bucket: int | None = None) -> DataFrame:
    """MinHash+LSH near-dup pairs, exact-Jaccard verified.

    Shape (the 100 TB shape, and the only fast one on Spark):
      1. explode shingles → ONE scalar md5 per shingle (whole-stage codegen;
         never per-seed md5 — universal hashing derives all 16 permutations
         from the base hash with two integer ops each);
      2. groupBy(doc) with 16 min() aggregates → map-side partial
         aggregation, one shuffle keyed on doc id;
      3. band hashes → explode 4 narrow (id, band) rows, self-join on the
         band bucket — md5 buckets are uniform, so no skew; only ids ride
         the shuffle;
      4. candidates join back to the shingle arrays for exact-Jaccard
         verification — array payloads move only for colliding pairs.

    An earlier draft computed the signature as nested higher-order-function
    expressions over a projected alias; Catalyst's projection collapse
    inlined the shingle pipeline into every signature slot and band
    reference (HOFs are interpreted, no CSE) — ~100× slower. Keep stages as
    explode/groupBy, not nested array expressions.

    Returns (doc_a, doc_b, jaccard), doc_a < doc_b. P(miss | similarity s)
    = (1-s^r)^b — the standard S-curve; deterministic given md5.

    ``max_bucket`` is the hot-bucket guard for boilerplate storms: a crawl
    with thousands of near-identical templated pages puts them all in the
    same band bucket, and the all-pairs self-join goes quadratic in that
    one bucket. Buckets larger than the cap switch to STAR pairing — every
    member pairs with the bucket's min-id representative only — which
    keeps the bucket linear and (after verification) preserves the
    connected component for downstream clustering whenever members
    actually verify against the representative; direct pairs between
    non-representative members of an oversized bucket are the recall
    trade, so the cap should sit well above any organic bucket size.
    Default None = exact all-pairs semantics (the oracle-checked shape).
    """
    sh, banded = _minhash_state(df, content_col, id_col=id_col, k=k,
                                num_hashes=num_hashes, bands=bands)
    # sh and banded arrive pinned from _minhash_state (one corpus scan,
    # one shingle pass, one signature shuffle — see the rationale there)
    cand = _self_join_pairs(banded, max_bucket)
    return (
        cand.join(sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")),
                  "doc_a")
        .join(sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b")),
              "doc_b")
        .withColumn("jaccard", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# --- composed corpus dedup ----------------------------------------------------


def dedup_corpus(df: DataFrame, content_col: str, *,
                 id_col: str = "doc_id", k: int = 3,
                 threshold: float = 0.6,
                 max_bucket: int | None = None) -> DataFrame:
    """The full dedup flow a corpus owner actually runs, composed from the
    verified pieces: exact collapse → minhash-LSH near-dup pairs among the
    exact survivors → connected components → min-id survivor per
    component.

    Returns one row PER INPUT DOC: ``(doc_id, survivor, reason)`` with
    ``reason`` ∈ ``kept`` (the doc survives), ``exact_dup`` (byte-equal
    content to its survivor's group), ``near_dup`` (linked through the
    LSH component). Filtering a corpus is then one semi-join on
    ``reason = 'kept'``.

    Ordering matters at scale: exact dedup FIRST collapses boilerplate
    storms before they hit the LSH band buckets (the quadratic-bucket
    hazard ``max_bucket`` guards against — after exact collapse only
    near-identical-but-not-equal storms remain for the guard).
    ``id_col`` must be numeric (component ids are min-reduced longs).
    """
    fp = fingerprint_md5(F.col(content_col)).alias("fingerprint")
    # doc_fp is consumed twice and groups THREE times below; without the
    # lazy checkpoints each consumer re-runs the full corpus fingerprint
    # scan (and for groups its groupBy shuffle) — measured ~25% of the
    # composed flow at sf0.1. One materialization each, disk-spilling,
    # narrow rows (id + md5) ≪ corpus.
    doc_fp = df.select(F.col(id_col).alias("doc_id"), fp) \
        .transform(pin, eager=False)
    groups = doc_fp.groupBy("fingerprint").agg(
        F.min("doc_id").alias("exact_rep")).transform(pin, eager=False)
    doc_rep = doc_fp.join(groups, "fingerprint").select("doc_id",
                                                        "exact_rep")
    reps = df.join(groups.select(F.col("exact_rep").alias(id_col)),
                   id_col)
    pairs = minhash_lsh_pairs(reps, content_col, id_col=id_col, k=k,
                              threshold=threshold, max_bucket=max_bucket)
    comp = connected_components(pairs)   # (doc_id, component) — edges only
    rep_surv = (groups.select(F.col("exact_rep").alias("doc_id"))
                .join(comp, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("component", "doc_id").alias("survivor"))
                .withColumnRenamed("doc_id", "exact_rep"))
    return (
        doc_rep.join(rep_surv, "exact_rep")
        .select(
            "doc_id", "survivor",
            F.when(F.col("doc_id") == F.col("survivor"), "kept")
             .when(F.col("doc_id") == F.col("exact_rep"), "near_dup")
             .otherwise("exact_dup").alias("reason"))
    )


def merge_duplicates(df: DataFrame, assignment: DataFrame, *,
                     id_col: str = "doc_id",
                     order_col: str | None = None,
                     first_non_null: tuple[str, ...] = ()) -> DataFrame:
    """Collapse a corpus onto its dedup survivors, merging field values
    from the duplicates — the step after :func:`dedup_corpus` that turns
    "these docs are the same" into one enriched record (the ES
    last-write-wins upsert's richer cousin: per-FIELD survivorship, not
    per-doc).

    ``assignment`` is :func:`dedup_corpus` output (``doc_id, survivor``).
    The survivor's own row wins every field it has; columns named in
    ``first_non_null`` fall back to the highest-``order_col`` non-null
    value among its duplicates (recency merge). With no ``order_col`` the
    survivor id doubles as the order (deterministic). One groupBy(
    survivor) shuffle; ``max_by`` keeps the merge inside codegen.
    """
    order = F.col(order_col) if order_col else F.col(id_col)
    joined = df.join(assignment.select(id_col, "survivor"), id_col)
    # the survivor's own values must dominate any duplicate's: give them
    # an order rank above every real order value. The id is the final
    # tiebreak — two duplicates tying on order_col must not leave the
    # winner to aggregation order (task retries would flip the output).
    is_surv = (F.col(id_col) == F.col("survivor")).cast("int")
    rank = F.struct(is_surv.alias("s"), order.alias("o"),
                    F.col(id_col).alias("i"))
    aggs = []
    for c in df.columns:
        if c == id_col:
            continue
        if c in first_non_null:
            aggs.append(F.max_by(
                F.col(c), F.when(F.col(c).isNotNull(), rank)).alias(c))
        else:
            aggs.append(F.max_by(F.col(c), rank).alias(c))
    return (joined.groupBy(F.col("survivor").alias(id_col))
            .agg(*aggs))


# --- incremental minhash dedup ------------------------------------------------


def materialize_minhash_index(df: DataFrame, content_col: str, path: str, *,
                              id_col: str = "doc_id", k: int = 3,
                              num_hashes: int = 16, bands: int = 4) -> None:
    """One-time corpus pass persisting the minhash state two ways:
    ``{path}/bands`` — narrow ``(id, band)`` bucket rows (candidate side),
    ``{path}/shingles`` — ``(id, sh)`` arrays (verification side).

    This is what makes daily-batch dedup O(batch), not O(corpus): without
    it every new batch re-shingles and re-hashes the full history. At
    warehouse scale store ``bands`` bucketed on ``band``
    (``catalog.materialize_bucketed``) so each incoming batch shuffles
    only its own band rows into place — the corpus side never moves."""
    sh, banded = _minhash_state(df, content_col, id_col=id_col, k=k,
                                num_hashes=num_hashes, bands=bands)
    # cluster the band table by band value: each parquet file covers a
    # narrow band range, so per-batch lookups benefit from row-group
    # min/max skipping + Spark's runtime bloom filter, and the sorted
    # column compresses far better. (Appends from incremental batches are
    # each internally small; `compact_minhash_index` folds them back into
    # one clustered partition when append count grows.) Both tables carry
    # an _ab append-partition
    # column (-1 = the base build) so incremental batch appends can land
    # in their own _ab=<batch_id> partitions for retry idempotence.
    (banded.repartition(F.col("band")).sortWithinPartitions("band")
     .withColumn("_ab", F.lit(-1))
     .write.mode("overwrite").partitionBy("_ab").parquet(f"{path}/bands"))
    (sh.withColumn("_ab", F.lit(-1))
     .write.mode("overwrite").partitionBy("_ab")
     .parquet(f"{path}/shingles"))
    # persist the build parameters: signatures computed with different
    # (k, num_hashes, bands) NEVER collide with the indexed rows, and the
    # failure mode is silent zero matches — incremental readers load
    # these instead of trusting their own defaults
    (local_df(df.sparkSession,
              [(k, num_hashes, bands)], "k int, num_hashes int, bands int")
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/meta"))


def _load_minhash_meta(spark, index_path: str,
                       k: int, num_hashes: int, bands: int) -> tuple:
    """Prefer the index's persisted build parameters over caller-supplied
    values (pre-meta indexes fall back to the arguments)."""
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(f"{index_path}/meta").head()
        if row is not None:
            return row["k"], row["num_hashes"], row["bands"]
    except AnalysisException:
        # legacy index without a meta table — trust the arguments. Any
        # OTHER failure (transient storage/permission error) must raise:
        # silently falling back would re-open the zero-match hole the
        # meta table exists to close.
        pass
    return k, num_hashes, bands


def compact_minhash_index(spark, index_path: str, *,
                          lock_timeout: float = 300.0) -> dict:
    """Fold the per-batch ``_ab=<id>`` append partitions of an
    incremental minhash index back into ONE partition per table — the
    small-file maintenance `materialize_minhash_index` promises: a
    year of micro-batches leaves thousands of partition directories of
    tiny files, and index scan cost starts tracking file count instead
    of data size (the same decay `sinks/kg_table.compact_partitioned`
    exists for). Re-clusters ``bands`` by band value on the way, so
    row-group min/max skipping works again after months of appends.

    Protocol — crash-safe with NO rename windows, because duplicate
    index rows are correctness-neutral to every consumer (candidate
    pairs are dropDuplicates'd and verification aggregates per
    ``(doc_a, doc_b, origin)``; the only cost is wasted work and a
    conservative hot-bucket size estimate until a re-run heals):

      1. new epoch ``e`` = min(existing ``_ab``) − 1 — strictly
         decreasing negatives (base build = −1, first compaction = −2);
         streaming batch ids are ≥ 0, so a micro-batch retry's dynamic
         partition overwrite can never collide with a compacted epoch;
      2. read ALL rows, dedupe on natural keys — ``(id, band)`` /
         ``(id)`` — which also heals duplicates left by an earlier
         crash, then APPEND as ``_ab=e``: parquet task files commit via
         tmp-file + rename, so a crash mid-write leaves only complete
         files (= duplicates), never torn ones;
      3. delete every other ``_ab`` directory; a crash mid-delete
         leaves old partitions (= duplicates) for the next run.

    Writer exclusion is enforced via the index's advisory
    ``table_lock`` (shared with the KG table): a live append or a
    retry's dynamic overwrite can no longer race step 3's partition
    delete at the layout level. One SEMANTIC caveat the lock cannot
    close remains: a compaction scheduled BETWEEN a failed micro-batch
    and its retry folds the first attempt's rows into the new epoch,
    where the retry's own-partition overwrite no longer replaces them —
    so still run compaction between streams (checkpointed stream stops,
    then maintain), like ``compact_partitioned``. Local-FS delete
    semantics; on object stores swap step 3 for the store's batched
    delete.

    Returns ``{"partitions_before": n, "epoch": e}`` (per-table counts
    are symmetric by construction).
    """
    from dig_etl_engine_spark.sinks.kg_table import table_lock

    out = {"partitions_before": 0, "epoch": None}
    with table_lock(index_path, timeout=lock_timeout):
        for sub, keys, cluster_by in (("bands", ["id", "band"], "band"),
                                      ("shingles", ["id"], None)):
            n, epoch = compact_ab_partitions(
                spark, f"{index_path}/{sub}", keys, cluster_by=cluster_by)
            out["partitions_before"] = max(out["partitions_before"], n)
            if epoch is not None:
                out["epoch"] = epoch
    return out


def compact_ab_partitions(spark, tpath: str, keys: list[str], *,
                          cells: tuple[str, ...] = (),
                          cluster_by: str | None = None
                          ) -> tuple[int, int | None]:
    """Steps 1-3 of :func:`compact_minhash_index`'s protocol for the
    one table at ``tpath``, shared by ``similarity.compact_ivf_index``:
    fold its ``_ab`` append partitions into one fresh epoch, deduped on
    the natural ``keys``. ``cells`` are partition columns above ``_ab``
    (``cluster=*/_ab=<id>`` dirs); ``cluster_by`` re-clusters the rows
    by that column on the way. The caller holds the index's
    ``table_lock``. Returns the number of ``_ab`` values found and the
    new epoch (None when at most one was found: nothing to fold)."""
    import glob
    import os
    import shutil

    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(tpath)
    except AnalysisException:
        return 0, None
    if "_ab" not in df.columns:
        return 0, None
    # bounded collect: one row per append partition — the thing being
    # compacted away
    abs_ = sorted(r["_ab"] for r in df.select("_ab").distinct().collect())
    if len(abs_) <= 1:
        return len(abs_), None
    epoch = min(abs_[0], 0) - 1
    merged = df.drop("_ab").dropDuplicates(keys)
    if cluster_by:
        merged = (merged.repartition(F.col(cluster_by))
                  .sortWithinPartitions(cluster_by))
    (merged.withColumn("_ab", F.lit(epoch))
     .write.mode("append").partitionBy(*cells, "_ab").parquet(tpath))
    for ab in abs_:
        for d in glob.glob(os.path.join(glob.escape(tpath),
                                        *(f"{c}=*" for c in cells),
                                        f"_ab={ab}")):
            shutil.rmtree(d, ignore_errors=True)
    return len(abs_), epoch


def incremental_minhash_dedup(batch: DataFrame, index_path: str, *,
                              content_col: str, id_col: str = "doc_id",
                              k: int = 3, num_hashes: int = 16,
                              bands: int = 4, threshold: float = 0.6,
                              max_bucket: int | None = None,
                              append: bool = True,
                              batch_id: int | None = None) -> DataFrame:
    """Dedup a new batch against an indexed corpus AND itself — the
    steady-state operation of a training-data pipeline, where the corpus
    was deduped once (:func:`materialize_minhash_index`) and fresh crawl
    batches arrive forever after.

    Returns ``(doc_a, doc_b, jaccard, origin)`` with ``doc_a`` always a
    batch doc: ``origin='corpus'`` pairs match an indexed doc
    (``doc_b`` = its id), ``origin='batch'`` pairs are batch-internal
    (``doc_a < doc_b``). The pair set equals exactly what a full
    :func:`minhash_lsh_pairs` re-run over corpus ∪ batch would add on top
    of the corpus-only pairs (equivalence-tested) — minus the full-corpus
    cost: the corpus is touched only by the band-bucket join (narrow id
    rows) and the per-candidate shingle lookup.

    With ``append=True`` the batch's band and shingle rows are appended to
    the index afterwards, so the next batch dedups against corpus + this
    batch. Batch ids must be disjoint from corpus ids (enforce upstream —
    e.g. content-hash ids from ``url_id_synthesis``). ``max_bucket``
    star-caps oversized batch-internal band buckets exactly as in
    :func:`minhash_lsh_pairs` (equivalence holds for the uncapped
    default).

    From a streaming ``foreachBatch``, pass the micro-batch id as
    ``batch_id``: the append then lands in a ``_ab=<id>`` partition via
    dynamic partition overwrite, AND index rows already carrying this
    batch id are excluded from the corpus side — so a RETRY of the same
    micro-batch both replaces its own rows instead of double-appending
    them and computes the IDENTICAL result (its first attempt's rows
    can't masquerade as corpus matches). Same idempotence pattern as the
    ingest quarantine (``streaming/ingest.py:write_quarantine``). A plain
    append (no ``batch_id``) is NOT retry-safe.

    Long-running streams accumulate one ``_ab`` partition per
    micro-batch; fold them back into one clustered partition with
    :func:`compact_minhash_index` between streams."""
    spark = batch.sparkSession
    # the index's persisted build parameters win over the arguments — a
    # mismatch would silently produce zero corpus matches
    k, num_hashes, bands = _load_minhash_meta(spark, index_path,
                                              k, num_hashes, bands)
    # both the dedup join and the append consume the state — it arrives
    # pinned from _minhash_state, so the shingle explode + 16-min
    # aggregation run once regardless of consumer count
    sh_new, banded_new = _minhash_state(batch, content_col, id_col=id_col,
                                        k=k, num_hashes=num_hashes,
                                        bands=bands)

    # narrow the reads (the _ab partition column must not leak into the
    # joins/unions), excluding this batch's own prior rows on a retry.
    # An index materialized over an EMPTY corpus (a stream's cold start)
    # has no schema-bearing files — fall back to empty tables shaped like
    # the batch's own state.
    from pyspark.errors import AnalysisException

    try:
        ob = spark.read.parquet(f"{index_path}/bands")
        osh = spark.read.parquet(f"{index_path}/shingles")
    except AnalysisException:
        ob = local_df(spark, [], banded_new.schema)
        osh = local_df(spark, [], sh_new.schema)
    if batch_id is not None and "_ab" in ob.columns:
        ob = ob.filter(F.col("_ab") != batch_id)
        osh = osh.filter(F.col("_ab") != batch_id)
    old_bands = ob.select("id", "band")
    old_sh = osh.select("id", "sh")

    # batch-internal candidates share the hot-bucket guard: a daily crawl
    # full of one boilerplate template is exactly the storm case
    cand_int = (_self_join_pairs(banded_new, max_bucket)
                .withColumn("origin", F.lit("batch")))
    # the batch-vs-corpus join needs the hot-bucket guard too: day N of a
    # boilerplate storm joins the batch's storm docs against every
    # previously appended storm row. Restrict the corpus side to the
    # batch's bands first (broadcast semi of ≤ bands·|batch| values), THEN
    # size-cap — the window runs over only the matching corpus rows, not
    # the whole index
    ob_hit = old_bands
    if max_bucket is not None:
        from pyspark.sql import Window

        nb = banded_new.select("band").distinct()
        w = Window.partitionBy("band")
        sized = (old_bands.join(F.broadcast(nb), "band")
                 .withColumn("bsz", F.count(F.lit(1)).over(w))
                 .withColumn("rep", F.min("id").over(w)))
        # oversized corpus buckets contribute only their min-id
        # representative — same star semantics as _self_join_pairs
        ob_hit = sized.filter((F.col("bsz") <= max_bucket)
                              | (F.col("id") == F.col("rep"))) \
            .select("id", "band")
    # id inequality belt-and-braces: ids are disjoint by contract, but a
    # violated contract (or an index rebuilt over the batch) must not
    # produce self-matches
    cand_ext = (banded_new.alias("n")
                .join(ob_hit.alias("c"),
                      (F.col("n.band") == F.col("c.band"))
                      & (F.col("n.id") != F.col("c.id")))
                .select(F.col("n.id").alias("doc_a"),
                        F.col("c.id").alias("doc_b"))
                .dropDuplicates(["doc_a", "doc_b"])
                .withColumn("origin", F.lit("corpus")))
    # verification shingles: doc_a is always a batch doc; doc_b comes from
    # the batch for internal pairs, the index for corpus pairs. If the
    # id-disjointness contract is violated (or the index was rebuilt over
    # the batch), an id present on BOTH sides would fan each candidate
    # into two result rows with different jaccards. Resolve AFTER the
    # candidate join, at candidate scale (a pre-union groupBy(id) would
    # re-aggregate the FULL corpus shingle table every batch — the
    # O(corpus) cost this operator exists to avoid): per (doc_a, doc_b,
    # origin), max_by picks the batch-priority row, so the batch's
    # current content decides the jaccard deterministically. With the
    # contract held every group has exactly one row and the agg is a
    # no-op on values.
    sh_b = (sh_new.select("id", "sh", F.lit(1).alias("_pri"))
            .unionByName(old_sh.select("id", "sh", F.lit(0).alias("_pri")))
            .select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"),
                    "_pri"))
    result = (
        cand_int.unionByName(cand_ext)
        .join(sh_new.select(F.col("id").alias("doc_a"),
                            F.col("sh").alias("sh_a")), "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard",
                    F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .groupBy("doc_a", "doc_b", "origin")
        .agg(F.max_by("jaccard", "_pri").alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard", "origin")
    )
    if append:
        import uuid

        # pin the result BEFORE appending: the lazy plan re-lists the index
        # directory at execution, and post-append it would contain the
        # batch's own rows (spurious self-matches). The pair set is small
        # (verified dups only), so eager materialization is bounded.
        # snapshot=True: this pin is a point-in-time snapshot, so the
        # 'persist' strategy (which keeps lineage and could re-execute
        # against the post-append directory) is upgraded — see pin().
        result = result.transform(pin, snapshot=True)
        ab = (batch_id if batch_id is not None
              else int(uuid.uuid4().hex[:8], 16))
        bands_out = banded_new.withColumn("_ab", F.lit(ab))
        sh_out = sh_new.withColumn("_ab", F.lit(ab))
        # the index write takes the table's advisory writer lock: a
        # retry's dynamic overwrite racing compact_minhash_index's
        # partition delete is a layout race (torn/lost _ab dir); with
        # the lock, writers and the compactor serialize (the SEMANTIC
        # retry-vs-compact caveat in compact_minhash_index's docstring
        # — compacted copies of a failed attempt surviving its retry —
        # is a separate, documented scheduling rule)
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        with table_lock(index_path):
            if batch_id is not None:
                # dynamic overwrite of this batch's own _ab partition: a
                # micro-batch retry replaces its rows, never duplicates
                # them. Per-writer option, not a session conf set/restore
                # — concurrent streams in one session race the restore.
                # "DYNAMIC" pre-uppercased (locale-proof enum lookup —
                # see streaming/ingest.py).
                bands_out.write.mode("overwrite") \
                    .option("partitionOverwriteMode", "DYNAMIC") \
                    .partitionBy("_ab").parquet(f"{index_path}/bands")
                sh_out.write.mode("overwrite") \
                    .option("partitionOverwriteMode", "DYNAMIC") \
                    .partitionBy("_ab").parquet(f"{index_path}/shingles")
            else:
                bands_out.write.mode("append").partitionBy("_ab") \
                    .parquet(f"{index_path}/bands")
                sh_out.write.mode("append").partitionBy("_ab") \
                    .parquet(f"{index_path}/shingles")
    return result


def minhash_decontaminate(corpus: DataFrame, eval_set: DataFrame, *,
                          content_col: str = "text",
                          eval_text: str | None = None,
                          id_col: str = "doc_id",
                          eval_id: str = "doc_id",
                          k: int = 3, num_hashes: int = 16,
                          bands: int = 4,
                          threshold: float = 0.5) -> DataFrame:
    """FUZZY benchmark decontamination: flag corpus docs that are
    minhash-LSH NEAR-duplicates of an eval document — the paraphrased /
    partially-rewritten eval leakage the exact 13-gram rule
    (:func:`text_analysis.decontaminate`) misses. Real pipelines run
    both: exact grams first, fuzzy sweep behind it.

    Returns ``(doc_id, eval_id, jaccard)`` for pairs with verified
    shingle-Jaccard ≥ ``threshold``. Corpus and eval ids are separate
    namespaces (numeric collisions are allowed and meaningless).

    Scale shape: the corpus NEVER shuffles. The eval side (benchmarks —
    thousands of docs) computes its band table and BROADCASTS it; corpus
    band rows hash-join it map-side, and the resulting candidate pairs
    are eval-bounded (≤ |eval| · colliding-bucket sizes) so they
    broadcast BACK into a second streaming pass over the corpus shingle
    table for exact-Jaccard verification — two narrow corpus scans, zero
    exchanges of corpus data. (Letting the verify join default to
    sort-merge would shuffle every corpus shingle array to check a
    handful of candidates.) The candidate set equals the full
    corpus∪eval self-join restricted to cross pairs — the oracle replays
    exactly that."""
    sh_c, band_c = _minhash_state(corpus, content_col, id_col=id_col,
                                  k=k, num_hashes=num_hashes, bands=bands)
    sh_e, band_e = _minhash_state(eval_set, eval_text or content_col,
                                  id_col=eval_id, k=k,
                                  num_hashes=num_hashes, bands=bands)
    cand = (band_c.join(
        F.broadcast(band_e.select(F.col("id").alias("eval_id"), "band")),
        "band")
        .select(F.col("id").alias("doc_id"), "eval_id")
        .dropDuplicates(["doc_id", "eval_id"]))
    return (
        sh_c.select(F.col("id").alias("doc_id"), F.col("sh").alias("sh_c"))
        .join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(sh_e.select(F.col("id").alias("eval_id"),
                                      F.col("sh").alias("sh_e"))),
              "eval_id")
        .withColumn("jaccard",
                    F.round(jaccard(F.col("sh_c"), F.col("sh_e")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id", "eval_id", "jaccard")
    )


# --- simhash ------------------------------------------------------------------

SIMHASH_BITS = 16


def _token_hash16(tok: Column) -> Column:
    """16-bit token hash: first 4 hex chars of md5 (reproducible anywhere)."""
    return F.conv(F.substring(F.md5(tok), 1, 4), 16, 10).cast("int")


def simhash16_table(df: DataFrame, content_col: str, *,
                    id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash per doc → (id, simhash).

    Same stage shape as minhash: explode tokens → one scalar md5 per token
    (codegen'd) → groupBy(doc) with 16 ±1-vote sums (map-side combine, one
    shuffle) → pack bits. Per-bit vote i uses (h >> i) & 1."""
    tok = df.select(F.col(id_col).alias("id"),
                    F.explode(F.split(F.trim(F.col(content_col)), r"\s+"))
                    .alias("t"))
    hashed = tok.select("id", _token_hash16(F.col("t")).alias("h"))
    sums = hashed.groupBy("id").agg(*[
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        .alias(f"s{i}") for i in range(SIMHASH_BITS)])
    fp = None
    for i in range(SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("id", fp.cast("int").alias("simhash"))


def simhash_banded_pairs(df: DataFrame, content_col: str, *,
                         id_col: str = "doc_id",
                         max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within hamming distance ``max_hamming``.

    Pigeonhole blocking: split the 16-bit code into 4 bands of 4 bits —
    any pair within hamming ≤ 3 agrees EXACTLY on at least one band
    (3 flipped bits can dirty at most 3 of the 4 bands), so candidates =
    pairs sharing (band_index, band_value); the exact hamming check
    (``bit_count(xor)``) then filters false candidates. Same
    explode → narrow self-join shape as minhash LSH: only (id, band)
    rows shuffle, recall is exact (no probabilistic misses) for
    ``max_hamming`` < #bands.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b, hamming ≤ max.
    """
    assert max_hamming < 4, "4 bands guarantee recall only for hamming<4"
    h = simhash16_table(df, content_col, id_col=id_col)
    bands = F.array(*[
        F.struct(F.lit(i).alias("bi"),
                 F.shiftright(F.col("simhash"), 4 * i)
                 .bitwiseAND(F.lit(0xF)).alias("bv"))
        for i in range(4)])
    banded = h.select("id", "simhash", F.explode(bands).alias("b"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (a.join(b, (F.col("a.b") == F.col("b.b"))
                   & (F.col("a.id") < F.col("b.id")))
            .select(F.col("a.id").alias("doc_a"),
                    F.col("b.id").alias("doc_b"),
                    F.col("a.simhash").alias("sa"),
                    F.col("b.simhash").alias("sb"))
            .dropDuplicates(["doc_a", "doc_b"]))
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (cand.select("doc_a", "doc_b", ham.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def simhash_bucket_pairs(df: DataFrame, content_col: str, *,
                         id_col: str = "doc_id") -> DataFrame:
    """SimHash dedup, exact-bucket variant: pairs sharing the full 16-bit
    code (hamming 0). :func:`simhash_banded_pairs` is the hamming ≤ t
    generalization with the same join shape."""
    h = simhash16_table(df, content_col, id_col=id_col)
    a, b = h.alias("a"), h.alias("b")
    return (
        a.join(b, (F.col("a.simhash") == F.col("b.simhash"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"),
                F.col("a.simhash").alias("simhash"))
    )


# Edge count below which connected_components finishes driver-side
# (numpy min-label + pointer jumping): 2M edges ≈ 32 MB of longs on the
# driver — trivial — while the distributed star loop would spend O(log² n)
# rounds of shuffle + job latency on a graph that fits one machine. The
# same hybrid GraphFrames uses; at 100 TB the banded near-dup edge set is
# orders of magnitude smaller than the corpus, so most real runs take
# this path too, and anything bigger falls through to the star loop.
SMALL_GRAPH_EDGES = 2_000_000


def _cc_labels_numpy(u, v):
    """Pure numpy CC kernel: min-label hooking + full pointer jumping
    over int64 edge arrays. Labels only decrease and parent pointers
    always point to lower indices, so the loop terminates in O(log n)
    passes. Returns ``(nodes, labels)`` with ``labels[i]`` = min node id
    reachable from ``nodes[i]`` — property-tested against a union-find
    reference without any Spark in the loop."""
    import numpy as np

    u = np.asarray(u, dtype=np.int64)
    v = np.asarray(v, dtype=np.int64)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[:u.size], inv[u.size:]
    # parent[j] <= j invariant: minimum.at only ever writes values below
    # the index, so pointer chains strictly descend — no cycles
    parent = np.arange(nodes.size, dtype=np.int64)
    while True:
        pu, pv = parent[ui], parent[vi]
        if bool((pu == pv).all()):
            break
        mn = np.minimum(pu, pv)
        np.minimum.at(parent, pu, mn)   # hook both ROOTS (tree merge)
        np.minimum.at(parent, pv, mn)
        np.minimum.at(parent, ui, mn)   # and relabel the endpoints
        np.minimum.at(parent, vi, mn)
        while True:  # full path compression
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
    return nodes, nodes[parent]


def _connected_components_local(e: DataFrame) -> DataFrame:
    """Driver-side CC over a (u, v) long-pair frame that fits in memory
    (:func:`_cc_labels_numpy` — no per-edge Python). Returns
    (doc_id, component=min reachable id), matching the distributed path
    exactly."""
    import pandas as pd

    spark = e.sparkSession
    pdf = e.toPandas()
    schema = "doc_id long, component long"
    if len(pdf) == 0:
        return local_df(spark, [], schema)
    nodes, labels = _cc_labels_numpy(pdf["u"].to_numpy(),
                                     pdf["v"].to_numpy())
    out = pd.DataFrame({"doc_id": nodes, "component": labels})
    return spark.createDataFrame(out, schema)


def connected_components(edges: DataFrame, *, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 25,
                         small_graph_edges: int | None = None) -> DataFrame:
    """Connected components over an undirected edge list — the clustering
    step that turns pairwise near-dup hits into dedup groups with one
    canonical survivor per group.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Each round
    is two groupBy shuffles keyed on node id carrying two-long rows; the
    edge set converges to per-component stars in O(log² n) rounds
    INDEPENDENT of graph diameter — plain min-label propagation needs
    O(diameter) rounds, which a pathological duplicate chain at corpus
    scale would never finish. Convergence is detected by an edge-set
    signature (count + bounded hash sum), so the driver loop runs only
    until fixpoint.

    Hybrid finish: when the canonical edge set has at most
    ``small_graph_edges`` rows (default :data:`SMALL_GRAPH_EDGES`; pass
    0 to force the distributed loop), the solve happens driver-side in
    one vectorized pass — the star loop's per-round job latency dwarfs
    the actual work on graphs that fit one machine, and near-dup edge
    sets are tiny relative to the corpus that produced them. Both paths
    return identical labels (property-tested against each other).

    Returns ``(doc_id, component)`` for every node appearing in the edge
    list, ``component`` = min reachable id. Isolated docs never reach the
    edge list — callers union them as their own component.
    """
    # Checkpoint the canonical edge set up front AND each round's output:
    # the input may be an expensive pipeline (the full minhash-LSH plan)
    # consumed several times, and an iterative loop's logical plan doubles
    # per round — Catalyst re-optimizes the whole history each iteration
    # (measured: round 2 planning alone 4× slower than round 1's full
    # execution). localCheckpoint truncates the lineage to a leaf; on a
    # cluster with flaky executors use reliable checkpoint(dir) instead.
    # eager=False (r12): the size probe right below is a FULL action
    # (count computes every partition), so it materializes the lazy
    # checkpoint as a side effect — one job instead of a checkpoint job
    # plus a count job, the same fusion the round loop already uses for
    # its signature aggregation. With the probe disabled (limit=0) the
    # first round's signature action materializes it instead.
    e = (edges.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
         .filter(F.col("u") != F.col("v"))
         .select(F.greatest("u", "v").alias("u"),
                 F.least("u", "v").alias("v"))
         .distinct()
         .transform(pin, eager=False))
    limit = (SMALL_GRAPH_EDGES if small_graph_edges is None
             else small_graph_edges)
    if limit and e.count() <= limit:
        return _connected_components_local(e)
    nodes = (e.select(F.col("u").alias("n"))
             .union(e.select(F.col("v").alias("n"))).distinct())

    prev_sig = None
    for _ in range(max_iter):
        # large-star: every neighbor larger than u links to
        # m = min(Γ(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .distinct())
        # small-star over large's output, which is already oriented
        # larger→smaller: each emitted edge (v_old, m) has m = a
        # neighborhood min strictly below v_old, so the usual
        # greatest/least re-orientation (and its distinct shuffle) is a
        # no-op here and skipped. All smaller neighbors and u itself link
        # to m = min(Γ≤(u)).
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        # eager=False: the signature aggregation below is the round's
        # first action and materializes the checkpoint as a side effect —
        # one job per round instead of a checkpoint job plus an agg job
        e = (large.join(mins2, "u")
             .filter(F.col("v") != F.col("m"))
             .select(F.col("v").alias("u"), F.col("m").alias("v"))
             .union(mins2.select(F.col("u"), F.col("m").alias("v")))
             .distinct()
             .transform(pin, eager=False))
        # bounded per-edge hash keeps the sum far from 64-bit overflow
        # (ANSI mode would throw on sum overflow)
        sig_row = e.agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(10 ** 9))).alias("h")
        ).head()
        sig = (sig_row["c"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # the signature is (count, bounded hash sum) — cheap but not an
        # exact edge-set equality; exhausting the budget without signature
        # repeat means components below may be UNCONVERGED. O(log² n)
        # convergence makes 25 rounds enough for any realistic n, so this
        # firing at all points at a bug or adversarial input.
        logger.warning(
            "connected_components: no fixpoint within max_iter=%d rounds; "
            "returned components may be unconverged", max_iter)
    return (nodes.join(e.select(F.col("u").alias("n"),
                                F.col("v").alias("root")), "n", "left")
            .select(F.col("n").alias("doc_id"),
                    F.coalesce("root", "n").alias("component")))


def ngram_jaccard_pairs(df: DataFrame, content_col: str, *,
                        id_col: str = "doc_id", block_col: str | None = None,
                        k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard pairs within a blocking key.

    Shape: distinct (doc, shingle-hash) rows self-join on (block, hash) —
    the inverted-index intersection count — then per-doc distinct-shingle
    sizes give union = |A| + |B| − |A∩B|. Pairs sharing nothing never
    materialize, so cost tracks actual overlap instead of |block|² array
    comparisons (which also evaluated interpreted array_intersect per pair
    — ~10× slower at sf0.1). Shingles are compared via xxhash64 (64-bit;
    collisions at corpus scale ≪ 1 expected) purely as the join key. The
    blocking column bounds worst-case fan-out; use minhash LSH when no
    natural block exists."""
    cols = [F.col(id_col).alias("id"),
            F.explode(F.array_distinct(shingles(F.col(content_col), k)))
            .alias("s")]
    if block_col:
        cols.insert(1, F.col(block_col).alias("blk"))
    tok = df.select(*cols).select(
        *(["id", "blk"] if block_col else ["id"]),
        F.xxhash64("s").alias("h"))

    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = tok.alias("a"), tok.alias("b")
    cond = (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id"))
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter
        .join(sizes.select(F.col("id").alias("doc_a"),
                           F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("id").alias("doc_b"),
                           F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(F.col("inter")
                    / F.greatest(F.col("sz_a") + F.col("sz_b") - F.col("inter"),
                                 F.lit(1)), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
