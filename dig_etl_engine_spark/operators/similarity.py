"""Similarity search over embedding columns (BASELINE.json north star):
brute-force cosine top-k as the exact baseline, and an IVF-style
cell-restricted variant as the scale path.

Embeddings are ``array<float>`` columns; all math is done after casting to
double (Arrow float32 → float64) so results are engine-reproducible.

Scale shapes:
  * brute force: queries broadcast against the corpus — cost |Q|·|N|·d,
    right answer for |Q| small (re-ranking, eval); the corpus never
    shuffles.
  * IVF: restrict the join to matching cell ids (here the pre-assigned
    ``label`` plays the centroid-assignment); the join becomes an
    equi-join on cell — at 1000 executors each cell's candidates
    co-locate, turning O(|Q|·|N|) into O(Σ_cell |Q_c|·|N_c|).
  * random-hyperplane LSH (`assign_hyperplane_buckets`) buckets vectors
    by sign pattern — the self-join-on-bucket shape identical to minhash
    LSH; assignment is one BLAS matmul per Arrow batch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from dig_etl_engine_spark.operators.pin import pin
from dig_etl_engine_spark.functions.casefold import safe_lower
from dig_etl_engine_spark.functions.localdf import local_df


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def knn_bruteforce(queries: DataFrame, corpus: DataFrame, *, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   round_digits: int = 4) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: ``(query_id, neighbor_id, cosine_e{d}, rank)`` — the score as
    a 10^-d-scaled BIGINT via the shared ``floor(cos·10^d + 0.5)`` tree
    (``functions/exact.fixed``; continuous-round lint, r9: the kernel
    emits the RAW double and quantization happens in the same JVM
    expression both oracles restate — no engine ``round()`` ever touches
    the sqrt-derived cosine). Self-matches excluded, ties broken by
    neighbor id, quantized BEFORE ranking so boundary ties resolve
    identically in every engine.

    Shape: the query matrix (|Q|·d — small by contract) is collected and
    closed over; the corpus STREAMS through an Arrow-batched mapInPandas
    that computes each batch's |batch|×|Q| cosine block with one BLAS
    matmul and emits only the batch-local top-k per query. The global
    top-k window then sees ≤ partitions·|Q|·k candidate rows — the corpus
    is never shuffled and never leaves the JVM→Arrow fast path. (The
    earlier expression-level fold was interpreted per element — the HOF
    cliff; see operators/dedup.py.)
    """
    import numpy as np
    import pandas as pd

    from dig_etl_engine_spark.session import ship_package

    ship_package(corpus.sparkSession)
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def part(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c = c / np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ qnorm.T                       # |batch| × |Q|
            scale = 10.0 ** round_digits
            out_q, out_n, out_s = [], [], []
            for qi, qid in enumerate(qids):
                col = sims[:, qi]
                # select under the FINAL total order (quantized cosine
                # desc, id asc): quantization creates ties, and a
                # raw-value sort would pick different ids among them
                # than the oracle. floor(x·10^d + 0.5) here is the SAME
                # IEEE ops the JVM `fixed` tree applies to the same
                # emitted double below — batch-local and global orders
                # cannot disagree
                scaled = np.floor(col * scale + 0.5)
                mask = ids != qid                     # exclude self
                order = np.lexsort((ids[mask], -scaled[mask]))[:k]
                sel = np.flatnonzero(mask)[order]
                out_q.extend([qid] * len(sel))
                out_n.extend(ids[sel])
                out_s.extend(col[sel])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "cosine": out_s})

    from dig_etl_engine_spark.functions.exact import fixed

    cand = corpus.select(id_col, vec_col).mapInPandas(
        part, "query_id long, neighbor_id long, cosine double")
    score = f"cosine_e{round_digits}"
    w = W.partitionBy("query_id").orderBy(F.desc(score), F.asc("neighbor_id"))
    return (cand.select("query_id", "neighbor_id",
                        fixed(F.col("cosine"), round_digits).alias(score))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def knn_ivf(queries: DataFrame, corpus: DataFrame, *, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            cell_col: str = "label", round_digits: int = 4) -> DataFrame:
    """IVF-style ANN: search only within the query's cell (centroid
    assignment precomputed in ``cell_col``; nprobe=1). Output
    ``(query_id, neighbor_id, cosine_e4, rank)`` — the score as a
    1e-4-scaled BIGINT via the explicit ``floor(cos·1e4 + 0.5)`` tree
    (continuous-round lint, r8: no engine round() on the sqrt-derived
    cosine), quantized BEFORE ranking so boundary ties resolve
    identically in every engine. Recall trades against the |N|/|cells|
    cost reduction."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(cell_col).alias("cell"),
                       as_double(F.col(vec_col)).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(cell_col).alias("ncell"),
                      as_double(F.col(vec_col)).alias("cv"))
    from dig_etl_engine_spark.functions.exact import fixed

    scored = (
        q.join(c, (F.col("cell") == F.col("ncell"))
               & (F.col("query_id") != F.col("neighbor_id")))
        .select("query_id", "neighbor_id",
                fixed(cosine(F.col("qv"), F.col("cv")), round_digits)
                 .alias(f"cosine_e{round_digits}"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(f"cosine_e{round_digits}"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def hyperplane_matrix(n_planes: int = 8, dim: int = 64):
    """±1 hyperplane coefficients derived from md5(j,d) — deterministic and
    engine-reproducible (the DuckDB oracle restates the same coefficient
    table as a CASE expression); no stored model."""
    import hashlib

    import numpy as np

    nibbles = np.fromiter(
        (int(hashlib.md5(f"{j},{d}".encode()).hexdigest()[0], 16)
         for j in range(n_planes) for d in range(dim)),
        dtype=np.int64, count=n_planes * dim).reshape(n_planes, dim)
    return np.where(nibbles < 8, 1.0, -1.0)


def assign_hyperplane_buckets(df: DataFrame, *, vec_col: str = "embedding",
                              n_planes: int = 8, dim: int = 64,
                              bucket_col: str = "bucket") -> DataFrame:
    """Random-hyperplane LSH bucket id per row: sign pattern of dot(v, h_j)
    packed into an int, appended as ``bucket_col``.

    Shape: one Arrow-batched ``mapInPandas`` pass — each batch computes ALL
    plane sums with a single |batch|×dim @ dim×planes BLAS matmul, then
    packs sign bits with one more matmul. Rows never shuffle for the
    assignment and the vectors stay on the Arrow fast path. (The previous
    expression-level version evaluated 8 interpreted ``aggregate``/
    ``zip_with`` folds per row — the HOF cliff documented in
    operators/dedup.py, ~100× slower per element.)
    """
    import numpy as np

    from pyspark.sql import types as T

    from dig_etl_engine_spark.session import ship_package

    ship_package(df.sparkSession)
    h = hyperplane_matrix(n_planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def part(batches):
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf):
                v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                sums = v @ h.T                       # |batch| × n_planes
                pdf[bucket_col] = ((sums > 0) @ weights).astype(np.int64)
            else:
                pdf[bucket_col] = np.array([], dtype=np.int64)
            yield pdf

    schema = T.StructType(list(df.schema.fields)
                          + [T.StructField(bucket_col, T.LongType())])
    return df.mapInPandas(part, schema)


def ivf_kmeans_train(df: DataFrame, *, k: int = 8, iters: int = 5,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     carry_vec: bool = False) -> tuple:
    """Train IVF cells: Lloyd's k-means over the embedding column with
    DETERMINISTIC seeding (the k lowest-id vectors) and a FIXED iteration
    count — same data in, same centroids out, on any cluster layout.

    Distributed shape per iteration (r12): ONE fused Arrow
    ``mapInPandas`` pass — each batch computes its |batch|×k distance
    block with one BLAS matmul AND reduces it in-kernel to per-cluster
    partial sums, emitting ≤ k×d rows per batch; ``groupBy(cluster,
    dim)`` merges the partials and the k×d model collects to the driver.
    The corpus never shuffles, never joins and never explodes. (The
    pre-r12 update re-joined ``base`` with the corpus-sized assignment
    by id — locally a corpus-sized BroadcastExchange, at 100 TB a full
    corpus-by-id shuffle or an over-cap broadcast — and posexploded
    corpus×d rows purely to feed ``avg()``.)

    FP note: the per-(cluster, dim) mean is sum(batch sums)/sum(batch
    counts) instead of ``avg`` over individual values — a different
    summation ORDER over the SAME row multiset. The mean was already
    order-dependent (partial aggregation follows partitioning; the
    DuckDB oracle and the numpy parity test each sum in their own order
    and match), and the repartition-invariance property tests pin that
    the low-bit drift never moves an assignment.

    ``carry_vec=True`` makes the returned assignment carry the exact
    (Arrow pass-through) double vector as ``v``, so consumers that need
    (id, cluster, vector) — semdedup, contrastive mining, the IVF index
    build — skip re-attaching the vector with a corpus-by-id join.

    Returns (assignments DataFrame (id, cluster[, v]), centroids
    ndarray k×d). Swap the fixed iteration count for a centroid-shift
    epsilon when convergence-based stopping matters more than
    reproducibility.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dig_etl_engine_spark.session import ship_package

    ship_package(df.sparkSession)
    base = df.select(F.col(id_col).alias("id"),
                     as_double(F.col(vec_col)).alias("v"))
    seeds = base.orderBy("id").limit(k).collect()
    centroids = np.array([r["v"] for r in seeds], dtype=np.float64)

    fields = [T.StructField("id", T.LongType()),
              T.StructField("cluster", T.IntegerType())]
    if carry_vec:
        fields.append(T.StructField("v", T.ArrayType(T.DoubleType())))
    schema = T.StructType(fields)

    def nearest(m, cents, c2):
        # squared L2 via the expansion; argmin ties break to the
        # lowest cluster id (numpy argmin semantics)
        d = (m ** 2).sum(axis=1)[:, None] - 2 * (m @ cents.T) + c2
        return d.argmin(axis=1)

    def assign_fn(cents):
        c2 = (cents ** 2).sum(axis=1)

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(pdf["v"].tolist(), dtype=np.float64)
                out = {"id": pdf["id"].astype("int64"),
                       "cluster": nearest(m, cents, c2).astype("int32")}
                if carry_vec:
                    out["v"] = pdf["v"]  # pass-through: exact doubles
                yield pd.DataFrame(out)
        return run

    def update_fn(cents):
        kk, dd = cents.shape
        c2 = (cents ** 2).sum(axis=1)
        dims = np.arange(dd, dtype=np.int32)

        def run(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                m = np.array(pdf["v"].tolist(), dtype=np.float64)
                a = nearest(m, cents, c2)
                # per-dim bincount: C-speed group sums in ROW order —
                # the same element order np.add.at would use, without
                # its unbuffered 2-D scatter slow path
                sums = np.empty((kk, dd))
                for j in range(dd):
                    sums[:, j] = np.bincount(a, weights=m[:, j],
                                             minlength=kk)
                counts = np.bincount(a, minlength=kk)
                present = np.flatnonzero(counts)
                yield pd.DataFrame({
                    "cluster": np.repeat(present, dd).astype("int32"),
                    "dim": np.tile(dims, len(present)),
                    "s": sums[present].ravel(),
                    "n": np.repeat(counts[present], dd)})
        return run

    last = centroids
    for _ in range(iters):
        last = centroids.copy()
        upd = (base.mapInPandas(update_fn(last),
                                "cluster int, dim int, s double, n long")
               .groupBy("cluster", "dim")
               .agg((F.sum("s") / F.sum("n")).alias("m"))
               .collect())
        nxt = centroids.copy()          # empty clusters keep their centroid
        for r in upd:
            nxt[r["cluster"], r["dim"]] = r["m"]
        centroids = nxt
    # the returned assignment is under the PRE-final-update centroids —
    # the same `assigned` the pre-r12 loop's last iteration returned
    # (assignment under c_i, update producing c_{i+1}; callers get the
    # last iteration's assignment plus the final centroids)
    assigned = base.mapInPandas(assign_fn(last), schema)
    return assigned, centroids


def pq_train_encode(df: DataFrame, *, m: int = 4, k: int = 8,
                    iters: int = 2, dim: int = 64,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> tuple:
    """Product quantization (Jégou et al. 2011): split each vector into
    ``m`` contiguous subspaces of ``dim/m`` dims, train an independent
    ``k``-centroid codebook per subspace (the deterministic
    :func:`ivf_kmeans_train`, so the whole model is oracle-able), and
    encode every vector as ``m`` small codes — ``log2(k)·m`` bits
    instead of ``32·dim``, the compression step between scalar
    quantization (:func:`quantize_embeddings`, 4×) and full ANN
    indexes; at ``m=8, k=256`` over 768-dim floats this is the classic
    96× cut that makes billion-vector search RAM-resident.

    Returns ``(codes DataFrame (id, codes array<int>), codebooks list
    of m ndarrays k×(dim/m))``. Reconstruction = concat of per-subspace
    centroids (see :func:`pq_decode_error` in tests for the bound).

    Shape: ``m`` independent trainings over narrow ``slice()``
    projections of the SAME scan (each is the proven
    assignment-mapInPandas / update-groupBy loop; only k×(dim/m)
    scalars cross the driver per subspace), then the m assignment
    tables — each already (id, cluster) — equi-join on id into the code
    array. No new distributed machinery, no Python beyond the trainer's
    Arrow passes."""
    if dim % m:
        raise ValueError("dim must divide evenly into m subspaces")
    from concurrent.futures import ThreadPoolExecutor

    d_sub = dim // m

    def train(s: int):
        sub = df.select(
            F.col(id_col).alias("id"),
            F.slice(as_double(F.col(vec_col)), s * d_sub + 1, d_sub)
             .alias("v"))
        return ivf_kmeans_train(sub, k=k, iters=iters,
                                id_col="id", vec_col="v")

    # the m trainings are independent model fits over disjoint dim
    # slices — submit them CONCURRENTLY (driver threads; Spark schedules
    # the jobs in parallel) instead of serializing m·iters rounds of
    # assign/update job latency. Results land in subspace order.
    with ThreadPoolExecutor(max_workers=m) as pool:
        results = list(pool.map(train, range(m)))
    codes = None
    books = []
    for s, (assigned, cents) in enumerate(results):
        books.append(cents)
        a = assigned.select("id", F.col("cluster").alias(f"c{s}"))
        codes = a if codes is None else codes.join(a, "id")
    out = codes.select(
        F.col("id").alias(id_col),
        F.array(*[F.col(f"c{s}") for s in range(m)]).alias("codes"))
    return out, books


def pq_adc_search(queries: DataFrame, codes: DataFrame, books, *,
                  k: int = 5, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  round_digits: int = 6) -> DataFrame:
    """Asymmetric distance computation over a PQ-encoded corpus (the
    search half of :func:`pq_train_encode`): each query precomputes an
    m×k table of partial squared distances to every codebook centroid,
    and a corpus vector's distance is just the SUM of m table lookups —
    the corpus is never decoded, only its codes move.

    Returns ``(query_id, neighbor_id, dist, rank)``, ascending distance,
    ties to the lower id, self-pairs excluded.

    Shape: the distance table is |Q|·m·k scalars (a few KB — queries are
    small by the same contract as :func:`knn_bruteforce`), built
    driver-side and BROADCAST; codes posexplode to (id, subspace, code)
    narrow rows that hash-join the broadcast table and re-aggregate by
    (query, id) with map-side combine. Everything after the tiny local
    table is JVM column math — no Python per row, no corpus shuffle
    beyond the (query × id) partial-sum combine."""
    import numpy as np

    spark = queries.sparkSession
    m = len(books)
    d_sub = books[0].shape[1]
    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        for s in range(m):
            qs = qv[s * d_sub:(s + 1) * d_sub]
            pd_ = ((books[s] - qs) ** 2).sum(axis=1)
            rows.extend((int(r[0]), s, int(j), float(pd_[j]))
                        for j in range(len(pd_)))
    ptab = local_df(spark,
                    rows, "query_id long, s int, code int, pd double")
    exploded = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("s", "code"))
    scored = (exploded.join(F.broadcast(ptab), ["s", "code"])
              .filter(F.col("query_id") != F.col("neighbor_id"))
              .groupBy("query_id", "neighbor_id")
              .agg(F.round(F.sum("pd"), round_digits).alias("dist")))
    w = W.partitionBy("query_id").orderBy(F.asc("dist"),
                                          F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def hashed_bow_embedding(df: DataFrame, text_col: str, *,
                         id_col: str = "doc_id", dim: int = 16,
                         out_col: str = "embedding",
                         hash_mode: str = "xxhash64") -> DataFrame:
    """Model-free text featurizer: L2-normalized hashed bag-of-words
    vector (the classic feature-hashing trick). Gives every ANN / near-dup
    operator in this module a deterministic embedding source when no
    learned model is available — cosine then measures token-multiset
    overlap.

    ``hash_mode``: ``xxhash64`` (fast, default) or ``md5`` (any engine
    with md5 can replay the bucketing — the cross-engine-oracle mode,
    same convention as ``dedup.py``'s shingle hashes).

    Shape: the minhash/simhash stage pattern — explode tokens → one
    scalar hash per token (codegen) → groupBy(id) with ``dim``
    conditional sums (map-side combine, ONE shuffle) → assemble +
    normalize. Never a per-dim HOF fold (the interpreted cliff in
    operators/dedup.py)."""
    tok = df.select(F.col(id_col).alias("id"),
                    F.explode(F.split(F.trim(safe_lower(F.col(text_col))),
                                      r"\s+")).alias("t"))
    if hash_mode == "xxhash64":
        h = F.pmod(F.xxhash64("t"), F.lit(dim))
    elif hash_mode == "md5":
        h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10) \
            .cast("long") % dim
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    hashed = tok.select("id", h.alias("h"))
    sums = hashed.groupBy("id").agg(*[
        F.sum((F.col("h") == i).cast("double")).alias(f"d{i}")
        for i in range(dim)])
    # normalize by unrolled column arithmetic, NOT a transform lambda
    # closing over an aggregate fold — HOF lambdas are interpreted and
    # re-evaluate the closed-over expression per element (the cliff
    # documented in operators/dedup.py); plain column math stays in
    # whole-stage codegen with subexpression elimination
    norm = F.sqrt(sum(F.col(f"d{i}") * F.col(f"d{i}")
                      for i in range(dim)))
    return sums.select(
        F.col("id").alias(id_col),
        F.array(*[(F.col(f"d{i}") / norm).cast("float")
                  for i in range(dim)]).alias(out_col))


def quantize_embeddings(df: DataFrame, *, vec_col: str = "embedding",
                        out_col: str = "q", scale_col: str = "q_scale"
                        ) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    ``scale = max|x| / 127``, ``q_i = round(x_i / scale)``. Cuts vector
    storage 4× (float32 → int8) — at 100 TB the difference between an
    embedding table that fits the page cache and one that doesn't; recall
    loss for cosine/top-k is negligible at int8 (the standard
    faiss-style SQ8 trade). Dequantize with ``q_i * scale``.

    One Arrow-batched pandas UDF, no shuffle; all-zero vectors keep
    scale 0 and quantize to zeros. (An expression-level draft folded the
    per-vector max INSIDE a transform lambda — interpreted HOFs
    re-evaluate the closed-over fold per element, O(dim²)/row; the
    vectorized batch kernel does one BLAS-ish pass.)"""
    import numpy as np
    import pandas as pd

    from dig_etl_engine_spark.session import ship_package

    ship_package(df.sparkSession)

    def _kernel(vs):
        # null vectors pass through as (null, null), matching the old
        # expression semantics instead of killing the job
        out_q = [None] * len(vs)
        out_s = [None] * len(vs)
        valid = [i for i, v in enumerate(vs) if v is not None]
        if valid:
            m = np.array([vs.iloc[i] for i in valid], dtype=np.float64)
            amax = np.abs(m).max(axis=1)
            scale = amax / 127.0
            safe = np.where(scale == 0.0, 1.0, scale)
            # floor(|x|/s + 0.5) with the sign restored = round
            # half-away-from-zero, matching Spark's round() convention
            q = (np.sign(m) * np.floor(np.abs(m) / safe[:, None] + 0.5)) \
                .astype(np.int8)
            for j, i in enumerate(valid):
                out_q[i] = q[j]
                out_s[i] = float(scale[j])
        return pd.DataFrame({"q": out_q, "s": out_s})

    # annotate with real classes (the module's `from __future__ import
    # annotations` would otherwise leave unresolvable string hints)
    _kernel.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
    # scalar UDF over ONLY the vector column: every other column stays
    # JVM-side (a mapInPandas draft serialized the whole row into Arrow
    # and back — the dominant cost on tables carrying text/metadata)
    qudf = F.pandas_udf(_kernel, "struct<q: array<tinyint>, s: double>")
    packed = df.withColumn("_qs", qudf(as_double(F.col(vec_col))))
    return (packed
            .withColumn(out_col, F.col("_qs.q"))
            .withColumn(scale_col, F.col("_qs.s"))
            .drop("_qs"))


def dequantize(q: Column, scale: Column) -> Column:
    """Inverse of :func:`quantize_embeddings` (lossy at int8 precision)."""
    return F.transform(q, lambda x: x.cast("double") * scale)


def materialize_ivf_index(corpus: DataFrame, path: str, *, k: int = 8,
                          iters: int = 5, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> None:
    """Build-once IVF index: train cells (:func:`ivf_kmeans_train`), then
    persist ``{path}/centroids`` (k rows of ``(cluster, centroid)``) and
    ``{path}/cells`` — the corpus WITH its cell assignment, physically
    ``partitionBy(cluster)``.

    The partition layout is the scale win: a query batch probing
    ``nprobe`` of ``k`` cells reads ~``nprobe/k`` of the corpus bytes via
    partition pruning — the other cells' files are never listed into the
    scan. Same build-once/query-many contract as the BM25 stats table and
    the minhash band index."""
    import pandas as pd

    spark = corpus.sparkSession
    assigned, centroids = ivf_kmeans_train(corpus, k=k, iters=iters,
                                           id_col=id_col, vec_col=vec_col,
                                           carry_vec=True)
    # _ab append-partition column (-1 = base build): incremental batch
    # appends land in (cluster, _ab=<batch_id>) partitions so a streaming
    # retry replaces its own rows — see incremental_embedding_dedup.
    # v is stored as array<double> so base files and incremental appends
    # (whose assignment pass emits doubles) share one parquet schema —
    # a float base under double appends breaks non-mergeSchema reads.
    # carry_vec (r12): the assignment pass already held the vector; the
    # pre-r12 corpus-by-id re-join that re-attached it is gone.
    (assigned.select("id", "v", "cluster")
     .withColumn("_ab", F.lit(-1))
     .write.mode("overwrite").partitionBy("cluster", "_ab")
     .parquet(f"{path}/cells"))
    cent_pdf = pd.DataFrame({
        "cluster": range(len(centroids)),
        "centroid": [list(map(float, c)) for c in centroids]})
    (spark.createDataFrame(cent_pdf)
     .write.mode("overwrite").parquet(f"{path}/centroids"))


def knn_ivf_indexed(queries: DataFrame, index_path: str, *, k: int = 5,
                    nprobe: int = 1, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    round_digits: int = 4) -> DataFrame:
    """ANN over a :func:`materialize_ivf_index` build, with multi-probe:
    each query searches its ``nprobe`` nearest cells. ``nprobe`` is the
    recall/cost dial — 1 reproduces :func:`knn_ivf`'s semantics against a
    prebuilt index, ``nprobe = k_cells`` is exact brute force.

    Shape: the centroid table (k×d, a few KB) collects to the driver;
    query→cell probe assignment is driver-side numpy. The cells scan is
    filtered to the union of probed cells — partition-pruned, so unprobed
    cells cost zero I/O — and the per-cell candidate join is the same
    narrow equi-join as :func:`knn_ivf`, now keyed on (query, probed
    cell). Queries are small by contract (the brute-force contract);
    the corpus side never shuffles beyond the cell join."""
    import numpy as np

    spark = queries.sparkSession
    cent_rows = (spark.read.parquet(f"{index_path}/centroids")
                 .orderBy("cluster").collect())
    cents = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    n_cells = len(cents)
    nprobe = min(nprobe, n_cells)

    qrows = queries.select(F.col(id_col), F.col(vec_col)).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        d = ((cents - qv) ** 2).sum(axis=1)
        # stable argsort: equidistant centroids probe lowest cluster first
        for c in np.argsort(d, kind="stable")[:nprobe]:
            probe_rows.append((int(r[0]), int(c)))
    probes = local_df(spark, probe_rows, "query_id long, cluster int")
    qv_df = queries.select(F.col(id_col).alias("query_id"),
                           as_double(F.col(vec_col)).alias("qv"))
    probed = probes.join(qv_df, "query_id")

    probe_set = sorted({c for _, c in probe_rows})
    cells = (spark.read.parquet(f"{index_path}/cells")
             .filter(F.col("cluster").isin(probe_set))
             .select(F.col("id").alias("neighbor_id"), "cluster",
                     as_double(F.col("v")).alias("cv")))
    from dig_etl_engine_spark.functions.exact import fixed

    scored = (
        F.broadcast(probed).join(cells, "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # 1e-4-scaled BIGINT score via the shared quantization helper
        # (continuous-round lint, r8) — quantized before ranking
        .select("query_id", "neighbor_id",
                fixed(cosine(F.col("qv"), F.col("cv")), round_digits)
                 .alias(f"cosine_e{round_digits}"))
        # candidate-scale guard: a neighbor listed twice in the index (a
        # crashed compaction or a multi-probe overlap) must occupy ONE
        # top-k slot, not two — row_number would rank both copies
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(
        F.desc(f"cosine_e{round_digits}"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def compact_ivf_index(spark, index_path: str, *,
                      lock_timeout: float = 300.0) -> dict:
    """Fold the per-batch ``(cluster, _ab)`` append partitions of an
    incremental IVF index back into one ``_ab`` epoch per cell — the
    embedding-index sibling of ``dedup.compact_minhash_index``, with the
    same crash-safe protocol (fresh strictly-decreasing negative epoch;
    append commits via parquet tmp-file+rename so a crash leaves only
    complete duplicate rows; old-partition deletes can crash midway and
    the next run heals via natural-key dedupe on ``(id, cluster)``).

    Duplicate cell rows during the crash window are harmless to BOTH
    consumers: ``incremental_embedding_dedup`` deduplicates its pair
    output, and ``knn_ivf_indexed`` deduplicates candidates before
    ranking (the guard exists precisely so a torn compaction can never
    double-fill a top-k). Writer exclusion is enforced via the index's
    advisory ``table_lock`` (shared with the KG table); the semantic
    retry-vs-compact scheduling caveat from
    ``dedup.compact_minhash_index`` applies identically.

    Returns ``{"partitions_before": n, "epoch": e}`` where ``n`` counts
    distinct ``_ab`` values (one per append batch + the base build).
    """
    from dig_etl_engine_spark.operators.dedup import compact_ab_partitions
    from dig_etl_engine_spark.sinks.kg_table import table_lock

    with table_lock(index_path, timeout=lock_timeout):
        n, epoch = compact_ab_partitions(
            spark, f"{index_path}/cells", ["id", "cluster"],
            cells=("cluster",))
    return {"partitions_before": n, "epoch": epoch}


def incremental_embedding_dedup(batch: DataFrame, index_path: str, *,
                                threshold: float = 0.99, nprobe: int = 1,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                round_digits: int = 4,
                                append: bool = True,
                                batch_id: int | None = None) -> DataFrame:
    """Semantic near-dup check of a new batch against a
    :func:`materialize_ivf_index` corpus — the embedding-space sibling of
    ``dedup.incremental_minhash_dedup``, sharing one physical index with
    :func:`knn_ivf_indexed`.

    Shape: batch vectors get their ``nprobe`` nearest cells from the tiny
    broadcast centroid table inside one Arrow ``mapInPandas`` pass (the
    batch is NOT small by contract, so assignment never touches the
    driver). The cells scan is pruned to the batch's occupied cells, each
    cell groups corpus + batch rows onto one executor, and the cell's
    batch×all cosine block is one BLAS matmul. Returns
    ``(doc_a, doc_b, cosine_e{d}, origin)`` — the score a 10^-d-scaled
    BIGINT via ``functions/exact.fixed`` (continuous-round lint, r9) —
    with ``doc_a`` a batch doc;
    batch-internal pairs (``origin='batch'``) have ``doc_a < doc_b``.
    Same cell-boundary approximation as :func:`embedding_near_dup_pairs`;
    raise ``nprobe`` to catch straddlers. ``append=True`` adds the batch
    (primary cell only) to the index for the next round; from a streaming
    ``foreachBatch`` pass the micro-batch id as ``batch_id`` so a retry
    overwrites its own ``(cluster, _ab)`` partitions instead of
    double-appending (same pattern as ``incremental_minhash_dedup``)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from dig_etl_engine_spark.session import ship_package

    spark = batch.sparkSession
    ship_package(spark)
    cent_rows = (spark.read.parquet(f"{index_path}/centroids")
                 .orderBy("cluster").collect())
    cents = np.array([r["centroid"] for r in cent_rows], dtype=np.float64)
    nprobe = min(nprobe, len(cents))
    c2 = (cents ** 2).sum(axis=1)

    assign_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.ArrayType(T.DoubleType())),
        T.StructField("cluster", T.IntegerType()),
        T.StructField("is_primary", T.BooleanType())])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(pdf["v"].tolist(), dtype=np.float64)
            d = (m ** 2).sum(axis=1)[:, None] - 2 * (m @ cents.T) + c2
            order = np.argsort(d, axis=1, kind="stable")[:, :nprobe]
            n = len(pdf)
            yield pd.DataFrame({
                "id": np.repeat(pdf["id"].to_numpy(np.int64), nprobe),
                "v": [v for v in pdf["v"] for _ in range(nprobe)],
                "cluster": order.ravel().astype(np.int32),
                "is_primary": np.tile(
                    np.arange(nprobe) == 0, n)})

    new_rows = (batch.select(F.col(id_col).alias("id"),
                             as_double(F.col(vec_col)).alias("v"))
                .mapInPandas(assign, assign_schema)
                .transform(pin, eager=False))

    occupied = sorted({r["cluster"] for r in
                       new_rows.select("cluster").distinct().collect()})
    cells_raw = (spark.read.parquet(f"{index_path}/cells")
                 .filter(F.col("cluster").isin(occupied)))
    if batch_id is not None and "_ab" in cells_raw.columns:
        # retry safety: this batch's own first-attempt rows are not corpus
        cells_raw = cells_raw.filter(F.col("_ab") != batch_id)
    old_rows = cells_raw.select(
        "id", as_double(F.col("v")).alias("v"), "cluster",
        F.lit(False).alias("is_new"), F.lit(True).alias("is_primary"))
    both = new_rows.select("id", "v", "cluster",
                           F.lit(True).alias("is_new"), "is_primary") \
        .unionByName(old_rows)

    # prefilter with the EXACT quantized predicate the JVM filter (and
    # the oracle) applies — floor(x·10^d + 0.5) >= scaled threshold, the
    # same IEEE ops. A subtracted-margin heuristic (threshold - 0.5·10^-d)
    # is 1 ulp too strict at some thresholds: a raw cosine can quantize
    # UP to the threshold yet sit below fl(threshold - margin), dropping
    # the pair Spark-side only (r9 round-close review, verified
    # numerically at threshold=0.9/d=4).
    _scale = 10.0 ** round_digits
    _cut = int(round(threshold * 10 ** round_digits))

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        new = pdf[pdf["is_new"]]
        if not len(new):
            return pd.DataFrame({"doc_a": [], "doc_b": [], "cosine": [],
                                 "origin": []}).astype(
                {"doc_a": "int64", "doc_b": "int64",
                 "cosine": "float64", "origin": "object"})
        ids = pdf["id"].to_numpy(np.int64)
        v = np.array(pdf["v"].tolist(), dtype=np.float64)
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        is_new = pdf["is_new"].to_numpy(bool)
        ni = np.flatnonzero(is_new)
        sims = v[ni] @ v.T                       # |new| × |all|
        ai, bi = np.where(np.floor(sims * _scale + 0.5) >= _cut)
        a_ids, b_ids = ids[ni[ai]], ids[bi]
        b_new = is_new[bi]
        # drop self-pairs; orient batch-internal pairs doc_a < doc_b
        # (each survives once — the mirrored duplicate is dropped)
        keep = (a_ids != b_ids) & (~b_new | (a_ids < b_ids))
        return pd.DataFrame({
            "doc_a": a_ids[keep], "doc_b": b_ids[keep],
            "cosine": sims[ai, bi][keep],
            "origin": np.where(b_new[keep], "batch", "corpus")})

    from dig_etl_engine_spark.functions.exact import fixed

    score = f"cosine_e{round_digits}"
    result = (
        both.groupBy("cluster").applyInPandas(
            cell_pairs,
            "doc_a long, doc_b long, cosine double, origin string")
        # nprobe > 1 can surface the same pair in several probed cells
        .dropDuplicates(["doc_a", "doc_b"])
        # 1e-d-scaled BIGINT score via the shared quantization tree
        # (continuous-round lint, r9) — threshold in exact integer units
        .select("doc_a", "doc_b",
                fixed(F.col("cosine"), round_digits).alias(score),
                "origin")
        # the SAME _cut the kernel prefilter compares against — one
        # derivation, so prefilter and filter cannot desync (r9 review)
        .filter(F.col(score) >= _cut)
    )
    if append:
        import uuid

        # pin before append — see incremental_minhash_dedup; snapshot=True
        # because the plan reads the index dir this append mutates
        result = result.transform(pin, snapshot=True)
        ab = (batch_id if batch_id is not None
              else int(uuid.uuid4().hex[:8], 16))
        out = (new_rows.filter("is_primary")
               .select("id", "v", "cluster")
               .withColumn("_ab", F.lit(ab)))
        # advisory writer lock — see incremental_minhash_dedup's append
        from dig_etl_engine_spark.sinks.kg_table import table_lock
        with table_lock(index_path):
            if batch_id is not None:
                # per-writer option, not a session conf set/restore —
                # concurrent streams in one session race the restore
                # "DYNAMIC" pre-uppercased (locale-proof enum lookup —
                # see streaming/ingest.py).
                out.write.mode("overwrite") \
                    .option("partitionOverwriteMode", "DYNAMIC") \
                    .partitionBy("cluster", "_ab") \
                    .parquet(f"{index_path}/cells")
            else:
                out.write.mode("append").partitionBy("cluster", "_ab") \
                    .parquet(f"{index_path}/cells")
    return result


def _gram_near_dup(v, scale: float, cut: int):
    """The ONE in-kernel derivation of the quantized near-dup predicate
    (shared by :func:`embedding_near_dup_pairs` and :func:`semdedup` so
    prefilter and verdict cannot desync): L2-normalize the cell's
    vectors, compute the Gram matrix with one BLAS matmul, and return
    ``(sims, ai, bi)`` where (ai, bi) index the upper-triangle pairs
    whose ``floor(cos·scale + 0.5)`` meets ``cut`` — the EXACT IEEE ops
    of the JVM ``fixed()`` tree (r9 round-close review: a
    subtracted-margin heuristic is 1 ulp too strict at some
    thresholds)."""
    import numpy as np

    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    ai, bi = np.where(np.triu(
        np.floor(sims * scale + 0.5) >= cut, k=1))
    return sims, ai, bi


def embedding_near_dup_pairs(df: DataFrame, *, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             cell_col: str = "label",
                             threshold: float = 0.99,
                             round_digits: int = 4) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a cell (semantic dedup):
    pairs with cosine ≥ threshold, doc_a < doc_b. Output ``(doc_a, doc_b,
    cosine_e{d})`` — the score as a 10^-d-scaled BIGINT via the shared
    ``floor(cos·10^d + 0.5)`` tree (``functions/exact.fixed``;
    continuous-round lint, r9: no engine ``round()`` on the sqrt-derived
    cosine, and the threshold compares in exact integer units).

    Shape: one shuffle groups each cell onto an executor (applyInPandas),
    where the cell's pairwise cosines are ONE BLAS Gram matrix; only pairs
    at or above the threshold leave Python (the kernel prefilter applies
    the SAME quantized predicate as the authoritative JVM filter —
    bit-identical keep set). Cells are IVF-partition-sized by
    contract — the same bound that makes the IVF search path work. An
    expression-level pair join evaluated interpreted HOF folds per pair —
    the same cliff documented in operators/dedup.py.
    """
    import numpy as np
    import pandas as pd

    from dig_etl_engine_spark.session import ship_package

    ship_package(df.sparkSession)
    # prefilter with the EXACT quantized predicate the JVM filter (and
    # the oracle) applies — same IEEE ops, bit-identical keep set; a
    # subtracted-margin heuristic is 1 ulp too strict at some
    # thresholds (r9 round-close review)
    _scale = 10.0 ** round_digits
    _cut = int(round(threshold * 10 ** round_digits))

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        v = np.array(pdf[vec_col].tolist(), dtype=np.float64)[order]
        sims, ai, bi = _gram_near_dup(v, _scale, _cut)
        return pd.DataFrame({"doc_a": ids[ai], "doc_b": ids[bi],
                             "cosine": sims[ai, bi]})

    from dig_etl_engine_spark.functions.exact import fixed

    score = f"cosine_e{round_digits}"
    cand = df.select(id_col, cell_col, vec_col).groupBy(cell_col) \
        .applyInPandas(cell_pairs, "doc_a long, doc_b long, cosine double")
    return (cand.select("doc_a", "doc_b",
                        fixed(F.col("cosine"), round_digits).alias(score))
            # the SAME _cut the kernel prefilter compares against — one
            # derivation, so prefilter and filter cannot desync
            .filter(F.col(score) >= _cut))


def semdedup(df: DataFrame, *, k: int = 8, iters: int = 3,
             threshold: float = 0.95, id_col: str = "vec_id",
             vec_col: str = "embedding",
             round_digits: int = 4) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the embedding
    space with k-means, then prune SEMANTIC duplicates — pairs whose
    cosine similarity exceeds ``threshold`` — within each cluster,
    keeping one representative per near-dup ball. Unlike
    :func:`embedding_near_dup_pairs` (which requires a precomputed cell
    column) this LEARNS the partition from the data, which is the whole
    point of the paper: clustering first makes the pairwise step
    tractable because the O(n²) comparison only ever runs inside a
    cluster, never across the corpus.

    Representative choice is deterministic keep-lowest-id: a vector is
    dropped iff a LOWER-id vector in its cluster sits within the
    threshold ball (the paper keeps a random / centroid-extremal member;
    lowest-id is this repo's reproducibility convention — same rule as
    ``dedup.exact_dedup``). One-pass, non-transitive: the classic greedy
    approximation, documented rather than hidden.

    Returns ``(id, cluster, kept)`` — one row per input vector.

    Shape (r12): the deterministic trainer (:func:`ivf_kmeans_train`
    with ``carry_vec`` — only the k×d model crosses the driver, and the
    assignment pass carries the vector out, so no join re-attaches it)
    → ONE shuffle groups each cluster, where the cell kernel computes
    the pairwise block as a single BLAS Gram matmul AND emits the
    per-vector keep verdict directly (``kept[i]`` = no lower-id
    cluster-mate within the threshold ball — exactly the doc_b-dropped
    rule of the pre-r12 pairs + marking-join chain, decided by the SAME
    quantized predicate, :func:`_gram_near_dup`; the r9 review already
    proved that predicate bit-identical to the JVM ``fixed()`` filter
    the old chain re-applied). One corpus pass, one shuffle, zero
    joins — the pre-r12 chain ran the assignment pass twice and joined
    the corpus by id to re-attach vectors. At 100 TB, k scales with
    corpus size so clusters stay executor-memory-sized — the same
    contract the IVF search path already imposes — and the pairwise
    work stays Θ(n·cluster_size), not Θ(n²)."""
    import numpy as np
    import pandas as pd

    assigned, _cents = ivf_kmeans_train(df, k=k, iters=iters,
                                        id_col=id_col, vec_col=vec_col,
                                        carry_vec=True)
    _scale = 10.0 ** round_digits
    _cut = int(round(threshold * 10 ** round_digits))

    def cell_verdicts(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        cl = pdf["cluster"].to_numpy()[order]
        v = np.array(pdf["v"].tolist(), dtype=np.float64)[order]
        _sims, _ai, bi = _gram_near_dup(v, _scale, _cut)
        kept = np.ones(len(ids), dtype=bool)
        kept[bi] = False            # doc_b of any in-threshold pair
        return pd.DataFrame({id_col: ids, "cluster": cl, "kept": kept})

    return assigned.groupBy("cluster").applyInPandas(
        cell_verdicts, f"{id_col} long, cluster int, kept boolean")


def contrastive_pairs(df: DataFrame, *, k: int = 8, iters: int = 3,
                      pos_threshold: float = 0.99,
                      neg_band: tuple = (0.5, 0.9),
                      m_negatives: int = 2,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      round_digits: int = 4) -> DataFrame:
    """Contrastive pair mining for embedding-model training (the
    hard-negative recipe behind E5/GTE-style retrievers, Xiong et al.
    2021 ANCE): for every anchor vector emit its POSITIVES (near-dups,
    cosine ≥ ``pos_threshold``) and its top-``m_negatives`` HARD
    negatives — same-cluster neighbors inside the ``neg_band`` cosine
    band: close enough to be confusable, far enough to be genuinely
    different, which is exactly what a random in-batch negative is not.

    Returns ``(anchor, other, cosine_e{d}, pair_type)`` with pair_type ∈
    positive / hard_negative; both directions of each pair are emitted
    (each doc serves as an anchor). Negatives rank hardest-first
    (cosine_e{d} desc, id asc — deterministic on the 10^-d-scaled BIGINT
    score from :func:`embedding_near_dup_pairs`, so replayable
    cross-engine; band edges compare in the same exact integer units).

    Shape: the learned k-means partition bounds the candidate set the
    same way :func:`semdedup` does — pairwise cosine only ever runs
    inside a cluster (one BLAS Gram per cell via
    :func:`embedding_near_dup_pairs` at the band floor) — then one
    window shuffle keyed on the anchor ranks negatives. Θ(n·cluster)
    compute, two shuffles total."""
    from pyspark.sql import Window as W

    neg_lo, neg_hi = neg_band
    assigned, _cents = ivf_kmeans_train(df, k=k, iters=iters,
                                        id_col=id_col, vec_col=vec_col,
                                        carry_vec=True)
    # carry_vec (r12): same re-join elimination as semdedup — the
    # assignment pass carries the vector to the per-cluster Gram step.
    pairs = embedding_near_dup_pairs(
        assigned, id_col="id", vec_col="v", cell_col="cluster",
        threshold=neg_lo, round_digits=round_digits)
    score = f"cosine_e{round_digits}"
    scaled = lambda t: int(round(t * 10 ** round_digits))  # noqa: E731
    both = pairs.select(F.col("doc_a").alias("anchor"),
                        F.col("doc_b").alias("other"), score) \
        .unionByName(pairs.select(F.col("doc_b").alias("anchor"),
                                  F.col("doc_a").alias("other"), score))
    pos = both.filter(F.col(score) >= scaled(pos_threshold)) \
        .withColumn("pair_type", F.lit("positive"))
    rn = F.row_number().over(
        W.partitionBy("anchor").orderBy(F.desc(score), F.asc("other")))
    neg = (both.filter((F.col(score) >= scaled(neg_lo))
                       & (F.col(score) < scaled(neg_hi)))
           .withColumn("_rn", rn).filter(F.col("_rn") <= m_negatives)
           .drop("_rn").withColumn("pair_type", F.lit("hard_negative")))
    return pos.unionByName(neg)


def embedding_profile(df: DataFrame, *, vec_col: str = "embedding",
                      round_digits: int = 4) -> DataFrame:
    """Per-dimension QA profile of an embedding column — the drift /
    sanity dashboard an embedding pipeline owner checks after every
    re-embed: ``(dim, n, mean, std_e4, min_v, max_v)`` (std as a
    1e-4-scaled BIGINT), one row per vector dimension. A collapsed dimension (std ≈ 0), a mean far off center,
    or a count mismatch across dims (ragged vectors) are all one-glance
    visible.

    Shape: ``posexplode`` of the vector → groupBy(dim). The explode is
    narrow and the aggregation map-side combines to d rows per
    partition, so the shuffle carries partitions×d rows regardless of
    corpus size — the same partial-agg contract as the LM counting ops.

    Hash determinism (wobble lint): float AVG/STDDEV accumulate in an
    engine-chosen order; here values are quantized to exact 1e-6-unit
    int64 (error 5e-7 ≪ the 4-digit display rounding — an explicit,
    documented quantization applied identically in the oracle), the
    aggregates are exact integer SUM/SUMSQ/COUNT, and mean/std derive
    per-row: the mean by pure integer half-away rounding, the std from
    the exact variance numerator ``n·SS − S²`` (decimal(38,0) in Spark
    / HUGEINT in DuckDB — exactly 0 for a collapsed dim, no
    cancellation epsilon) through an engine-identical sqrt expression.
    int64 headroom: SS ≤ n·(|v|·1e6)² — fine to ~1e5 unit-normalized
    rows per dim per 10× |v| margin; shard the profile beyond that."""
    from dig_etl_engine_spark.functions.exact import fixed, round_fixed

    v = df.select(F.posexplode(F.col(vec_col)).alias("dim", "v")) \
        .select("dim", F.col("v").cast("double").alias("v"))
    micro = fixed(F.col("v"), 6)
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    agg = (v.groupBy("dim")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(micro).alias("s"),
                F.sum(dec(micro * micro)).alias("ss"),
                F.round(F.min("v"), round_digits).alias("min_v"),
                F.round(F.max("v"), round_digits).alias("max_v")))
    nd = F.col("n").cast("double")
    var_num = dec(F.col("n")) * F.col("ss") - dec(F.col("s")) * dec(F.col("s"))
    std = F.when(F.col("n") >= 2,
                 F.sqrt(var_num.cast("double")
                        / (nd * (nd - F.lit(1.0)))) / F.lit(1000000.0))
    # std is sqrt-derived (continuous): emit as a 1e-4-scaled BIGINT
    # through the shared quantization helper, mirrored in the oracle —
    # no engine round() on a continuous double (continuous-round lint)
    std_fp = fixed(std, round_digits)
    return agg.select(
        "dim", "n",
        round_fixed(F.col("s"), 6, round_digits, F.col("n")).alias("mean"),
        std_fp.alias(f"std_e{round_digits}"),
        "min_v", "max_v")
