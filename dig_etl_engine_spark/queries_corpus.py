"""Registry entries for the LLM corpus-curation operator surface
(BASELINE.json north star; the training-data extension beyond the
reference's own operators — see `operators/text_analysis.py`,
`operators/dedup.py`, `operators/similarity.py`).

Covers (a) the round-3 operators that were unit/golden-tested but had no
driver CORRECTNESS rows (registry frozen at 100 per round-2 advice) and
(b) the round-4 additions (paragraph/window dedup, TF-IDF, n-gram
profiling, LM perplexity, fuzzy + span decontamination, corpus diff and
cardinality) — each registered with a full DuckDB oracle so the driver's
value-hash gate covers it.

Hash conventions: operators default to xxhash64 (fast path); queries that
need cross-engine oracle parity pass ``hash_mode='md5'`` where the
operator exposes it (`mix_sources`, `hashed_bow_embedding`) — same
convention as `operators/dedup.py`'s shingle hashes. `decontaminate`
keeps xxhash64 and the oracle counts the gram STRINGS instead: the output
(distinct overlapping grams per doc) is hash-free unless xxhash64
collides within one doc's overlap set (P ≈ n²/2⁶⁴ ≈ 1e-8 at sf0.01 —
documented, not silently assumed).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dig_etl_engine_spark.operators.pin import pin
from dig_etl_engine_spark.functions.casefold import safe_lower, safe_upper

from dig_etl_engine_spark.catalog import load_tables
from dig_etl_engine_spark.functions.exact import (
    fixed, round_fixed, sql_fixed, sql_round_fixed)
from dig_etl_engine_spark.operators import dedup as D
from dig_etl_engine_spark.operators import similarity as S
from dig_etl_engine_spark.operators import text_analysis as TA
from dig_etl_engine_spark.queries import register
from dig_etl_engine_spark.sinks.kg_table import (
    live_epoch, publish_epoch, table_lock)


def _scratch_path(sf_dir: str, name: str,
                  source_table: str = "documents") -> str:
    """Cache dir for a build-once fixture artifact, keyed on the SOURCE
    table's (basename, mtime, size): rebuild when the corpus
    regenerates. Key on the table the artifact actually derives from:
    an embeddings-backed index keyed on documents would go silently
    stale if only embeddings regenerated. The root is not the older
    marker-file cache's ``/tmp/spark_graft_io``: a checkout of that
    cache deletes any dir whose marker is not at its top level, which
    an epoch store's never is."""
    src = os.path.join(sf_dir, f"{source_table}.parquet")
    st = os.stat(src) if os.path.exists(src) else None
    tag = (f"{os.path.basename(os.path.normpath(sf_dir))}"
           f"-{int(st.st_mtime) if st else 0}-{st.st_size if st else 0}")
    return os.path.join("/tmp/spark_graft_cache", name, tag)


def _build_once(path: str, build: Callable[[str], None]) -> str:
    """Return the live root of the epoch store ``path`` (see
    ``sinks/kg_table.publish_epoch``), first publishing ``build(root)``
    when nothing is live. Builders serialize on ``table_lock(path)`` and
    re-check under it, so concurrent callers (threads or processes) run
    one build and all get its root; a reader never sees a half-built
    cache, and a crashed build's partial is swept by the next publish."""
    root = live_epoch(path)
    if root is None:
        with table_lock(path):
            root = live_epoch(path) or publish_epoch(path, build)
    return root


# --- Gopher gates + n-gram repetition ----------------------------------------

# Planted per-doc tails (doc_id % 4) so every gate fires on a real cohort:
# 0 → a bullet storm (≥90% of lines bulleted → bullet gate fails),
# 1 → trailing ellipses (2 of 3 lines → ellipsis gate fails),
# 2 → symbol spam (## tokens → symbol + alpha gates fail), 3 → untouched.
_BULLET_TAIL = "\n• bullet line" * 10
_ELLIPSIS_TAIL = "\nand so it continues...\nmore to come..."
_SYMBOL_TAIL = " " + "### " * 14 + "###"

_GATED_TEXT_SQL = """
      SELECT doc_id,
             text || CASE doc_id % 4
               WHEN 0 THEN '{b}'
               WHEN 1 THEN '{e}'
               WHEN 2 THEN '{s}'
               ELSE '' END AS text
      FROM documents
""".format(b=_BULLET_TAIL.replace("\n", "' || chr(10) || '"),
           e=_ELLIPSIS_TAIL.replace("\n", "' || chr(10) || '"),
           s=_SYMBOL_TAIL)


def _gated_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    tail = (F.when(F.col("doc_id") % 4 == 0, F.lit(_BULLET_TAIL))
            .when(F.col("doc_id") % 4 == 1, F.lit(_ELLIPSIS_TAIL))
            .when(F.col("doc_id") % 4 == 2, F.lit(_SYMBOL_TAIL))
            .otherwise(F.lit("")))
    return docs.select("doc_id",
                       F.concat(F.col("text"), tail).alias("text"))


@register(
    "gopher_gates",
    oracle=f"""
    WITH g AS ({_GATED_TEXT_SQL}),
    t AS (
      -- Spark tokenizes on \\s+ (newlines included); the planted tails
      -- contain newlines, so fold them to spaces before string_split
      SELECT doc_id, text,
             string_split(replace(text, chr(10), ' '), ' ') AS toks,
             string_split(replace(lower(text), chr(10), ' '), ' ')
               AS ltoks,
             list_filter(list_transform(string_split(text, chr(10)),
                         l -> trim(l)), l -> l <> '') AS lines
      FROM g
    ),
    m AS (
      SELECT doc_id,
             len(toks) AS n,
             greatest(len(lines), 1) AS n_lines,
             list_sum(list_transform(toks, x -> length(x)))
               / greatest(len(toks), 1) AS mean_len,
             (length(text) - length(replace(text, '#', ''))
              + len(regexp_extract_all(text, '(\\.\\.\\.|…)'))) AS symbols,
             len(list_filter(lines,
                 l -> regexp_matches(l, '^[•‣▪*-]'))) AS bullets,
             len(list_filter(lines,
                 l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS ellipses,
             len(list_filter(toks,
                 l -> regexp_matches(l, '[A-Za-z]'))) AS alpha,
             len(list_intersect(list_distinct(ltoks),
                 ['the','be','to','of','and','that','have','with']))
               AS sw_hits
      FROM t
    ),
    gates AS (
      SELECT doc_id,
             (n >= 50 AND n <= 100000) AS word_count,
             (mean_len >= 3.0 AND mean_len <= 10.0) AS mean_word_len,
             (symbols / greatest(n, 1) < 0.1) AS symbol_ratio,
             (bullets / n_lines < 0.9) AS bullet_lines,
             (ellipses / n_lines < 0.3) AS ellipsis_lines,
             (alpha / greatest(n, 1) >= 0.8) AS alpha_words,
             (sw_hits >= 2) AS stopword_hits
      FROM m
    )
    SELECT doc_id, word_count, mean_word_len, symbol_ratio, bullet_lines,
           ellipsis_lines, alpha_words, stopword_hits,
           (word_count AND mean_word_len AND symbol_ratio AND bullet_lines
            AND ellipsis_lines AND alpha_words AND stopword_hits) AS pass_all
    FROM gates
    """,
)
def gopher_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher corpus-filter rule set (`operators/text_analysis.py:
    gopher_gates`; Rae et al. 2021 §A1.1): per-doc boolean verdict for
    each of the 7 gates plus the combined pass, over a corpus with
    planted bullet-storm / trailing-ellipsis / symbol-spam cohorts so
    every gate fires somewhere. Pure column math, no shuffle; the oracle
    restates each gate over the same token/line algebra."""
    g = TA.gopher_gates(F.col("text"))
    return (_gated_text(spark, sf_dir)
            .select("doc_id", g.alias("g"))
            .select("doc_id", "g.*"))


@register(
    "ngram_repetition",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' ' || text
                  ELSE text END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM g),
    s AS (
      SELECT doc_id, len(toks) - 2 AS n_out,
             list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 2, len(toks))], ' '))
               AS grams
      FROM t
    )
    SELECT doc_id,
           CASE WHEN n_out <= 1 THEN 0.0
                ELSE ROUND(1.0 - len(list_distinct(grams)) / n_out, 6)
           END AS rep_ratio
    FROM s
    """,
)
def ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's duplicate n-gram fraction (`operators/text_analysis.py:
    ngram_repetition_ratio`): 1 − distinct/total over word trigrams —
    catches looped phrases that line-level repetition misses. Docs with
    doc_id % 3 = 0 are doubled (text ∥ text) and must score ≈ 0.5+;
    others keep their natural (vocab-driven) repetition. Pure column
    math, no shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    txt = F.when(F.col("doc_id") % 3 == 0,
                 F.concat(F.col("text"), F.lit(" "), F.col("text"))) \
        .otherwise(F.col("text"))
    return docs.select(
        "doc_id", TA.ngram_repetition_ratio(txt, n=3).alias("rep_ratio"))


# --- chunking -----------------------------------------------------------------


@register(
    "chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks,
             len(string_split(trim(text), ' ')) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id, toks, n,
             unnest(range(0, greatest(CAST(ceil((n - 8) / 24.0) AS BIGINT),
                                      1))) AS chunk_id
      FROM t
    )
    SELECT doc_id, chunk_id,
           array_to_string(toks[chunk_id * 24 + 1 :
                                least(chunk_id * 24 + 32, n)], ' ')
             AS chunk_text,
           least(32, n - chunk_id * 24) AS n_tokens
    FROM ch
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking for RAG/long-doc prep
    (`operators/text_analysis.py:chunk_documents`): 32-token chunks with
    8-token overlap (stride 24), final chunk = remainder, short docs →
    one whole-doc chunk. Narrow posexplode — chunk rows stay
    partition-local with their document, no shuffle."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    out = TA.chunk_documents(docs, chunk_tokens=32, overlap=8)
    return out.select("doc_id",
                      F.col("chunk_id").cast("long").alias("chunk_id"),
                      "chunk_text",
                      F.col("n_tokens").cast("long").alias("n_tokens"))


# --- decontamination ----------------------------------------------------------

# eval set: the first 20 tokens of every doc_id % 17 == 0 document — the
# planted contamination is those docs themselves (≥ 8 shared 13-grams).
_EVAL_SLICE_SQL = """
      SELECT doc_id,
             array_to_string(string_split(text, ' ')[1:20], ' ') AS text
      FROM documents WHERE doc_id % 17 = 0
"""


@register(
    "decontaminate_eval_overlap",
    oracle=f"""
    WITH ev AS ({_EVAL_SLICE_SQL}),
    evt AS (SELECT string_split(trim(lower(text)), ' ') AS toks FROM ev),
    evg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM evt
    ),
    ct AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
           FROM documents),
    cg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM ct
    )
    SELECT cg.doc_id, COUNT(DISTINCT cg.g) AS n_hits
    FROM cg JOIN evg ON cg.g = evg.g
    GROUP BY cg.doc_id
    """,
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (`operators/text_analysis.py:
    decontaminate`; the GPT-3/Pile 13-gram rule): corpus docs sharing a
    13-gram with the eval set, with distinct-hit counts. The eval set is
    each %17 doc's first 20 tokens, so those docs are planted
    contamination (8 shared grams each). Eval grams broadcast; corpus
    text never shuffles — only 8-byte hashes move. The oracle counts the
    gram STRINGS (the operator counts xxhash64 of them — identical
    unless the hash collides within one doc's overlap set, P ≈ 1e-8
    here; see module docstring)."""
    docs = load_tables(spark, sf_dir)["documents"]
    evals = (docs.filter(F.col("doc_id") % 17 == 0)
             .select("doc_id",
                     F.concat_ws(" ", F.slice(F.split(F.col("text"), " "),
                                              1, 20)).alias("text")))
    return TA.decontaminate(docs, evals, n=13)


@register(
    "decontaminate_spans",
    oracle=f"""
    WITH ev AS ({_EVAL_SLICE_SQL}),
    evt AS (SELECT string_split(trim(lower(text)), ' ') AS toks FROM ev),
    evg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS gram
      FROM evt
    ),
    ct AS (SELECT doc_id, string_split(trim(text), ' ') AS toks,
                  string_split(trim(lower(text)), ' ') AS ltoks
           FROM documents),
    cg AS (
      SELECT doc_id, len(toks) AS n_toks,
             u['pos'] AS pos, u['gram'] AS gram
      FROM (
        SELECT doc_id, toks,
               unnest(list_transform(
                   range(1, greatest(len(ltoks) - 12, 1) + 1),
                   i -> {{'pos': i - 1,
                         'gram': array_to_string(
                             ltoks[i:least(i + 12, len(ltoks))], ' ')}}))
                 AS u
        FROM ct)
    ),
    covered AS (
      SELECT DISTINCT cg.doc_id,
             unnest(range(pos, least(pos + 13, n_toks))) AS tpos
      FROM cg JOIN evg ON cg.gram = evg.gram
    ),
    tok_rows AS (
      SELECT doc_id, u['tpos'] AS tpos, u['tok'] AS tok FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
               i -> {{'tpos': i - 1, 'tok': toks[i]}})) AS u
        FROM ct)
    ),
    kept AS (
      SELECT t.doc_id, t.tpos, t.tok FROM tok_rows t
      LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.tpos = t.tpos
      WHERE c.doc_id IS NULL
    ),
    rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS t
                FROM kept GROUP BY doc_id),
    removed AS (SELECT doc_id, COUNT(*) AS r FROM covered GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(rb.t, '') AS text,
           COALESCE(rm.r, 0)::BIGINT AS n_removed
    FROM documents d
    LEFT JOIN rebuilt rb ON rb.doc_id = d.doc_id
    LEFT JOIN removed rm ON rm.doc_id = d.doc_id
    """,
)
def decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (`operators/text_analysis.py:
    remove_contaminated_spans`): rather than dropping a contaminated
    doc, cut exactly the tokens covered by an eval-matching 13-gram and
    keep the rest — the trim-the-leak policy used when whole-doc drops
    cost too much volume. Same planted eval set as
    `decontaminate_eval_overlap` (each %17 doc's first 20 tokens →
    those docs lose their first 20 tokens and keep their tails). Eval
    grams broadcast; detection never shuffles corpus text; one
    groupBy rebuild. Spark compares grams by string; the oracle
    replays positions and coverage exactly."""
    docs = load_tables(spark, sf_dir)["documents"]
    evals = (docs.filter(F.col("doc_id") % 17 == 0)
             .select("doc_id",
                     F.concat_ws(" ", F.slice(F.split(F.col("text"), " "),
                                              1, 20)).alias("text")))
    return TA.remove_contaminated_spans(
        docs.select("doc_id", "text"), evals, n=13)


# --- C4 global line dedup -----------------------------------------------------

_LINED_SQL = """
      SELECT doc_id,
             text || chr(10) || 'shared boilerplate footer' || chr(10)
                  || 'group line ' || (doc_id % 5)::VARCHAR AS text
      FROM documents
"""


@register(
    "global_line_dedup",
    oracle=f"""
    WITH docs2 AS ({_LINED_SQL}),
    ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM docs2),
    flat AS (
      SELECT doc_id, u['pos'] AS pos, u['line'] AS line FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(arr) + 1),
                   i -> {{'pos': i, 'line': arr[i]}})) AS u
        FROM ls)
    ),
    stats AS (
      SELECT line, MIN(doc_id * 1000000 + pos) AS fk
      FROM flat WHERE NOT regexp_matches(line, '^\\s*$')
      GROUP BY line
    ),
    kept AS (
      SELECT f.doc_id, f.pos, f.line
      FROM flat f JOIN stats s
        ON f.line = s.line AND f.doc_id * 1000000 + f.pos = s.fk
      UNION ALL
      SELECT doc_id, pos, line FROM flat
      WHERE regexp_matches(line, '^\\s*$')
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS t
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.t, '') AS text
    FROM docs2 d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def global_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's corpus-wide line dedup (`operators/text_analysis.py:
    global_line_dedup`, keep_first): a line surviving only at its first
    (doc, pos) occurrence, docs reassembled in line order. Every doc
    carries a shared boilerplate footer (survives once, in doc 0) and a
    mod-5 group line (survives in the min doc of its class). Shape:
    groupBy(line) min/count with map-side combine — the skew-safe shape
    a window over the line key would not have; equality on line VALUES,
    never hash alone."""
    docs = load_tables(spark, sf_dir)["documents"]
    lined = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit("\nshared boilerplate footer\ngroup line "),
                 (F.col("doc_id") % 5).cast("string")).alias("text"))
    return TA.global_line_dedup(lined, keep_first=True)


# --- source mixing ------------------------------------------------------------

_MIX_SOURCES = ("src0", "src1", "src2")
_MIX_WEIGHTS = {"src0": 1.0, "src1": 2.0, "src2": 4.0}
_MIX_TARGET = 600


def _mix_sql() -> str:
    total_w = sum(_MIX_WEIGHTS.values())
    want = " ".join(
        f"WHEN '{s}' THEN {_MIX_TARGET * _MIX_WEIGHTS[s] / total_w}"
        for s in _MIX_SOURCES)
    src_list = ", ".join(f"'{s}'" for s in _MIX_SOURCES)
    return f"""
    WITH have AS (
      SELECT source, SUM(len(string_split(text, ' '))) AS h
      FROM documents WHERE source IN ({src_list})
      GROUP BY source
    ),
    thr AS (
      SELECT source,
             CASE WHEN h = 0 THEN 0
                  ELSE greatest(CAST(floor(least(1.0,
                       (CASE source {want} END) / h) * 1048576) AS BIGINT),
                       1) END AS t
      FROM have
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr ON d.source = thr.source
    WHERE ('0x' || substr(md5('mix|' || d.source || '|'
                              || d.doc_id::VARCHAR), 1, 8))::BIGINT
          % 1048576 < thr.t
    """


@register("mix_sources", oracle=_mix_sql())
def mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source mixing to a token budget (`operators/
    text_analysis.py:mix_sources`; the Pile recipe): 3 sources at weights
    1:2:4 sampled doc-wise by a deterministic md5 gate (hash_mode='md5'
    so the oracle replays the gate; the default xxhash64 mode is the
    production fast path). All sizing aggregates run as ONE Spark job;
    the sample filters are narrow — no shuffle, no collect beyond k
    scalars."""
    docs = load_tables(spark, sf_dir)["documents"]
    sources = {s: docs.filter(F.col("source") == s).drop("source")
               for s in _MIX_SOURCES}
    mixed, _plan = TA.mix_sources(
        sources, _MIX_WEIGHTS, target_tokens=_MIX_TARGET,
        hash_mode="md5")
    return mixed.select("doc_id", "source")


# --- composed corpus dedup ----------------------------------------------------

_SFX = " zz extra trailing tokens"
_TAIL2 = " yy more tail tokens"

# exact copies (+100000), first-generation near-dups (+200000) and
# second-generation near-dups (+300000) so all three reason labels and a
# multi-hop CC chain occur
_DCORPUS_SQL = f"""
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 200000, text || '{_SFX}' FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 300000, text || '{_SFX}' || '{_TAIL2}'
      FROM documents WHERE doc_id % 4 = 0
"""

_FP_SQL = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


def _dedup_corpus_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    ex = (docs.filter(F.col("doc_id") % 2 == 0)
          .select((F.col("doc_id") + 100000).alias("doc_id"), "text"))
    m1 = (docs.filter(F.col("doc_id") % 2 == 0)
          .select((F.col("doc_id") + 200000).alias("doc_id"),
                  F.concat("text", F.lit(_SFX)).alias("text")))
    m2 = (docs.filter(F.col("doc_id") % 4 == 0)
          .select((F.col("doc_id") + 300000).alias("doc_id"),
                  F.concat("text", F.lit(_SFX), F.lit(_TAIL2))
                   .alias("text")))
    return docs.unionByName(ex).unionByName(m1).unionByName(m2)


def _dedup_corpus_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _minhash_ctes

    reps = ("corpus AS (SELECT fp.doc_id, fp.text FROM fp "
            "JOIN grp ON fp.doc_id = grp.exact_rep)")
    return f"""
    WITH RECURSIVE allc AS ({_DCORPUS_SQL}),
    fp AS (SELECT doc_id, text, {_FP_SQL} AS f FROM allc),
    grp AS (SELECT f, MIN(doc_id) AS exact_rep FROM fp GROUP BY f),
    doc_rep AS (SELECT fp.doc_id, grp.exact_rep FROM fp
                JOIN grp USING (f)),{_minhash_ctes(reps)},
    pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT u, v FROM edges
              UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS component
             FROM reach GROUP BY u),
    rep_surv AS (
      SELECT g.exact_rep, COALESCE(c.component, g.exact_rep) AS survivor
      FROM (SELECT DISTINCT exact_rep FROM grp) g
      LEFT JOIN comp c ON c.doc_id = g.exact_rep
    )
    SELECT dr.doc_id, rs.survivor,
           CASE WHEN dr.doc_id = rs.survivor THEN 'kept'
                WHEN dr.doc_id = dr.exact_rep THEN 'near_dup'
                ELSE 'exact_dup' END AS reason
    FROM doc_rep dr JOIN rep_surv rs USING (exact_rep)
    """


@register("dedup_corpus", oracle=_dedup_corpus_sql())
def dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed dedup flow a corpus owner actually runs
    (`operators/dedup.py:dedup_corpus`): exact collapse → minhash-LSH
    pairs among exact survivors → connected components → min-id survivor,
    one labeled row per input doc (kept / exact_dup / near_dup). The
    planted corpus has exact copies, first- and second-generation
    near-dups, so components chain multi-hop and every label occurs. The
    oracle replays exact grouping + the md5 minhash pipeline + recursive
    transitive closure. Exact-first ordering is the scale win: boilerplate
    storms collapse before they can flood LSH band buckets."""
    return D.dedup_corpus(_dedup_corpus_df(spark, sf_dir), "text",
                          threshold=0.5)


@register(
    "dedup_merge_survivors",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN NULL ELSE lang END AS lang,
             source
      FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, lang, 'mirror'
      FROM documents WHERE doc_id % 2 = 0
    ),
    fp AS (SELECT *, {_FP_SQL} AS f FROM corpus),
    grp AS (SELECT f, MIN(doc_id) AS survivor FROM fp GROUP BY f),
    j AS (
      SELECT fp.*, grp.survivor,
             (CASE WHEN fp.doc_id = grp.survivor THEN 1 ELSE 0 END)
               * 1000000000 + fp.doc_id AS rnk
      FROM fp JOIN grp USING (f)
    )
    SELECT survivor AS doc_id,
           arg_max(text, rnk) AS text,
           arg_max(lang, CASE WHEN lang IS NOT NULL THEN rnk END) AS lang,
           arg_max(source, rnk) AS source
    FROM j GROUP BY survivor
    """,
)
def dedup_merge_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor merge (`operators/dedup.py:merge_duplicates`): collapse a
    corpus onto its exact-dedup survivors with per-FIELD survivorship —
    the survivor's own values dominate, and ``first_non_null`` columns
    (here ``lang``, nulled for every %3 base doc) backfill from the
    highest-ranked non-null duplicate (the 'mirror' copies). One
    groupBy(survivor) shuffle, max_by keeps the merge in codegen; the
    deterministic (is_survivor, order, id) rank means task retries can't
    flip a winner. The oracle encodes the same rank as a scalar and uses
    arg_max (null-ranks excluded on both engines)."""
    from dig_etl_engine_spark.operators.text_analysis import fingerprint_md5

    docs = load_tables(spark, sf_dir)["documents"]
    base = docs.select(
        "doc_id", "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None))
         .otherwise(F.col("lang")).alias("lang"),
        "source")
    mut = (docs.filter(F.col("doc_id") % 2 == 0)
           .select((F.col("doc_id") + 100000).alias("doc_id"), "text",
                   "lang", F.lit("mirror").alias("source")))
    corpus = base.unionByName(mut)
    fp = corpus.select("doc_id", fingerprint_md5(F.col("text")).alias("f"))
    grp = fp.groupBy("f").agg(F.min("doc_id").alias("survivor"))
    assignment = fp.join(grp, "f").select("doc_id", "survivor")
    return D.merge_duplicates(corpus, assignment,
                              first_non_null=("lang",))


def _incr_minhash_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _minhash_ctes

    union = f"""
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000, text || '{_SFX}' FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 200000, text || '{_SFX}' || '{_TAIL2}'
      FROM documents WHERE doc_id % 4 = 0
    )"""
    return ("WITH " + _minhash_ctes(union) + """
    SELECT CASE WHEN doc_a < 100000 THEN doc_b ELSE doc_a END AS doc_a,
           CASE WHEN doc_a < 100000 THEN doc_a ELSE doc_b END AS doc_b,
           jaccard,
           CASE WHEN doc_a < 100000 THEN 'corpus' ELSE 'batch' END
             AS origin
    FROM verified
    WHERE jaccard >= 0.5 AND doc_b >= 100000
    """)


@register("incremental_minhash_dedup", oracle=_incr_minhash_sql())
def incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steady-state batch dedup against a persisted minhash index
    (`operators/dedup.py:incremental_minhash_dedup` +
    `materialize_minhash_index`): the corpus (documents) is indexed once
    — band-clustered (id, band) rows + shingle arrays + persisted build
    params under a content-keyed scratch path — and the daily batch
    (near-dup mutants, two generations for batch-internal pairs) dedups
    against corpus AND itself in O(batch), the corpus touched only
    through the band-bucket join. ``append=False`` keeps the query a
    pure read (re-runs identical). The oracle is the FULL-RERUN
    EQUIVALENCE contract: a complete minhash pass over corpus ∪ batch,
    restricted to batch-involving pairs and oriented batch-first — the
    same shape `test_incremental_dedup.py` pins."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    path = _build_once(
        _scratch_path(sf_dir, "mh_index"),
        lambda p: D.materialize_minhash_index(docs, "text", p))
    b1 = (docs.filter(F.col("doc_id") % 2 == 0)
          .select((F.col("doc_id") + 100000).alias("doc_id"),
                  F.concat("text", F.lit(_SFX)).alias("text")))
    b2 = (docs.filter(F.col("doc_id") % 4 == 0)
          .select((F.col("doc_id") + 200000).alias("doc_id"),
                  F.concat("text", F.lit(_SFX), F.lit(_TAIL2))
                   .alias("text")))
    return D.incremental_minhash_dedup(
        b1.unionByName(b2), path, content_col="text",
        threshold=0.5, append=False)


# --- paragraph dedup, corpus n-gram profile, TF-IDF keywords ------------------

_PARA_SQL = """
      SELECT doc_id,
             text || chr(10) || chr(10)
                  || 'shared promo paragraph' || chr(10) || 'second promo line'
                  || chr(10) || chr(10)
                  || 'group para ' || (doc_id % 7)::VARCHAR AS text
      FROM documents
"""


@register(
    "paragraph_dedup",
    oracle=f"""
    WITH docs2 AS ({_PARA_SQL}),
    ls AS (SELECT doc_id,
                  string_split(text, chr(10) || chr(10)) AS arr
           FROM docs2),
    flat AS (
      SELECT doc_id, u['pos'] AS pos, u['line'] AS line FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(arr) + 1),
                   i -> {{'pos': i, 'line': arr[i]}})) AS u
        FROM ls)
    ),
    stats AS (
      SELECT line, MIN(doc_id * 1000000 + pos) AS fk
      FROM flat WHERE NOT regexp_matches(line, '^\\s*$')
      GROUP BY line
    ),
    kept AS (
      SELECT f.doc_id, f.pos, f.line
      FROM flat f JOIN stats s
        ON f.line = s.line AND f.doc_id * 1000000 + f.pos = s.fk
      UNION ALL
      SELECT doc_id, pos, line FROM flat
      WHERE regexp_matches(line, '^\\s*$')
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(line, chr(10) || chr(10) ORDER BY pos) AS t
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id, COALESCE(r.t, '') AS text
    FROM docs2 d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PARAGRAPH dedup (`operators/text_analysis.py:
    global_line_dedup` with ``sep='\\n\\n'``): whole repeated blocks — a
    promo paragraph whose internal lines differ across pages — survive
    only at their first occurrence. The planted paragraph contains an
    internal newline, proving the granularity is the block, not the
    line. Same map-side-combined groupBy(paragraph) shape as the line
    rule."""
    docs = load_tables(spark, sf_dir)["documents"]
    lined = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit("\n\nshared promo paragraph\nsecond promo line"
                       "\n\ngroup para "),
                 (F.col("doc_id") % 7).cast("string")).alias("text"))
    return TA.global_line_dedup(lined, keep_first=True, sep="\n\n")


@register(
    "top_ngrams",
    oracle="""
    WITH t AS (SELECT string_split(lower(text), ' ') AS toks
               FROM documents),
    g AS (
      SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 2, len(toks))], ' ')))
               AS gram
      FROM t
    )
    SELECT gram, COUNT(*) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram ASC LIMIT 20
    """,
)
def top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 trigram profile (`operators/text_analysis.py:
    top_ngrams`): the boilerplate-discovery report run before choosing
    dedup/filter thresholds. Map-side-combined gram counts; the global
    top-k executes as TakeOrderedAndProject (per-partition top-k + k-row
    driver merge), never a single-partition sort."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.top_ngrams(docs, n=3, k=20)


@register(
    "tfidf_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(trim(lower(text)), ' ')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf
           FROM tok GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             CAST(floor(tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0))
                                 + 1.0) * 1000000.0 + 0.5) AS BIGINT)
               AS tfidf_e6
      FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
    )
    SELECT doc_id, token, tfidf_e6, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY tfidf_e6 DESC, token ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-5 smoothed TF-IDF keywords (`operators/
    text_analysis.py:tfidf_keywords`): the model-free doc-summary /
    routing signal. tf and df reduce the same exploded table; N is a
    broadcast 1-row aggregate; scores quantize to 1e-6-scaled BIGINTs
    BEFORE ranking (the explicit floor(score·1e6 + 0.5) tree in both
    engines — continuous-round lint, r8) so cross-engine ln() noise
    can't flip a boundary tie and no engine round() touches the
    hashed surface."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.tfidf_keywords(docs, k=5)


# --- corpus cardinality profile -----------------------------------------------


@register(
    "corpus_cardinality_profile",
    oracle="""
    WITH tok AS (
      SELECT source, doc_id,
             unnest(string_split(trim(lower(text)), ' ')) AS t
      FROM documents
    )
    SELECT source,
           COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
           COUNT(t)::BIGINT AS n_tokens,
           COUNT(DISTINCT t)::BIGINT AS n_distinct_tokens
    FROM tok GROUP BY source
    """,
)
def corpus_cardinality_profile(spark: SparkSession, sf_dir: str
                               ) -> DataFrame:
    """Per-source corpus cardinality report: docs, tokens, distinct
    tokens — the sizing numbers every mix/dedup decision starts from.
    This registered variant uses EXACT distinct counts so the driver can
    hash-check it; at 100 TB swap `count_distinct` for
    `approx_count_distinct` (HLL, one pass, no distinct shuffle) — the
    sketch path's error bound is pinned by
    `test_corpus_profiling.py:test_approx_cardinality_close_to_exact`."""
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(
        "source", "doc_id",
        F.explode(F.split(F.trim(safe_lower(F.col("text"))),
                          r"\s+")).alias("t"))
    return (tok.groupBy("source")
            .agg(F.count_distinct("doc_id").alias("n_docs"),
                 F.count("t").alias("n_tokens"),
                 F.count_distinct("t").alias("n_distinct_tokens")))


# --- weighted sampling --------------------------------------------------------


@register(
    "weighted_sample",
    oracle="""
    WITH pr AS (
      SELECT doc_id, source, n_chars,
             CAST(floor(-ln((('0x' || substr(md5('ws|' || doc_id::VARCHAR),
                                             1, 8))::BIGINT + 1.0)
                            / (4294967296.0 + 1.0))
                        / n_chars * 1000000000.0 + 0.5) AS BIGINT)
               AS priority_e9
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, priority_e9
    FROM pr ORDER BY priority_e9 ASC, doc_id ASC LIMIT 50
    """,
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (`operators/text_analysis.py:weighted_sample`; Efraimidis–Spirakis
    A-ES): 50 docs drawn with inclusion probability ∝ n_chars via
    md5-derived exponential priorities — the quality/length-weighted
    corpus sampling primitive, reproducible across runs, engines and
    partitionings. TakeOrderedAndProject top-k, no global sort; the
    oracle replays the priority formula (quantized to a 1e-9-scaled
    BIGINT before ranking via the shared floor tree — the k-boundary
    margins are ~1/n, far above cross-engine ln() noise, and no engine
    round() touches the hashed surface; continuous-round lint, r8)."""
    docs = load_tables(spark, sf_dir)["documents"] \
        .select("doc_id", "source", "n_chars")
    return TA.weighted_sample(docs, 50, weight_col="n_chars")


# --- sentiment scoring --------------------------------------------------------


def _sentiment_sql() -> str:
    from dig_etl_engine_spark.operators.text_analysis import (
        SENTIMENT_VALENCE)

    values = ", ".join(f"('{w}', {v})"
                       for w, v in SENTIMENT_VALENCE.items())
    return f"""
    WITH lex(tok, valence) AS (VALUES {values}),
    toks AS (
      SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS tok
      FROM documents
    ),
    scored AS (
      SELECT t.doc_id, COUNT(*)::BIGINT AS n_tokens,
             SUM(COALESCE(l.valence, 0))::BIGINT AS sent_sum
      FROM toks t LEFT JOIN lex l ON t.tok = l.tok
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens, sent_sum,
           ROUND(sent_sum / greatest(n_tokens, 1), 6) AS sentiment,
           CASE WHEN ROUND(sent_sum / greatest(n_tokens, 1), 6) > 0.05
                THEN 'pos'
                WHEN ROUND(sent_sum / greatest(n_tokens, 1), 6) < -0.05
                THEN 'neg' ELSE 'neu' END AS label
    FROM scored
    """


@register("sentiment_score", oracle=_sentiment_sql())
def sentiment_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-valence sentiment scoring (`operators/text_analysis.py:
    sentiment_scores`; the AFINN recipe — closes the 'sentiment as
    column fns' item from the original blueprint, SURVEY §7.1). The
    corpus vocabulary carries real valence (fast/slow/big/small), so
    labels split non-trivially. Broadcast lexicon join + one map-side-
    combined rollup; the oracle replays the lexicon as VALUES."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.sentiment_scores(docs)


# --- vocabulary coverage + numeric profile ------------------------------------


@register(
    "vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS t
      FROM documents
    ),
    vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(*) AS n FROM tok GROUP BY t
        ORDER BY n DESC, t ASC LIMIT 16)
    ),
    oov AS (
      SELECT tok.doc_id, COUNT(*) AS n_oov
      FROM tok LEFT JOIN vocab ON tok.t = vocab.t
      WHERE vocab.t IS NULL GROUP BY tok.doc_id
    ),
    tot AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id)
    SELECT tot.doc_id, tot.n_tokens,
           COALESCE(oov.n_oov, 0) AS n_oov,
           ROUND(COALESCE(oov.n_oov, 0)
                 / greatest(tot.n_tokens, 1), 6) AS oov_rate
    FROM tot LEFT JOIN oov ON oov.doc_id = tot.doc_id
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fit / OOV profiling (`operators/text_analysis.py:
    vocab_coverage`): per-doc fraction of tokens outside the corpus's
    own top-16 vocabulary (16, not the usual tens of thousands, because
    the synthetic corpus has a tiny vocabulary — the shape is what
    scales). Vocab = deterministic top-k (count desc, token asc),
    broadcast; corpus explodes once, anti-joins per token, one rollup."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.vocab_coverage(docs, vocab_size=16)


@register(
    "numeric_profile_events",
    oracle=f"""
    SELECT event_type,
           COUNT(*)::BIGINT AS n,
           ROUND(MIN(value), 6) AS min_v,
           ROUND(MAX(value), 6) AS max_v,
           {sql_round_fixed(f"SUM({sql_fixed('value', 2)})", 2, 6,
                            "COUNT(*)")} AS mean_v,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """,
)
def numeric_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric data-quality profile over the event stream: count /
    min / max / mean / EXACT p50 + p95 per event type — the
    distribution report that catches unit regressions and outlier
    storms before training consumes the data. Spark's exact
    `percentile` and DuckDB's `quantile_cont` share the linear-
    interpolation definition, so the driver hash-checks the quantiles
    bit-for-bit (after the registry's round-6 convention; interpolated
    values over 2-decimal inputs carry ≤4 decimals — never a round-6
    boundary). The mean aggregates exact cents + integer rounding
    (wobble lint — a float AVG's group means are rationals ON round
    boundaries). At 100 TB swap `percentile` for `percentile_approx` —
    same plan shape, one pass, bounded sketch memory."""
    events = load_tables(spark, sf_dir)["events"]
    return (events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.min("value"), 6).alias("min_v"),
                 F.round(F.max("value"), 6).alias("max_v"),
                 F.sum(fixed(F.col("value"), 2)).alias("_s"),
                 F.round(F.percentile("value", F.lit(0.5)), 6)
                  .alias("p50"),
                 F.round(F.percentile("value", F.lit(0.95)), 6)
                  .alias("p95"))
            .withColumn("mean_v", round_fixed(F.col("_s"), 2, 6,
                                              F.col("n")))
            .drop("_s")
            .select("event_type", "n", "min_v", "max_v", "mean_v",
                    "p50", "p95"))


# --- corpus snapshot diff -----------------------------------------------------


@register(
    "corpus_diff",
    oracle=f"""
    WITH oldv AS (SELECT doc_id, {_FP_SQL} AS f FROM documents),
    newv AS (
      SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN md5(trim(regexp_replace(
                       lower(text || ' revised edition'),
                       '\\s+', ' ', 'g')))
                  ELSE {_FP_SQL} END AS f
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 100000, {_FP_SQL} FROM documents
      WHERE doc_id % 11 = 0
    )
    SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.f IS NULL THEN 'added'
                WHEN n.f IS NULL THEN 'removed'
                WHEN o.f <> n.f THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
    """,
)
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (`operators/text_analysis.py:corpus_diff`):
    old = documents; new = documents minus every %7 doc (removed), with
    every remaining %5 doc's text revised (changed) and %11 mirror docs
    appended (added). Each side reduces to (id, fingerprint) — no text
    moves — and ONE full-outer hash join labels every id; the audit that
    sizes incremental re-tokenization work."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    new = (docs.filter(F.col("doc_id") % 7 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 5 == 0,
                          F.concat("text", F.lit(" revised edition")))
                    .otherwise(F.col("text")).alias("text"))
           .unionByName(
               docs.filter(F.col("doc_id") % 11 == 0)
               .select((F.col("doc_id") + 100000).alias("doc_id"),
                       "text")))
    return TA.corpus_diff(docs, new)


# --- n-gram LM perplexity scoring ---------------------------------------------

# The trigram-LM scoring chain (reference = even-id docs, add-0.1
# smoothing), shared by the per-doc score oracle and the CCNet bucket
# oracle below: ends with per-doc (doc_id, n_trigrams, avg_neg_logp).
_LM_DOC_SCORES_CTES = """
    reft AS (
      SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
      FROM documents WHERE doc_id % 2 = 0
    ),
    rt AS (
      SELECT u['ctx'] AS ctx, u['w'] AS w FROM (
        SELECT unnest(list_transform(range(1, len(toks) - 1),
            i -> {'ctx': toks[i] || ' ' || toks[i + 1],
                  'w': toks[i + 2]})) AS u
        FROM reft WHERE len(toks) >= 3)
    ),
    c3 AS (SELECT ctx, w, COUNT(*) AS c3 FROM rt GROUP BY ctx, w),
    c2 AS (SELECT ctx, SUM(c3) AS c2 FROM c3 GROUP BY ctx),
    v AS (SELECT COUNT(DISTINCT tok) AS v FROM (
            SELECT unnest(toks) AS tok FROM reft)),
    allt AS (
      SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
      FROM documents
    ),
    st AS (
      SELECT doc_id, u['ctx'] AS ctx, u['w'] AS w FROM (
        SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
            i -> {'ctx': toks[i] || ' ' || toks[i + 1],
                  'w': toks[i + 2]})) AS u
        FROM allt WHERE len(toks) >= 3)
    ),
    lm_scored AS (
      SELECT st.doc_id,
             -ln((COALESCE(c3.c3, 0) + 0.1)
                 / (COALESCE(c2.c2, 0) + 0.1 * v.v)) AS nlp
      FROM st
      LEFT JOIN c3 ON st.ctx = c3.ctx AND st.w = c3.w
      LEFT JOIN c2 ON st.ctx = c2.ctx
      CROSS JOIN v
    ),
    doc_scores AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams,
             (CAST((CASE WHEN (SUM(CAST(floor((nlp) * 1000000000 + 0.5) AS BIGINT))) < 0 THEN -((2 * abs((SUM(CAST(floor((nlp) * 1000000000 + 0.5) AS BIGINT)))) + (1000 * (COUNT(*)))) // (2 * (1000 * (COUNT(*))))) ELSE ((2 * abs((SUM(CAST(floor((nlp) * 1000000000 + 0.5) AS BIGINT)))) + (1000 * (COUNT(*)))) // (2 * (1000 * (COUNT(*))))) END) AS DOUBLE) / 1000000.0) AS avg_neg_logp
      FROM lm_scored GROUP BY doc_id
    )"""


@register(
    "ngram_lm_perplexity",
    oracle=f"""
    WITH {_LM_DOC_SCORES_CTES}
    SELECT doc_id, n_trigrams, avg_neg_logp FROM doc_scores
    """,
)
def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (`operators/text_analysis.py:
    ngram_lm_scores`; Wenzek et al. 2020): every doc scored by mean
    trigram negative log-prob under an add-0.1-smoothed trigram LM
    trained on the even-id half of the corpus (the 'trusted reference'
    split). Pure distributed counting + one trigram-keyed join — no
    Python, no driver state; the oracle replays the counts, smoothing
    and ln() with round-6 (cross-engine libm noise is ~1e-15)."""
    docs = load_tables(spark, sf_dir)["documents"]
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    return TA.ngram_lm_scores(docs, ref, k_smooth=0.1)


# --- approximate ExactSubstr: repeated-window dedup ---------------------------

_BOILER = ("call now to subscribe and unlock every premium article today "
           "for free")


@register(
    "repeated_window_dedup",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN doc_id % 6 = 0 THEN text || ' {_BOILER}'
                  ELSE text END AS text
      FROM documents
    ),
    t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM g),
    wins AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 9, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 9, len(toks))], ' ')))
               AS win
      FROM t
    ),
    local AS (SELECT doc_id, win, COUNT(*) AS c_local
              FROM wins GROUP BY doc_id, win),
    gw AS (SELECT win, SUM(c_local) AS n_global
           FROM local GROUP BY win)
    SELECT l.doc_id,
           SUM(c_local)::BIGINT AS n_windows,
           SUM(CASE WHEN n_global > 1 THEN c_local ELSE 0 END)::BIGINT
             AS n_repeated,
           ROUND(SUM(CASE WHEN n_global > 1 THEN c_local ELSE 0 END)
                 / greatest(SUM(c_local), 1), 6) AS repeated_fraction,
           (ROUND(SUM(CASE WHEN n_global > 1 THEN c_local ELSE 0 END)
                  / greatest(SUM(c_local), 1), 6) >= 0.05) AS flagged
    FROM local l JOIN gw USING (win)
    GROUP BY l.doc_id
    """,
)
def repeated_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ExactSubstr dedup (`operators/text_analysis.py:
    repeated_window_flags`; Lee et al. 2022): per-doc fraction of
    10-token windows repeated anywhere in the corpus. A 12-token
    boilerplate sentence planted on every %6 doc makes its interior
    windows corpus-wide repeats; the count shuffle carries 128-bit md5
    digests (collision P ≈ n²/2¹²⁸ — perturbs a fraction signal only;
    the oracle's string equality is identical absent collisions). One
    map-side-combined window count + equi-join back — the suffix-array
    algorithm's practical distributed substitute."""
    docs = load_tables(spark, sf_dir)["documents"]
    g = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 6 == 0,
               F.concat(F.col("text"), F.lit(" " + _BOILER)))
         .otherwise(F.col("text")).alias("text"))
    return TA.repeated_window_flags(g, w=10, flag_fraction=0.05)


def _dedup_report_sql() -> str:
    labels = _dedup_corpus_sql()
    # reuse the labeling oracle verbatim as a CTE and roll it up
    return f"""
    WITH labels AS ({labels})
    SELECT reason, COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT survivor)::BIGINT AS n_groups,
           ROUND(COUNT(*) / (SELECT COUNT(*) FROM labels), 6) AS fraction
    FROM labels GROUP BY reason
    """


@register("dedup_report", oracle=_dedup_report_sql())
def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup run report a corpus owner reads before committing a
    delete: per-reason doc counts, group counts and corpus fraction from
    `dedup_corpus` labels (kept = post-dedup size; exact_dup + near_dup
    = the reduction). One tiny aggregate over the labeling output; the
    oracle recomputes the full labeling chain and the same rollup."""
    from pyspark.sql import Window as W

    labels = D.dedup_corpus(_dedup_corpus_df(spark, sf_dir), "text",
                            threshold=0.5)
    agg = labels.groupBy("reason").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("survivor").alias("n_groups"))
    # total via a window over the (3-row) aggregate — one execution of
    # the labeling chain, no separate count() action re-running it
    total = F.sum("n_docs").over(W.partitionBy(F.lit(1)))
    return agg.withColumn("fraction",
                          F.round(F.col("n_docs") / total, 6))


# --- fuzzy (minhash) decontamination ------------------------------------------

_FUZZY_EVAL_SFX = " eval probe tokens"


def _fuzzy_decon_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _minhash_ctes

    union = f"""
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 500000, text || '{_FUZZY_EVAL_SFX}' FROM documents
      WHERE doc_id % 13 = 0
    )"""
    return ("WITH " + _minhash_ctes(union) + """
    SELECT doc_a AS doc_id, doc_b AS eval_id, jaccard
    FROM verified
    WHERE jaccard >= 0.5 AND doc_a < 500000 AND doc_b >= 500000
    """)


@register("fuzzy_decontaminate", oracle=_fuzzy_decon_sql())
def fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (`operators/dedup.py:
    minhash_decontaminate`): corpus docs minhash-near-duplicate to an
    eval doc — the paraphrased leakage the exact 13-gram rule misses;
    real pipelines run both. Eval set = near-copies of every %13 doc
    (suffix-perturbed, ids offset to 500000+). The eval band table and
    shingles BROADCAST; the corpus never shuffles. Oracle = the full
    corpus∪eval minhash self-join restricted to cross pairs — the same
    candidate set by construction."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    evals = (docs.filter(F.col("doc_id") % 13 == 0)
             .select((F.col("doc_id") + 500000).alias("doc_id"),
                     F.concat("text", F.lit(_FUZZY_EVAL_SFX))
                      .alias("text")))
    return D.minhash_decontaminate(docs, evals, threshold=0.5)


# --- the full RAG-prep pipeline, composed -------------------------------------


def _rag_sql(dim: int = 16) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN h = {i} THEN 1.0 ELSE 0.0 END) AS d{i}"
        for i in range(dim))
    norm = " + ".join(f"d{i} * d{i}" for i in range(dim))
    arr = ", ".join(f"CAST(d{i} / nn AS REAL)" for i in range(dim))
    return f"""
    WITH t AS (
      SELECT doc_id, string_split(trim(text), ' ') AS toks,
             len(string_split(trim(text), ' ')) AS n
      FROM documents
    ),
    ch AS (
      SELECT doc_id * 100 + chunk_id AS cid,
             array_to_string(toks[chunk_id * 24 + 1 :
                                  least(chunk_id * 24 + 32, n)], ' ')
               AS chunk_text
      FROM (
        SELECT doc_id, toks, n,
               unnest(range(0, greatest(CAST(ceil((n - 8) / 24.0)
                                             AS BIGINT), 1))) AS chunk_id
        FROM t)
    ),
    tok AS (
      SELECT cid, unnest(string_split(trim(lower(chunk_text)), ' ')) AS tk
      FROM ch
    ),
    hashed AS (
      SELECT cid, ('0x' || substr(md5(tk), 1, 8))::BIGINT % {dim} AS h
      FROM tok
    ),
    sums AS (SELECT cid, {sums} FROM hashed GROUP BY cid),
    vecs AS (
      SELECT cid, [{arr}] AS v
      FROM (SELECT *, sqrt({norm}) AS nn FROM sums)
    ),
    scored AS (
      SELECT q.cid AS query_cid, c.cid AS neighbor_cid,
             CAST(floor(list_cosine_similarity(q.v::DOUBLE[], c.v::DOUBLE[])
                        * 10000.0 + 0.5) AS BIGINT)
               AS cosine_e4
      FROM vecs q JOIN vecs c ON q.cid <> c.cid
      WHERE q.cid // 100 % 100 = 0
    )
    SELECT query_cid, neighbor_cid, cosine_e4, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_cid
                 ORDER BY cosine_e4 DESC, neighbor_cid ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@register("rag_pipeline_full", oracle=_rag_sql())
def rag_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed RAG-prep identity query, mirroring
    `test_golden_rag_prep.py` under the driver's hash gate: documents →
    overlapping 32/8 token chunks (`chunk_documents`) → per-chunk
    hashed-BoW embeddings (`hashed_bow_embedding`, md5 mode — bitwise-
    stable float32) → exact cosine top-3 neighbors for every chunk of
    the %100 query docs (`knn_bruteforce`). Chunk ids pack as
    doc_id·100 + chunk_id. Each stage keeps its operator's scale shape:
    narrow chunk explode, one-shuffle featurizer, corpus-streaming
    Arrow-BLAS scoring with per-batch top-k. Scores emit as 1e-4-scaled
    BIGINTs via the shared ``floor(cos·1e4 + 0.5)`` tree
    (continuous-round lint, r9)."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    chunks = TA.chunk_documents(docs, chunk_tokens=32, overlap=8) \
        .select((F.col("doc_id") * 100 + F.col("chunk_id")).alias("cid"),
                "chunk_text")
    vecs = S.hashed_bow_embedding(chunks, "chunk_text", id_col="cid",
                                  dim=16, hash_mode="md5")
    queries = vecs.filter((F.col("cid") / 100).cast("long") % 100 == 0)
    out = S.knn_bruteforce(queries, vecs, k=3, id_col="cid",
                           vec_col="embedding")
    return out.select(F.col("query_id").alias("query_cid"),
                      F.col("neighbor_id").alias("neighbor_cid"),
                      "cosine_e4", "rank")


# --- the full curation pipeline, composed -------------------------------------

_CUR_SOURCES = ("src0", "src1", "src2")
_CUR_WEIGHTS = {"src0": 1.0, "src1": 2.0, "src2": 4.0}
_CUR_TARGET = 2000


def _curation_full_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _QUALITY_SQL, _minhash_ctes

    total_w = sum(_CUR_WEIGHTS.values())
    want = " ".join(
        f"WHEN '{s}' THEN {_CUR_TARGET * _CUR_WEIGHTS[s] / total_w}"
        for s in _CUR_SOURCES)
    src_list = ", ".join(f"'{s}'" for s in _CUR_SOURCES)
    corpus_full = f"""
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 100000, text, lang, source FROM documents
      WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 200000, text || '{_SFX}', lang, source
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id + 300000, text || '{_SFX}' || '{_TAIL2}', lang, source
      FROM documents WHERE doc_id % 4 = 0
    """
    reps = ("corpus AS (SELECT fp.doc_id, fp.text FROM fp "
            "JOIN grp ON fp.doc_id = grp.exact_rep)")
    return f"""
    WITH RECURSIVE allc AS ({corpus_full}),
    gt AS (
      SELECT doc_id, text, lang, source,
             string_split(lower(text), ' ') AS toks,
             string_split(text, ' ') AS raw_toks
      FROM allc
    ),
    gated AS (
      SELECT doc_id, text, lang, source FROM gt
      WHERE lang = 'en' AND {_QUALITY_SQL} >= 0.5
    ),
    fp AS (SELECT doc_id, text, source, {_FP_SQL} AS f FROM gated),
    grp AS (SELECT f, MIN(doc_id) AS exact_rep FROM fp GROUP BY f),
    doc_rep AS (SELECT fp.doc_id, grp.exact_rep FROM fp
                JOIN grp USING (f)),{_minhash_ctes(reps)},
    pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach AS (SELECT u, v FROM edges
              UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, least(u, MIN(v)) AS component
             FROM reach GROUP BY u),
    rep_surv AS (
      SELECT g.exact_rep, COALESCE(c.component, g.exact_rep) AS survivor
      FROM (SELECT DISTINCT exact_rep FROM grp) g
      LEFT JOIN comp c ON c.doc_id = g.exact_rep
    ),
    kept AS (
      SELECT dr.doc_id, g.text, g.source
      FROM doc_rep dr
      JOIN rep_surv rs USING (exact_rep)
      JOIN gated g ON g.doc_id = dr.doc_id
      WHERE dr.doc_id = rs.survivor
    ),
    evt AS (
      SELECT string_split(trim(lower(array_to_string(
               string_split(text, ' ')[1:20], ' '))), ' ') AS toks
      FROM documents WHERE doc_id % 17 = 0
    ),
    evg AS (
      SELECT DISTINCT
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM evt
    ),
    cg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, greatest(len(toks) - 12, 1) + 1),
                 i -> array_to_string(toks[i:least(i + 12, len(toks))], ' ')))
               AS g
      FROM (SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
            FROM kept)
    ),
    contaminated AS (SELECT DISTINCT cg.doc_id
                     FROM cg JOIN evg ON cg.g = evg.g),
    clean AS (
      SELECT k.* FROM kept k
      LEFT JOIN contaminated c ON c.doc_id = k.doc_id
      WHERE c.doc_id IS NULL
    ),
    have AS (
      SELECT source, SUM(len(string_split(text, ' '))) AS h
      FROM clean WHERE source IN ({src_list})
      GROUP BY source
    ),
    thr AS (
      SELECT source,
             CASE WHEN h = 0 THEN 0
                  ELSE greatest(CAST(floor(least(1.0,
                       (CASE source {want} END) / h) * 1048576) AS BIGINT),
                       1) END AS t
      FROM have
    )
    SELECT cl.doc_id, cl.source
    FROM clean cl JOIN thr ON cl.source = thr.source
    WHERE ('0x' || substr(md5('mix|' || cl.source || '|'
                              || cl.doc_id::VARCHAR), 1, 8))::BIGINT
          % 1048576 < thr.t
    """


@register("corpus_curation_full", oracle=_curation_full_sql())
def corpus_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-owner identity query — the COMPLETE curation pipeline
    composed from driver-verified pieces, mirroring
    `test_golden_corpus_pipeline.py` under the hash gate:

        quality gate (en ∧ score ≥ 0.5) → dedup_corpus (exact + LSH +
        CC, keep survivors) → decontaminate (13-gram eval overlap
        anti-join) → mix_sources (1:2:4 md5-gated token budget)

    over a corpus planted with exact copies and two near-dup mutant
    generations. Every stage keeps the scale shape of its operator:
    column-math gate, exact-first dedup, broadcast eval grams, one-job
    mix sizing. The oracle is the composed CTE chain of the per-stage
    oracles."""
    docs = load_tables(spark, sf_dir)["documents"] \
        .select("doc_id", "text", "lang", "source")
    ex = (docs.filter(F.col("doc_id") % 2 == 0)
          .select((F.col("doc_id") + 100000).alias("doc_id"), "text",
                  "lang", "source"))
    m1 = (docs.filter(F.col("doc_id") % 2 == 0)
          .select((F.col("doc_id") + 200000).alias("doc_id"),
                  F.concat("text", F.lit(_SFX)).alias("text"),
                  "lang", "source"))
    m2 = (docs.filter(F.col("doc_id") % 4 == 0)
          .select((F.col("doc_id") + 300000).alias("doc_id"),
                  F.concat("text", F.lit(_SFX), F.lit(_TAIL2))
                   .alias("text"),
                  "lang", "source"))
    corpus = docs.unionByName(ex).unionByName(m1).unionByName(m2)
    gated = corpus.filter(
        (F.col("lang") == "en")
        & (TA.quality_score(F.col("text")) >= 0.5))
    labels = D.dedup_corpus(gated, "text", threshold=0.5)
    # pin the expensive dedup lineage: kept feeds THREE consumers
    # (decontamination grams, the anti-join, and the per-source mix
    # branches) — without the checkpoint each one re-executes the whole
    # exact+LSH+CC subtree (measured 20 s -> ~7 s at sf0.1); at corpus
    # scale this is the materialize-between-stages pattern
    kept = gated.join(
        labels.filter(F.col("reason") == "kept").select("doc_id"),
        "doc_id").transform(pin, eager=False)
    evals = (docs.filter(F.col("doc_id") % 17 == 0)
             .select("doc_id",
                     F.concat_ws(" ", F.slice(F.split(F.col("text"), " "),
                                              1, 20)).alias("text")))
    clean = kept.join(TA.decontaminate(kept, evals, n=13),
                      "doc_id", "left_anti").transform(pin, eager=False)
    sources = {s: clean.filter(F.col("source") == s).drop("source")
               for s in _CUR_SOURCES}
    mixed, _plan = TA.mix_sources(
        sources, _CUR_WEIGHTS, target_tokens=_CUR_TARGET, hash_mode="md5")
    return mixed.select("doc_id", "source")


# --- int8 quantization + hashed BoW -------------------------------------------


@register(
    "quantize_embeddings",
    oracle="""
    WITH t AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc
      FROM t
    ),
    e AS (
      SELECT vec_id, sc, CAST(r.range AS INT) - 1 AS pos,
             v[CAST(r.range AS INT)] AS x
      FROM s CROSS JOIN range(1, 65) r
    )
    SELECT vec_id, ROUND(sc, 9) AS q_scale, pos,
           CAST(sign(x) * floor(abs(x) / (CASE WHEN sc = 0.0 THEN 1.0
                                               ELSE sc END) + 0.5)
                AS TINYINT) AS q_val
    FROM e
    """,
)
def quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization (`operators/similarity.py:
    quantize_embeddings`; the faiss-SQ8 trade): per-vector scale =
    max|x|/127, q = round-half-away-from-zero(x/scale) — 4× storage cut
    with ≥0.999 cosine fidelity (unit-tested). One Arrow-batched pandas
    UDF over only the vector column, no shuffle. The oracle replays the
    same float64 kernel (sign·floor(|x|/s + 0.5)) element-wise.

    Registry output is the LONG form ``(vec_id, q_scale, pos, q_val)``
    via posexplode — the driver's canonicalizer requires atomic columns
    (the r4 ``unhashable type: 'list'`` lesson); the operator itself
    still returns the packed ``array<tinyint>`` column."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    out = S.quantize_embeddings(emb)
    return out.select("vec_id",
                      F.round(F.col("q_scale"), 9).alias("q_scale"),
                      F.posexplode("q").alias("pos", "q_val"))


# --- product quantization -----------------------------------------------------

_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 4, 8, 2, 64


def _pq_chain_parts() -> list[str]:
    """The per-subspace deterministic-k-means CTE chains (the
    `_ivf_kmeans_ctes` recipe, suffixed per subspace over re-indexed dim
    slices) — shared by the encode and ADC-search oracles. Ends with
    ``a{iters}_{s}`` (assignments = codes) and ``c{iters}_{s}`` (final
    codebooks) per subspace."""
    m, k, iters, dim = _PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM
    d_sub = dim // m
    parts = [f"""
    v AS (SELECT vec_id AS id, embedding FROM embeddings),
    seeds AS (
      SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY id) - 1 AS INT) AS cluster
      FROM (SELECT id FROM v ORDER BY id LIMIT {k})
    )"""]
    for s in range(m):
        prev = f"c0_{s}"
        parts.append(f"""
    vd_{s} AS (
      SELECT v.id, CAST(t.range AS INT) AS dim,
             CAST(v.embedding[CAST(t.range AS INT) + {s * d_sub}]
                  AS DOUBLE) AS x
      FROM v CROSS JOIN range(1, {d_sub + 1}) t
    ),
    c0_{s} AS (SELECT sd.cluster, vd_{s}.dim, vd_{s}.x AS c
               FROM seeds sd JOIN vd_{s} ON sd.id = vd_{s}.id)""")
        for i in range(1, iters + 1):
            parts.append(f"""
    a{i}_{s} AS (
      SELECT id, cluster FROM (
        SELECT vd_{s}.id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY vd_{s}.id
                 ORDER BY SUM((vd_{s}.x - c.c) * (vd_{s}.x - c.c)),
                          c.cluster) AS rn
        FROM vd_{s} JOIN {prev} c ON vd_{s}.dim = c.dim
        GROUP BY vd_{s}.id, c.cluster
      ) WHERE rn = 1
    ),
    c{i}_{s} AS (
      SELECT p.cluster, p.dim, COALESCE(u.m, p.c) AS c
      FROM {prev} p LEFT JOIN (
        SELECT a{i}_{s}.cluster, vd_{s}.dim, AVG(vd_{s}.x) AS m
        FROM a{i}_{s} JOIN vd_{s} ON a{i}_{s}.id = vd_{s}.id
        GROUP BY a{i}_{s}.cluster, vd_{s}.dim
      ) u ON p.cluster = u.cluster AND p.dim = u.dim
    )""")
            prev = f"c{i}_{s}"
    return parts


def _pq_sql() -> str:
    m, iters = _PQ_M, _PQ_ITERS
    unions = " UNION ALL ".join(
        f"SELECT id AS vec_id, {s} AS s, cluster AS code FROM a{iters}_{s}"
        for s in range(m))
    return "WITH " + ",".join(_pq_chain_parts()) + " " + unions


def _pq_adc_sql() -> str:
    m, iters = _PQ_M, _PQ_ITERS
    ptab = " UNION ALL ".join(f"""
      SELECT vd_{s}.id AS query_id, {s} AS s, c.cluster AS code,
             SUM((vd_{s}.x - c.c) * (vd_{s}.x - c.c)) AS pd
      FROM vd_{s} JOIN c{iters}_{s} c ON vd_{s}.dim = c.dim
      WHERE vd_{s}.id % 50 = 0
      GROUP BY vd_{s}.id, c.cluster""" for s in range(m))
    codesl = " UNION ALL ".join(
        f"SELECT id, {s} AS s, cluster AS code FROM a{iters}_{s}"
        for s in range(m))
    return ("WITH " + ",".join(_pq_chain_parts()) + f""",
    ptab AS ({ptab}),
    codesl AS ({codesl}),
    scored AS (
      SELECT p.query_id, cl.id AS neighbor_id,
             ROUND(SUM(p.pd), 6) AS dist
      FROM codesl cl JOIN ptab p ON p.s = cl.s AND p.code = cl.code
      WHERE p.query_id <> cl.id
      GROUP BY p.query_id, cl.id
    )
    SELECT query_id, neighbor_id, dist, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY dist ASC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 3
    """)


@register("pq_adc_topk", oracle=_pq_adc_sql())
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-k over the PQ-encoded corpus
    (`operators/similarity.py:pq_adc_search`): each %50 query vector
    precomputes an m×k partial-distance table against the trained
    codebooks (broadcast — a few KB), and corpus distances are m table
    lookups summed per code row; the corpus is never decoded. The
    oracle recomputes the tables from the training-chain centroids and
    replays the lookup-sum ranking."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    codes, books = S.pq_train_encode(emb, m=_PQ_M, k=_PQ_K,
                                     iters=_PQ_ITERS, dim=_PQ_DIM)
    return S.pq_adc_search(emb.filter(F.col("vec_id") % 50 == 0),
                           codes, books, k=3)


@register("pq_encode", oracle=_pq_sql())
def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (`operators/similarity.py:pq_train_encode`;
    Jégou et al. 2011): 4 subspaces × 8-centroid codebooks trained by
    the deterministic k-means over slice projections of one scan, each
    vector encoded as 4 codes (log2(8)·4 bits vs 32·64 — the compression
    tier above SQ8). The oracle replays all four training chains over
    the re-indexed dim slices and unions the final assignments.

    Registry output is the LONG form ``(vec_id, s, code)`` via
    posexplode (atomic-column driver contract); the operator returns
    the packed ``array<int>`` codes."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    codes, _books = S.pq_train_encode(emb, m=_PQ_M, k=_PQ_K,
                                      iters=_PQ_ITERS, dim=_PQ_DIM)
    return codes.select("vec_id", F.posexplode("codes").alias("s", "code"))


# --- persisted IVF index: indexed KNN + incremental embedding dedup ----------

_IVF_K, _IVF_ITERS, _IVF_DIM = 8, 3, 64


def _ivf_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once IVF index over the embeddings table, shared by
    `knn_ivf_indexed` and `incremental_embedding_dedup` (content-keyed
    scratch cache; the build is `operators/similarity.py:
    materialize_ivf_index` — cells physically partitionBy(cluster))."""
    return _build_once(
        _scratch_path(sf_dir, "ivf_index", source_table="embeddings"),
        lambda p: S.materialize_ivf_index(
            load_tables(spark, sf_dir)["embeddings"], p,
            k=_IVF_K, iters=_IVF_ITERS))


def _knn_indexed_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _ivf_kmeans_ctes

    it = _IVF_ITERS
    return f"""
    WITH {_ivf_kmeans_ctes(_IVF_K, it, _IVF_DIM)},
    qd AS (SELECT * FROM vd WHERE id % 50 = 0),
    probe AS (
      SELECT id AS query_id, cluster FROM (
        SELECT qd.id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY qd.id
                 ORDER BY SUM((qd.x - c.c) * (qd.x - c.c)), c.cluster) AS rn
        FROM qd JOIN c{it} c ON qd.dim = c.dim
        GROUP BY qd.id, c.cluster
      ) WHERE rn = 1
    ),
    cand AS (
      SELECT p.query_id, a.id AS neighbor_id
      FROM probe p JOIN a{it} a
        ON a.cluster = p.cluster AND a.id <> p.query_id
    ),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(floor(list_cosine_similarity(q.embedding::DOUBLE[],
                                               n.embedding::DOUBLE[])
                        * 10000.0 + 0.5) AS BIGINT)
               AS cosine_e4
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.query_id
      JOIN embeddings n ON n.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine_e4, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine_e4 DESC, neighbor_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """


@register("knn_ivf_indexed", oracle=_knn_indexed_sql())
def knn_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN over a PERSISTED IVF index (`operators/similarity.py:
    materialize_ivf_index` + `knn_ivf_indexed`): cells trained by the
    deterministic k-means (8 cells, 3 iters), corpus physically
    partitionBy(cluster) so an nprobe=1 probe reads ~1/8 of the corpus
    bytes via partition pruning (plan-pinned in `test_ivf_index.py`).
    The oracle replays the full trained model in SQL — the k-means CTE
    chain, query→cell argmin probe over the FINAL centroids, candidate
    join against the final assignment, cosine top-5."""
    path = _ivf_index_path(spark, sf_dir)
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.knn_ivf_indexed(emb.filter(F.col("vec_id") % 50 == 0),
                             path, k=5, nprobe=1)


def _incr_embedding_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _ivf_kmeans_ctes

    it = _IVF_ITERS
    return f"""
    WITH {_ivf_kmeans_ctes(_IVF_K, it, _IVF_DIM)},
    bv AS (
      SELECT vec_id + 100000 AS id,
             list_transform(embedding::DOUBLE[], x -> x + 0.001) AS v
      FROM embeddings WHERE vec_id % 2 = 0
      UNION ALL
      SELECT vec_id + 200000,
             list_transform(embedding::DOUBLE[], x -> x + 0.002)
      FROM embeddings WHERE vec_id % 4 = 0
    ),
    bvd AS (
      SELECT bv.id, CAST(t.range AS INT) AS dim,
             bv.v[CAST(t.range AS INT)] AS x
      FROM bv CROSS JOIN range(1, {_IVF_DIM + 1}) t
    ),
    bprobe AS (
      SELECT id, cluster FROM (
        SELECT bvd.id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY bvd.id
                 ORDER BY SUM((bvd.x - c.c) * (bvd.x - c.c)), c.cluster)
                 AS rn
        FROM bvd JOIN c{it} c ON bvd.dim = c.dim
        GROUP BY bvd.id, c.cluster
      ) WHERE rn = 1
    ),
    pairs_c AS (
      SELECT p.id AS doc_a, a.id AS doc_b,
             CAST(floor(list_cosine_similarity(b.v, e.embedding::DOUBLE[])
                        * 10000.0 + 0.5) AS BIGINT)
               AS cosine_e4,
             'corpus' AS origin
      FROM bprobe p
      JOIN bv b ON b.id = p.id
      JOIN a{it} a ON a.cluster = p.cluster AND a.id <> p.id
      JOIN embeddings e ON e.vec_id = a.id
    ),
    pairs_b AS (
      SELECT p1.id AS doc_a, p2.id AS doc_b,
             CAST(floor(list_cosine_similarity(b1.v, b2.v)
                        * 10000.0 + 0.5) AS BIGINT) AS cosine_e4,
             'batch' AS origin
      FROM bprobe p1
      JOIN bprobe p2 ON p1.cluster = p2.cluster AND p1.id < p2.id
      JOIN bv b1 ON b1.id = p1.id
      JOIN bv b2 ON b2.id = p2.id
    )
    SELECT doc_a, doc_b, cosine_e4, origin FROM pairs_c
    WHERE cosine_e4 >= 9900
    UNION ALL
    SELECT doc_a, doc_b, cosine_e4, origin FROM pairs_b
    WHERE cosine_e4 >= 9900
    """


@register("incremental_embedding_dedup", oracle=_incr_embedding_sql())
def incremental_embedding_dedup(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Semantic near-dup check of a new batch against the SAME persisted
    IVF index `knn_ivf_indexed` queries (`operators/similarity.py:
    incremental_embedding_dedup`): batch vectors (two generations of
    +0.001/+0.002 perturbed mutants, so both corpus matches and
    batch-internal pairs occur) probe their nearest cell inside one
    Arrow mapInPandas pass, the cells scan prunes to occupied cells, and
    each cell's batch×all cosine block is one BLAS matmul.
    ``append=False`` keeps the query a pure read. The oracle replays the
    trained centroids, batch probe assignment, and same-cell pairing
    with the threshold compared in exact 1e-4 integer units (scores are
    1e-4-scaled BIGINTs via the shared quantization tree —
    continuous-round lint, r9)."""
    path = _ivf_index_path(spark, sf_dir)
    emb = load_tables(spark, sf_dir)["embeddings"]
    b1 = (emb.filter(F.col("vec_id") % 2 == 0)
          .select((F.col("vec_id") + 100000).alias("vec_id"),
                  F.transform(S.as_double(F.col("embedding")),
                              lambda x: x + F.lit(0.001))
                   .alias("embedding")))
    b2 = (emb.filter(F.col("vec_id") % 4 == 0)
          .select((F.col("vec_id") + 200000).alias("vec_id"),
                  F.transform(S.as_double(F.col("embedding")),
                              lambda x: x + F.lit(0.002))
                   .alias("embedding")))
    return S.incremental_embedding_dedup(
        b1.unionByName(b2), path, threshold=0.99, nprobe=1, append=False)


def _qcf_sql() -> str:
    from dig_etl_engine_spark.operators.quality_model import (
        PINNED_COEFFICIENTS, PINNED_INTERCEPT)

    w0, w1, w2, w3, _w4 = PINNED_COEFFICIENTS
    return f"""
    WITH corpus AS (
      SELECT doc_id, coalesce(text, '') AS text FROM documents
      UNION ALL
      SELECT doc_id + 100000, trim(repeat('zzz ', 40)) FROM documents
    ),
    feat AS (
      SELECT doc_id,
             string_split(trim(lower(text)), ' ') AS toks,
             string_split(trim(text), ' ') AS raw_toks
      FROM corpus
    ),
    z AS (
      SELECT doc_id,
             {PINNED_INTERCEPT}
             + {w0} * len(toks)
             + {w1} * (len(list_filter(toks,
                         x -> x IN ('the','a','is','of','and')))
                       / greatest(len(toks), 1))
             + {w2} * (len(list_distinct(toks)) / greatest(len(toks), 1))
             + {w3} * (list_sum(list_transform(raw_toks, t -> length(t)))
                       / greatest(len(raw_toks), 1))
               AS logit
      FROM feat
    )
    SELECT doc_id, ROUND(logit, 6) AS quality_logit,
           logit >= 0.0 AS keep
    FROM z
    """


@register("quality_classifier_filter", oracle=_qcf_sql())
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based corpus quality filter (`operators/
    quality_model.py`; the fastText-style recipe) in its deployable
    form: LBFGS training runs offline (`train_quality_classifier`,
    pinned by `test_quality_model.py` — model-bound, not SQL-replayable),
    the fitted coefficients are shipped as constants, and scoring is
    `quality_logit` — pure column math gating at logit ≥ 0, i.e.
    P(quality) ≥ 0.5 without the sigmoid. Real docs vs 40-token junk
    mutants, exactly the training fixture. The oracle replays the
    pinned dot product + threshold feature-by-feature (same IEEE
    evaluation order)."""
    from dig_etl_engine_spark.operators.quality_model import quality_logit

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    junk = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.array_repeat(F.lit("zzz"), 40)).alias("text"))
    scored = quality_logit(docs.unionByName(junk))
    return scored.select(
        "doc_id",
        F.round(F.col("quality_logit"), 6).alias("quality_logit"),
        (F.col("quality_logit") >= 0.0).alias("keep"))


def _bow_sql(dim: int = 16) -> str:
    sums = ", ".join(
        f"SUM(CASE WHEN h = {i} THEN 1.0 ELSE 0.0 END) AS d{i}"
        for i in range(dim))
    norm = " + ".join(f"d{i} * d{i}" for i in range(dim))
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS pos, CAST(d{i} / nn AS REAL) AS val FROM n"
        for i in range(dim))
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS t
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(t), 1, 8))::BIGINT % {dim} AS h
      FROM tok
    ),
    sums AS (SELECT doc_id, {sums} FROM hashed GROUP BY doc_id),
    n AS (SELECT *, sqrt({norm}) AS nn FROM sums)
    {unions}
    """


@register("hashed_bow_embedding", oracle=_bow_sql())
def hashed_bow_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-free hashed bag-of-words featurizer (`operators/
    similarity.py:hashed_bow_embedding`): 16-dim L2-normalized token-count
    vector via feature hashing (md5 mode for oracle parity; xxhash64 is
    the production default). Explode → scalar hash (codegen) → ONE
    map-side-combined shuffle → unrolled normalize. The per-dim sums are
    exact integers and the norm is sqrt of their exact square sum, so
    the float32 cast is bitwise identical cross-engine.

    Registry output is the LONG form ``(doc_id, pos, val)`` via
    posexplode (atomic-column driver contract); the operator returns
    the packed ``array<float>`` vector."""
    docs = load_tables(spark, sf_dir)["documents"]
    out = S.hashed_bow_embedding(docs, "text", dim=16, hash_mode="md5")
    return out.select("doc_id", F.posexplode("embedding").alias("pos", "val"))


# --- round-4b additions: SemDeDup, DSIR, tokenizer stats, splits, governance --

_SEM_THRESH = 0.99
_SEM_V_SQL = """SELECT vec_id AS id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + 100000,
                 list_transform(embedding::DOUBLE[], x -> x + 0.001)
          FROM embeddings WHERE vec_id % 5 = 0"""


def _semdedup_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _ivf_kmeans_ctes

    it = 3
    return f"""
    WITH {_ivf_kmeans_ctes(8, it, 64, v_sql=_SEM_V_SQL)},
    pairs AS (
      SELECT a.id AS ida, b.id AS idb,
             CAST(floor(list_cosine_similarity(va.embedding::DOUBLE[],
                                               vb.embedding::DOUBLE[])
                        * 10000.0 + 0.5) AS BIGINT)
               AS cos_e4
      FROM a{it} a
      JOIN a{it} b ON a.cluster = b.cluster AND a.id < b.id
      JOIN v va ON va.id = a.id
      JOIN v vb ON vb.id = b.id
    ),
    dropped AS (SELECT DISTINCT idb AS id FROM pairs
                WHERE cos_e4 >= {int(round(_SEM_THRESH * 10000))})
    SELECT a.id AS vec_id, a.cluster, (d.id IS NULL) AS kept
    FROM a{it} a LEFT JOIN dropped d ON a.id = d.id
    """


@register("semdedup", oracle=_semdedup_sql())
def semdedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (`operators/similarity.py:semdedup`; Abbas et al. 2023):
    k-means-cluster the embedding space (the deterministic trainer), then
    prune semantic near-dups within each cluster — cosine ≥ 0.99 to a
    lower-id cluster-mate drops a vector. Corpus = embeddings plus
    +0.001-perturbed mutants of every 5th vector, so real prunes occur.
    The oracle replays the trained model (k-means CTE chain over the
    planted union) plus the within-cluster pairwise cosine and the
    keep-lowest-id rule. The pairwise step only ever runs inside one
    cluster — Θ(n·cluster_size), the paper's tractability argument."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.select("vec_id", S.as_double(F.col("embedding"))
                      .alias("embedding"))
    mutants = (emb.filter(F.col("vec_id") % 5 == 0)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.transform(S.as_double(F.col("embedding")),
                                   lambda x: x + F.lit(0.001))
                        .alias("embedding")))
    return S.semdedup(base.unionByName(mutants), k=8, iters=3,
                      threshold=_SEM_THRESH)


@register(
    "dsir_weights",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(trim(lower(text)), ' ') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(toks) AS g FROM d
      UNION ALL
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
             i -> toks[i] || ' ' || toks[i + 1])) AS g
      FROM d
    ),
    feats AS (
      SELECT doc_id,
             ('0x' || substr(md5('dsir|' || g), 1, 8))::BIGINT % 1024 AS b
      FROM grams
    ),
    tf AS (SELECT f.b FROM feats f JOIN documents dd USING (doc_id)
           WHERE dd.lang = 'en'),
    ct AS (SELECT b, COUNT(*) AS c FROM tf GROUP BY b),
    nt AS (SELECT COUNT(*) AS n FROM tf),
    cr AS (SELECT b, COUNT(*) AS c FROM feats GROUP BY b),
    nr AS (SELECT COUNT(*) AS n FROM feats),
    scored AS (
      SELECT f.doc_id,
             ln((COALESCE(ct.c, 0) + 1.0) / (nt.n + 1024.0))
             - ln((COALESCE(cr.c, 0) + 1.0) / (nr.n + 1024.0)) AS lr
      FROM feats f
      LEFT JOIN ct ON f.b = ct.b
      LEFT JOIN cr ON f.b = cr.b
      CROSS JOIN nt CROSS JOIN nr
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_feats,
           (CAST((CASE WHEN (SUM(CAST(floor((lr) * 1000000000 + 0.5) AS BIGINT))) < 0 THEN -((2 * abs((SUM(CAST(floor((lr) * 1000000000 + 0.5) AS BIGINT)))) + (1000 * (COUNT(*)))) // (2 * (1000 * (COUNT(*))))) ELSE ((2 * abs((SUM(CAST(floor((lr) * 1000000000 + 0.5) AS BIGINT)))) + (1000 * (COUNT(*)))) // (2 * (1000 * (COUNT(*))))) END) AS DOUBLE) / 1000000.0) AS avg_log_ratio
    FROM scored GROUP BY doc_id
    """,
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (`operators/text_analysis.py:
    dsir_importance_weights`; Xie et al. 2023): hashed unigram+bigram
    bucket LMs for the TARGET distribution (the lang='en' slice — the
    'trusted in-domain set') and the raw pool, add-1 smoothed; each doc
    scored by its mean log probability ratio. Both LMs are one
    map-side-combined groupBy reduced to 1024 rows that broadcast back —
    the corpus text never shuffles. md5 hash mode so the oracle replays
    the bucketing; feed the weights to `weighted_sample` for the
    resampling step."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.dsir_importance_weights(
        docs, docs.filter(F.col("lang") == "en"),
        buckets=1024, k_smooth=1.0, hash_mode="md5")


@register(
    "bpe_pair_stats",
    oracle="""
    WITH w AS (
      SELECT g AS w, COUNT(*) AS freq FROM (
        SELECT unnest(string_split(trim(lower(text)), ' ')) AS g
        FROM documents)
      WHERE length(g) >= 2 GROUP BY g
    ),
    p AS (
      SELECT unnest(list_transform(range(1, length(w)),
             i -> substr(w, CAST(i AS INT), 2))) AS pair, freq
      FROM w
    )
    SELECT pair, SUM(freq)::BIGINT AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair ASC LIMIT 20
    """,
)
def bpe_pair_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE merge statistics (`operators/text_analysis.py:
    bpe_pair_stats`; Sennrich et al. 2016): corpus-weighted adjacent
    character-pair counts — the argmax input of the first tokenizer
    merge. The pair explosion runs over the DISTINCT word table
    (vocabulary-sized), not the corpus stream; top-20 with lexicographic
    tiebreak is TakeOrderedAndProject."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.bpe_pair_stats(docs, k=20)


_PPL_Q1 = 1.0 / 3
_PPL_Q2 = 2.0 / 3


@register(
    "perplexity_buckets",
    oracle=f"""
    WITH {_LM_DOC_SCORES_CTES},
    cuts AS (
      SELECT quantile_cont(avg_neg_logp, {_PPL_Q1!r}) AS q1,
             quantile_cont(avg_neg_logp, {_PPL_Q2!r}) AS q2
      FROM doc_scores
    )
    SELECT s.doc_id,
           CASE WHEN s.avg_neg_logp <= c.q1 THEN 'head'
                WHEN s.avg_neg_logp <= c.q2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM doc_scores s CROSS JOIN cuts c
    """,
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity split (Wenzek et al. 2020):
    docs bucketed by LM score tertiles — head trains first, tail gets
    dropped or down-weighted. Cutoffs are exact percentiles computed as
    a 2-scalar broadcast aggregate and compared back against the scored
    stream — NO global sort/NTILE single-task bottleneck; at 100 TB swap
    `percentile` for `percentile_approx` (same plan shape). A score
    strictly between two order statistics can never equal the
    interpolated cutoff, so the boundary compare is engine-stable."""
    docs = load_tables(spark, sf_dir)["documents"]
    # scores is ONE narrow row per doc but its lineage is the full
    # trigram-LM pipeline, and it feeds both the percentile aggregate
    # and the bucketing join — the profitable side of the pin rule
    # (SCALING.md round-5): materialized ≪ recompute. Unpinned the LM
    # ran twice (8× corpus scan in the executed plan).
    scores = TA.ngram_lm_scores(
        docs, docs.filter(F.col("doc_id") % 2 == 0), k_smooth=0.1) \
        .transform(pin, eager=False)
    cuts = scores.agg(
        F.percentile("avg_neg_logp", F.lit(_PPL_Q1)).alias("q1"),
        F.percentile("avg_neg_logp", F.lit(_PPL_Q2)).alias("q2"))
    return (scores.join(F.broadcast(cuts))
            .select("doc_id",
                    F.when(F.col("avg_neg_logp") <= F.col("q1"), "head")
                     .when(F.col("avg_neg_logp") <= F.col("q2"), "middle")
                     .otherwise("tail").alias("ppl_bucket")))


@register(
    "train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 10000 THEN 'test'
                WHEN b < 20000 THEN 'val'
                ELSE 'train' END AS split
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5('split||' || doc_id::VARCHAR), 1, 8))
               ::BIGINT % 100000 AS b
      FROM documents)
    """,
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (`operators/
    text_analysis.py:assign_splits`): hash-gate split 10/10/80 — the
    same doc lands in the same split on every run and engine, and new
    docs never move existing ones. Pure narrow column math (no shuffle,
    no sampling state); md5 mode for the oracle, xxhash64 in
    production."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.assign_splits(
        docs, {"test": 0.1, "val": 0.1, "train": 0.8},
        hash_mode="md5").select("doc_id", "split")


@register(
    "source_overlap_matrix",
    oracle=f"""
    WITH g AS (
      SELECT source, {_FP_SQL} AS f FROM documents
      UNION ALL
      SELECT 'src' || ((doc_id + 3) % 20)::VARCHAR, {_FP_SQL}
      FROM documents WHERE doc_id % 7 = 0
    ),
    sf AS (SELECT DISTINCT source, f FROM g)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*)::BIGINT AS n_shared
    FROM sf a JOIN sf b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the governance report behind
    every licensing/mixing decision: how many distinct documents each
    PAIR of sources shares verbatim (by normalized content fingerprint).
    Fixture plants every 7th doc into a second source so the matrix is
    non-empty. Shape: each side reduces to distinct (source,
    fingerprint) — narrow fingerprint math + one combine — then a
    fingerprint-keyed self-join (AQE handles boilerplate-heavy hot
    fingerprints; no text moves) and a source-pair rollup."""
    from dig_etl_engine_spark.operators.text_analysis import fingerprint_md5

    docs = load_tables(spark, sf_dir)["documents"]
    planted = (docs.filter(F.col("doc_id") % 7 == 0)
               .select(F.concat(F.lit("src"),
                                ((F.col("doc_id") + 3) % 20).cast("string"))
                       .alias("source"), "text"))
    g = docs.select("source", "text").unionByName(planted)
    sf = g.select("source", fingerprint_md5(F.col("text")).alias("f")) \
        .distinct()
    a, b = sf.alias("a"), sf.alias("b")
    return (a.join(b, (F.col("a.f") == F.col("b.f"))
                   & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("source_a"),
                     F.col("b.source").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_shared")))


def _pagerank_sql(iters: int = 5, damping: float = 0.85) -> str:
    steps = []
    prev = "r0"
    for i in range(1, iters + 1):
        steps.append(f"""
    r{i} AS (
      SELECT verts.v,
             CAST({1.0 - damping} AS DOUBLE) / nv.n
             + CAST({damping} AS DOUBLE) * COALESCE(c.s, 0) AS r
      FROM verts CROSS JOIN nv
      LEFT JOIN (SELECT e2.w AS v, SUM({prev}.r / deg.deg) AS s
                 FROM e2 JOIN {prev} ON e2.u = {prev}.v
                 JOIN deg ON e2.u = deg.u
                 GROUP BY e2.w) c ON verts.v = c.v
    )""")
        prev = f"r{i}"
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    e AS (
      SELECT doc_id AS u, (doc_id * 7 + 3) % nn.n AS w
      FROM documents CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 5) % nn.n
      FROM documents CROSS JOIN nn
    ),
    e2 AS (SELECT u, w FROM e WHERE u <> w),
    verts AS (SELECT DISTINCT v FROM
              (SELECT u AS v FROM e2 UNION ALL SELECT w FROM e2)),
    nv AS (SELECT COUNT(*) AS n FROM verts),
    deg AS (SELECT u, COUNT(*) AS deg FROM e2 GROUP BY u),
    r0 AS (SELECT v, CAST(1.0 AS DOUBLE) / nv.n AS r
           FROM verts CROSS JOIN nv),{",".join(steps)}
    SELECT v, ROUND(r, 6) AS rank FROM r{iters}
    """


@register("doc_pagerank", oracle=_pagerank_sql())
def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank corpus-quality prior (`operators/graph.py:pagerank`;
    Page et al. 1999 — the host-ranking pass CommonCrawl-derived
    corpora use to pick frontiers and down-weight link farms): 5 fixed
    iterations, damping 0.85, over a deterministic synthetic citation
    graph (each doc cites docs ``(7i+3) mod N`` and ``(13i+5) mod N``
    — the fixture; a real corpus supplies its own edge list). Fixed
    iteration count makes the whole propagation replayable arithmetic:
    the oracle unrolls all 5 rounds as CTEs. Per round: one
    vertex-keyed equi-join + one map-side-combined groupBy;
    localCheckpoint truncates the doubling lineage like
    `connected_components`."""
    from dig_etl_engine_spark.operators.graph import pagerank

    docs = load_tables(spark, sf_dir)["documents"]
    cnt = docs.count()
    mk = lambda a, b: docs.select(  # noqa: E731
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * a + b) % cnt).alias("dst"))
    edges = (mk(7, 3).unionByName(mk(13, 5))
             .filter(F.col("src") != F.col("dst")))
    return pagerank(edges, iters=5, damping=0.85)


def _contrastive_sql() -> str:
    from dig_etl_engine_spark.queries_llm import _ivf_kmeans_ctes

    it = 3
    return f"""
    WITH {_ivf_kmeans_ctes(8, it, 64, v_sql=_SEM_V_SQL)},
    pairs AS (
      SELECT a.id AS ida, b.id AS idb,
             CAST(floor(list_cosine_similarity(va.embedding::DOUBLE[],
                                               vb.embedding::DOUBLE[])
                        * 10000.0 + 0.5) AS BIGINT)
               AS cosine_e4
      FROM a{it} a
      JOIN a{it} b ON a.cluster = b.cluster AND a.id < b.id
      JOIN v va ON va.id = a.id
      JOIN v vb ON vb.id = b.id
    ),
    bi_dir AS (
      SELECT ida AS anchor, idb AS other, cosine_e4 FROM pairs
      UNION ALL
      SELECT idb, ida, cosine_e4 FROM pairs
    ),
    neg AS (
      SELECT anchor, other, cosine_e4 FROM (
        SELECT anchor, other, cosine_e4,
               ROW_NUMBER() OVER (PARTITION BY anchor
                 ORDER BY cosine_e4 DESC, other ASC) AS rn
        FROM bi_dir WHERE cosine_e4 >= 5000 AND cosine_e4 < 9000
      ) WHERE rn <= 2
    )
    SELECT anchor, other, cosine_e4, 'positive' AS pair_type
    FROM bi_dir WHERE cosine_e4 >= {int(round(_SEM_THRESH * 10000))}
    UNION ALL
    SELECT anchor, other, cosine_e4, 'hard_negative' FROM neg
    """


@register("contrastive_pairs", oracle=_contrastive_sql())
def contrastive_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining (`operators/similarity.py:
    contrastive_pairs`; the ANCE/E5 hard-negative recipe): per anchor,
    near-dup positives (cosine ≥ 0.99 — the planted mutants) plus the
    top-2 hardest same-cluster negatives in the [0.5, 0.9) cosine band.
    Same mutant-planted corpus and learned partition as `semdedup`; the
    oracle replays the trained model, the in-cluster pairwise cosines,
    and the deterministic hardest-first ranking over the 1e-4-scaled
    BIGINT scores (continuous-round lint, r9 — band edges and ranking
    both live on the exact integer grid)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.select("vec_id", S.as_double(F.col("embedding"))
                      .alias("embedding"))
    mutants = (emb.filter(F.col("vec_id") % 5 == 0)
               .select((F.col("vec_id") + 100000).alias("vec_id"),
                       F.transform(S.as_double(F.col("embedding")),
                                   lambda x: x + F.lit(0.001))
                        .alias("embedding")))
    return S.contrastive_pairs(base.unionByName(mutants), k=8, iters=3,
                               pos_threshold=_SEM_THRESH,
                               neg_band=(0.5, 0.9), m_negatives=2)


# --- Full BPE merge-table training -------------------------------------------

def _bpe_oracle(n_merges: int, final: str | None = None) -> str:
    """Unroll the BPE training loop as chained CTEs: pair-count →
    argmax → merge-apply per step, over the same double-space-delimited
    symbol encoding the Spark operator uses (see
    `operators/text_analysis.py:bpe_train_merges` for why plain replace
    on that encoding IS greedy BPE merge application). ``final``
    overrides the trailing SELECT (default: the merge-table union);
    the word ``w`` is carried through every ``e{s}`` CTE so a final
    SELECT can join the trained vocabulary back to the corpus."""
    ctes = [r"""w AS (
      SELECT g AS w, COUNT(*) AS freq FROM (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS g
        FROM documents)
      WHERE length(g) >= 2 GROUP BY g
    )""", """e0 AS (
      SELECT w, freq,
             ' ' || array_to_string(list_transform(range(1, length(w) + 1),
                   i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS enc
      FROM w
    )"""]
    for s in range(1, n_merges + 1):
        ctes.append(f"""p{s} AS (
      SELECT pair, SUM(freq)::BIGINT AS n FROM (
        SELECT freq, unnest(list_transform(range(1, len(syms)),
               i -> syms[CAST(i AS INT)] || ' ' || syms[CAST(i AS INT) + 1]))
               AS pair
        FROM (SELECT freq, string_split(trim(enc), '  ') AS syms FROM e{s-1}))
      GROUP BY pair
    )""")
        ctes.append(f"""b{s} AS (
      SELECT pair, n FROM p{s} ORDER BY n DESC, pair ASC LIMIT 1
    )""")
        ctes.append(f"""e{s} AS (
      SELECT w, freq, replace(enc,
             ' ' || split_part(pair, ' ', 1) || '  '
                 || split_part(pair, ' ', 2) || ' ',
             ' ' || replace(pair, ' ', '') || ' ') AS enc
      FROM e{s-1} CROSS JOIN b{s}
    )""")
    if final is None:
        final = "\n    UNION ALL ".join(
            f"SELECT {s} AS step, pair, n FROM b{s}"
            for s in range(1, n_merges + 1))
    return "WITH " + ",\n    ".join(ctes) + "\n    " + final


@register("bpe_train_merges", oracle=_bpe_oracle(8))
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenizer merge-table training (`operators/
    text_analysis.py:bpe_train_merges`; Sennrich et al. 2016): 8
    iterations of count-pairs → argmax → merge-everywhere over the
    corpus word table. One corpus-sized shuffle total (the word count);
    each iteration is a vocabulary-sized groupBy + 1-row argmax collect
    — the k-scalar-per-iteration driver contract shared with
    `ivf_kmeans_train`. The oracle unrolls all 8 steps as CTE chains."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.bpe_train_merges(docs, n_merges=8)


# --- KMV sketch source overlap (scale path of source_overlap_matrix) ---------

@register(
    "kmv_source_overlap",
    oracle="""
    WITH e AS (
      SELECT DISTINCT source, substr(md5(text), 1, 16) AS h FROM documents
    ),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM e)
      WHERE rn <= 128
    ),
    p AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM (SELECT DISTINCT source FROM sk) a
      JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
    ),
    u AS (
      SELECT source_a, source_b, h,
             MAX(in_a) AS in_a, MAX(in_b) AS in_b FROM (
        SELECT p.source_a, p.source_b, s.h, 1 AS in_a, 0 AS in_b
        FROM p JOIN sk s ON s.source = p.source_a
        UNION ALL
        SELECT p.source_a, p.source_b, s.h, 0 AS in_a, 1 AS in_b
        FROM p JOIN sk s ON s.source = p.source_b)
      GROUP BY source_a, source_b, h
    ),
    bott AS (
      SELECT * FROM (
        SELECT u.*, row_number() OVER (
          PARTITION BY source_a, source_b ORDER BY h) AS urn FROM u)
      WHERE urn <= 128
    )
    SELECT source_a, source_b,
           COUNT(*)::BIGINT AS k_used,
           SUM(in_a * in_b)::BIGINT AS n_common,
           round(SUM(in_a * in_b)::DOUBLE / COUNT(*), 6) AS jaccard_est
    FROM bott GROUP BY source_a, source_b
    """,
)
def kmv_source_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k sketch overlap (`operators/sketches.py`): the
    governance matrix `source_overlap_matrix` computes exactly, here
    estimated from 128-hash-per-source sketches — the 100 TB path where
    the pairwise stage touches S·k sketch rows instead of every
    distinct fingerprint. md5-hex hashes make the ESTIMATE itself
    deterministic, so the oracle replays the estimator bit-for-bit;
    `prefilter_salts=8` exercises the two-stage top-k that keeps any
    single source's hash stream out of one task (identical result —
    global minima are minima of their salt bucket too)."""
    from dig_etl_engine_spark.operators.sketches import kmv_source_overlap
    docs = load_tables(spark, sf_dir)["documents"]
    return kmv_source_overlap(docs, k=128, hash_mode="md5",
                              prefilter_salts=8)


_BPE_STATS_FINAL = r""", dw AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      FROM documents
    )
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_words,
           SUM(COALESCE(len(string_split(trim(e.enc), '  ')), 1))::BIGINT
             AS n_subwords
    FROM dw LEFT JOIN e8 e USING (w) GROUP BY doc_id"""


@register("bpe_subword_stats",
          oracle=_bpe_oracle(8, final=_BPE_STATS_FINAL))
def bpe_subword_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fertility under the corpus-trained 8-merge BPE
    tokenizer (`operators/text_analysis.py:bpe_subword_stats`): train
    the merge table, then encode every doc by BROADCAST-joining its
    words against the trained vocabulary (w → final symbol encoding) —
    the corpus is never re-scanned by the merge loop. The oracle reuses
    the training CTE chain's final `e8` vocabulary and replays the
    left-join fallback (sub-2-char words encode as one symbol)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return TA.bpe_subword_stats(docs, n_merges=8)


# --- CCNet normalization + normalized exact dedup ----------------------------

_NORM_MUTANTS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) || ' !!!' FROM documents
      WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000, translate(text, 'aeo1', 'àéö7')
      FROM documents WHERE doc_id % 3 = 1
"""


@register(
    "dedup_exact_normalized",
    oracle=f"""
    WITH u AS ({_NORM_MUTANTS_SQL}),
    k AS (
      SELECT doc_id,
             md5({TA.CCNET_NORMALIZE_SQL.format(col="text")}) AS key
      FROM u
    )
    SELECT MIN(doc_id) AS canonical_id, COUNT(*)::BIGINT AS n_variants
    FROM k GROUP BY key
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the CCNet-NORMALIZED key (`operators/
    text_analysis.py:ccnet_normalize`; Wenzek et al. 2020): lowercase →
    accent fold → digits→0 → strip punctuation → collapse whitespace,
    then group on the md5 of that form. Catches the case/punctuation/
    accent/digit variants verbatim hashing misses — planted here as
    uppercase+'!!!' mutants (doc_id%3=0) and accent/digit mutants
    (doc_id%3=1), each of which must collapse into its original's group.
    One fingerprint-only shuffle, text never moves — same shape as
    `dedup_exact`."""
    docs = load_tables(spark, sf_dir)["documents"]
    base = docs.select("doc_id", "text")
    m1 = (docs.filter(F.col("doc_id") % 3 == 0)
          .select((F.col("doc_id") + 1000000).alias("doc_id"),
                  F.concat(safe_upper("text"), F.lit(" !!!")).alias("text")))
    m2 = (docs.filter(F.col("doc_id") % 3 == 1)
          .select((F.col("doc_id") + 2000000).alias("doc_id"),
                  F.translate(F.col("text"), "aeo1", "àéö7").alias("text")))
    u = base.unionByName(m1).unionByName(m2)
    key = F.md5(TA.ccnet_normalize(F.col("text")))
    return (u.select("doc_id", key.alias("key"))
            .groupBy("key")
            .agg(F.min("doc_id").alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_variants"))
            .drop("key"))


@register(
    "embedding_profile",
    oracle=f"""
    WITH x AS (
      SELECT CAST(i - 1 AS INT) AS dim, embedding[i]::DOUBLE AS v
      FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
    ),
    c AS (SELECT dim, v, {sql_fixed('v', 6)} AS m FROM x),
    s AS (
      SELECT dim, COUNT(*)::BIGINT AS n, SUM(m) AS s, SUM(m * m) AS ss,
             round(MIN(v), 4) AS min_v, round(MAX(v), 4) AS max_v
      FROM c GROUP BY dim
    )
    SELECT dim, n,
           {sql_round_fixed('s', 6, 4, 'n')} AS mean,
           CAST(floor(CASE WHEN n >= 2 THEN
             sqrt(CAST(n * ss - s * s AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
             / 1000000.0 END * 10000.0 + 0.5) AS BIGINT) AS std_e4,
           min_v, max_v
    FROM s
    """,
)
def embedding_profile_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding QA profile (`operators/similarity.py:
    embedding_profile`): mean/std/min/max per vector dimension — the
    re-embed drift dashboard (collapsed dims, off-center means, ragged
    vectors). posexplode → map-side-combined groupBy(dim): the shuffle
    carries partitions×64 rows at any corpus size."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.embedding_profile(emb)


def _lpa_sql(iters: int = 4) -> str:
    """Unrolled label-propagation oracle over the same synthetic
    citation graph as `doc_pagerank`: per round, neighbor-label counts
    → per-vertex argmax (smallest label on ties) — the deterministic
    synchronous scheme `operators/graph.py:label_propagation` runs."""
    steps = []
    prev = "l0"
    for i in range(1, iters + 1):
        steps.append(f"""
    l{i} AS (
      SELECT v, lbl FROM (
        SELECT b.w AS v, {prev}.lbl, COUNT(*) AS n,
               row_number() OVER (PARTITION BY b.w
                 ORDER BY COUNT(*) DESC, {prev}.lbl ASC) AS rn
        FROM bidir b JOIN {prev} ON b.u = {prev}.v
        GROUP BY b.w, {prev}.lbl)
      WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""
    WITH nn AS (SELECT COUNT(*) AS n FROM documents),
    e AS (
      SELECT doc_id AS u, (doc_id * 7 + 3) % nn.n AS w
      FROM documents CROSS JOIN nn
      UNION ALL
      SELECT doc_id, (doc_id * 13 + 5) % nn.n
      FROM documents CROSS JOIN nn
    ),
    e2 AS (SELECT u, w FROM e WHERE u <> w),
    bidir AS (SELECT u, w FROM e2 UNION ALL SELECT w AS u, u AS w FROM e2),
    verts AS (SELECT DISTINCT u AS v FROM bidir),
    l0 AS (SELECT v, v AS lbl FROM verts),{",".join(steps)}
    SELECT v, lbl AS community FROM l{iters}
    """


@register("doc_communities", oracle=_lpa_sql())
def doc_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (`operators/graph.py:
    label_propagation`; Raghavan et al. 2007) over the `doc_pagerank`
    citation graph: the cheap mutually-citing-cluster detector (spam
    rings, mirror farms) complementing the PageRank prior. 4 fixed
    synchronous rounds with smallest-label tie-break — fully replayable
    arithmetic, oracle unrolled round by round. Per round: one
    vertex-keyed join + map-side-combined groupBy + per-vertex argmax
    window."""
    from dig_etl_engine_spark.operators.graph import label_propagation

    docs = load_tables(spark, sf_dir)["documents"]
    cnt = docs.count()
    mk = lambda a, b: docs.select(  # noqa: E731
        F.col("doc_id").alias("src"),
        ((F.col("doc_id") * a + b) % cnt).alias("dst"))
    edges = (mk(7, 3).unionByName(mk(13, 5))
             .filter(F.col("src") != F.col("dst")))
    return label_propagation(edges, iters=4)
