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
        # never driver-verified first (-1 sorts lowest), then the
        # stalest verdict, then registration order
        return (last.get(n, -1), position[n])

    for name in sorted(_REGISTRY, key=key):
        _REGISTRY[name] = _REGISTRY.pop(name)
    _LOADED = True
