"""Contract tests for functions/localdf.py — the Arrow-local-relation
replacement for ``spark.createDataFrame(list, schema)`` (r13).

The whole point of ``local_df`` is that it is a drop-in: every row set
it accepts on the Arrow path must collect IDENTICALLY to the stock list
path, and anything it cannot prove safe must fall back (not coerce
differently). These tests pin both directions, plus the plan-shape fact
the optimization rests on (LocalTableScan — no distributed scan, no
Python-worker tasks at action time).
"""

from __future__ import annotations

import datetime as dt
import warnings

from pyspark.sql import types as T

from dig_etl_engine_spark.functions.localdf import _arrow_safe, local_df


def _both(spark, rows, schema):
    a = local_df(spark, rows, schema)
    b = spark.createDataFrame([tuple(r) for r in rows], schema)
    return a, b


def _rows(df):
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: tuple((x is None, str(x)) for x in t))


def test_scalar_rows_identical(spark):
    rows = [(1, "p a", 10), (2, None, None), (None, "z", -3)]
    schema = "step INT, pair STRING, n BIGINT"
    a, b = _both(spark, rows, schema)
    assert a.schema == b.schema
    assert _rows(a) == _rows(b)


def test_finite_floats_identical(spark):
    rows = [(1, 0.5), (2, -1.25), (3, None), (4, 1e308)]
    a, b = _both(spark, rows, "id INT, v DOUBLE")
    assert _rows(a) == _rows(b)


def test_nan_forces_fallback(spark):
    # the Arrow/object-dtype path would turn NaN into NULL — local_df
    # must detect it and take the stock path, where NaN stays NaN
    rows = [(1, float("nan")), (2, 0.5)]
    assert not _arrow_safe(rows, [False, False])
    out = {r["id"]: r["v"] for r in local_df(spark, rows, "id INT, v DOUBLE").collect()}
    assert out[1] != out[1]  # NaN preserved
    assert out[2] == 0.5


def test_nested_and_datetime_fall_back(spark):
    assert not _arrow_safe([(1, [1, 2])], [False, True])
    assert not _arrow_safe([(1, {"k": 1})], [False, True])
    assert not _arrow_safe([(1, dt.datetime(2020, 1, 1, 0, 0))], [False, True])
    assert _arrow_safe([(1, dt.date(2020, 1, 1))], [False, True])
    assert not _arrow_safe([(1, dt.date(2020, 1, 1))], [False, False])
    # fallback still produces correct rows
    rows = [(1, [1, 2]), (2, [3])]
    out = local_df(spark, rows, "id INT, xs ARRAY<INT>").collect()
    assert sorted((r["id"], tuple(r["xs"])) for r in out) == [(1, (1, 2)), (2, (3,))]


def test_structtype_and_empty(spark):
    schema = T.StructType([
        T.StructField("a", T.StringType()),
        T.StructField("b", T.LongType()),
    ])
    a, b = _both(spark, [("x", 1), ("y", None)], schema)
    assert a.schema == b.schema
    assert _rows(a) == _rows(b)
    empty = local_df(spark, [], schema)
    assert empty.collect() == [] and empty.schema == schema


def test_dates_and_bytes_identical(spark):
    rows = [(dt.date(2021, 5, 4), b"\x00\x01"), (None, None)]
    schema = "d DATE, raw BINARY"
    a, b = _both(spark, rows, schema)
    ra = [(r["d"], bytes(r["raw"]) if r["raw"] is not None else None)
          for r in a.collect()]
    rb = [(r["d"], bytes(r["raw"]) if r["raw"] is not None else None)
          for r in b.collect()]
    assert sorted(ra, key=str) == sorted(rb, key=str)


def test_plan_is_local_table_scan(spark):
    df = local_df(spark, [(1, "x")], "id INT, s STRING")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan


def test_ragged_rows_fail_loudly(spark):
    # pandas would silently NULL-pad a short tuple; the stock path
    # raises — local_df must keep the loud failure (r13 review)
    import pytest
    with pytest.raises(Exception):
        local_df(spark, [("a", 1), ("b",)], "s STRING, n BIGINT").collect()


def test_empty_grid_window_returns_empty_frame(spark):
    # an all-blank content window used to crash with "can not infer
    # schema from empty dataset" (r13 review)
    from dig_etl_engine_spark.sources.tabular import TabularSpec, _grid_to_df
    df = _grid_to_df(spark, [["h1", "h2"], ["", ""]],
                     TabularSpec(blank_row_ends_content=True))
    assert df.columns == ["h1", "h2"]
    assert df.collect() == []


def _outcome(build):
    """Collected rows, or the error class and message — what a caller
    of either path observes."""
    try:
        return "rows", _rows(build())
    except Exception as e:  # noqa: BLE001 — the error IS the outcome
        return type(e).__name__, str(e)


def test_date_in_timestamp_field_matches_stock_path(spark):
    # a pyarrow that coerces the date to a midnight timestamp would
    # diverge from the stock path, which raises — so local_df sends the
    # date to the stock path without an Arrow attempt
    rows = [(1, dt.date(2020, 1, 2)), (2, None)]
    schema = "id INT, ts TIMESTAMP"
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _outcome(lambda: local_df(spark, rows, schema))
    assert not [w for w in caught if "Arrow" in str(w.message)]
    want = _outcome(lambda: spark.createDataFrame(rows, schema))
    assert want[0] != "rows", "stock path is expected to refuse the date"
    assert got == want
