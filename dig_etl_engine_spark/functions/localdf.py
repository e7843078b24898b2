"""Driver-local DataFrame construction without Python-worker tasks.

``spark.createDataFrame(list_of_tuples, schema)`` takes the pickled-RDD
path: the rows are parallelized into ``defaultParallelism`` slices (32
at local[32] — even for 8 rows), and EVERY downstream action launches
one Python worker per slice just to unpickle them (measured: a
count() over an 8-row list relation costs ~0.37 s at local[32], 32
tasks each blocked ~190 ms on worker round trips; guide §4.1 — the
boundary is per TASK, not per row). The pandas/Arrow path instead
ships ONE Arrow batch and plans as a JVM ``LocalTableScan``: ~0.10 s
for the same build+count, zero Python tasks, and the relation
broadcast-joins without a scan stage.

:func:`local_df` routes small driver-side row lists through the Arrow
path when the values are plain scalars, and falls back to the stock
list path otherwise. The fallback matters for exactness:

* ``float('nan')`` inside an object-dtype pandas column becomes NULL
  on the Arrow path but stays NaN on the list path — so any NaN forces
  the fallback;
* naive ``datetime``/``Decimal``/nested values have their own coercion
  rules per path — conservatively fall back;
* a ``date`` outside a DATE field: the stock path raises ``TypeError``,
  while the Arrow conversion may coerce it (a TIMESTAMP field gets
  midnight) or fail and fall back with a warning, by pyarrow version —
  so it goes straight to the stock path.

Both paths produce identical rows for None/bool/int/finite-float/str/
bytes/date scalars (pinned by tests/test_localdf.py).
"""

from __future__ import annotations

import datetime as _dt
import math

from pyspark.sql import DataFrame, SparkSession

_SCALAR_OK = (bool, int, str, bytes)


def _arrow_safe(rows, date_ok) -> bool:
    """``date_ok[i]``: field i is a DATE field, the only place a
    ``date`` value converts alike on both paths."""
    for r in rows:
        for v, ok in zip(r, date_ok):
            if v is None or isinstance(v, _SCALAR_OK):
                continue
            if isinstance(v, float):
                if math.isnan(v):
                    return False  # NaN→NULL drift on the Arrow path
                continue
            # datetime subclasses date — exclude it
            if type(v) is _dt.date and ok:
                continue
            return False
    return True


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Build a DataFrame from a small driver-side ``rows`` list (tuples
    or Rows) and an explicit ``schema`` (DDL string or StructType),
    preferring the Arrow/LocalTableScan path (module docstring).
    Result rows are identical to ``spark.createDataFrame(rows, schema)``
    — value classes the two paths coerce differently fall back."""
    rows = [tuple(r) for r in rows]
    from pyspark.sql.types import DateType, StructType
    if isinstance(schema, StructType):
        fields = schema.fields
    else:
        from pyspark.sql.types import _parse_datatype_string
        fields = _parse_datatype_string(schema).fields
    names = [f.name for f in fields]
    if not _arrow_safe(rows, [isinstance(f.dataType, DateType)
                              for f in fields]):
        return spark.createDataFrame(rows, schema)
    import pandas as pd

    if any(len(r) != len(names) for r in rows):
        # pandas would silently NULL-pad/truncate ragged tuples where
        # the stock path raises a length-mismatch error — keep the
        # loud failure (r13 review).
        return spark.createDataFrame(rows, schema)
    pdf = pd.DataFrame(rows, columns=names, dtype=object)
    try:
        return spark.createDataFrame(pdf, schema=schema)
    except Exception:
        # Arrow conversion rejected something the guard missed — the
        # stock path is always correct, just slower.
        return spark.createDataFrame(rows, schema)
