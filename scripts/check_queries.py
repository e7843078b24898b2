"""Dev helper: run named registry queries against their DuckDB oracles
at a given SF dir (defaults to sf0.001 for speed). Usage:

    python scripts/check_queries.py [sf_dir] name1 name2 ...

Prints MATCH/MISMATCH per query with first differing rows.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from robustness_matrix import split_sf_arg  # noqa: E402
from dig_etl_engine_spark import queries as registry  # noqa: E402
from dig_etl_engine_spark.session import get_spark  # noqa: E402
from tests.oracle_harness import compare  # noqa: E402


def main() -> int:
    sf, args = split_sf_arg(sys.argv[1:])
    spark = get_spark("check")
    spark.sparkContext.setLogLevel("ERROR")
    q, o = registry.queries(), registry.oracle_sql()
    names = args or sorted(q)
    rc = 0
    for name in names:
        if name not in q:
            print(f"{name}: NOT REGISTERED")
            rc = 1
            continue
        sql = o.get(name)
        if sql is None:
            n = q[name](spark, sf).count()
            print(f"{name}: rows-only ({n} rows)")
            continue
        try:
            errs = compare(spark, sf, name, q[name], sql)
        except Exception as exc:  # surface oracle/spark errors per query
            errs = [f"{name}: EXCEPTION {exc}"]
        if errs:
            rc = 1
            print(f"{name}: MISMATCH")
            for e in errs:
                print("   ", str(e)[:600])
        else:
            n = q[name](spark, sf).count()
            print(f"{name}: MATCH ({n} rows)")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
