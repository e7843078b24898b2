"""Robustness matrix: the full registry (or a named subset) must be
hash-identical between a UTC baseline session and every deployment cell
below — the repeatable form of the sweeps that caught zone-, locale- and
conf-dependent answers, so no axis can silently rot.

Usage:

    python scripts/robustness_matrix.py [sf_dir] [name ...]   # default sf0.001
    python scripts/robustness_matrix.py --cell <label> <sf_dir> ...  # (child)

Each cell is a session zone, environment additions and SQL confs:

  * ``zone`` — America/New_York session (zone-shifted epochs).
    A DIFF means a query consults the session zone on its hashed
    surface; the classes seen so far are ``unix_micros(cast(ntz AS
    timestamp))`` (use ``timestamp_diff`` against the NTZ epoch) and
    fixed-width ``F.window`` over a parsed instant (shift to the
    naive-as-UTC epoch first) — see timeseries/convert.py and
    streaming/stateful.py.
  * ``hostile`` — every environment knob the engine has been bitten by,
    at once, because the axes compose: the New York zone, a Turkish JVM
    locale (default-locale case folding — ``functions/casefold.py`` —
    and Spark's own default-locale enum lookups), a
    ``-Dfile.encoding=ISO-8859-1`` JVM charset (engine byte↔text paths
    must carry explicit UTF-8) and ``LANG=LC_ALL=C`` (a locale-default
    Python text codec, ASCII under C).
  * ``ansi_off`` — ``spark.sql.ansi.enabled=false`` turns overflow,
    cast and element_at errors into silent NULLs.
  * ``case_sensitive`` — engine-internal column-name case mixing
    crashes instead of resolving.
  * ``aqe_off`` — results must not depend on runtime re-planning.
  * ``interpreted`` — whole-stage codegen off and ``NO_CODEGEN``:
    codegen and interpreted eval are two implementations of every
    expression, and a divergence between them is silent.

The parent spawns one FRESH python child per cell — the zone is set in
the process environment (``TZ`` + ``time.tzset``) and the session conf
before the JVM starts, and the environment additions bind at JVM and
interpreter start, so flipping a conf inside a live session would cover
only the Catalyst half. Each child emits one JSON map
``{name: [rowcount, dtypes, value_hash]}``; the parent diffs every cell
against the one baseline child. Exit 2 when a child fails, 1 on any
DIFF, 0 otherwise.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

DEFAULT_SF = "/root/testdata/sf0.001"

# label -> (session zone, environment additions, SQL confs)
CELLS: dict[str, tuple[str, dict[str, str], dict[str, str]]] = {
    "baseline": ("UTC", {}, {}),
    "zone": ("America/New_York", {}, {}),
    "hostile": ("America/New_York", {
        "JAVA_TOOL_OPTIONS": "-Duser.language=tr -Duser.country=TR "
                             "-Dfile.encoding=ISO-8859-1",
        "LANG": "C",
        "LC_ALL": "C",
    }, {}),
    "ansi_off": ("UTC", {}, {"spark.sql.ansi.enabled": "false"}),
    "case_sensitive": ("UTC", {}, {"spark.sql.caseSensitive": "true"}),
    "aqe_off": ("UTC", {}, {"spark.sql.adaptive.enabled": "false"}),
    "interpreted": ("UTC", {}, {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN",
    }),
}


def _child(label: str, sf: str, names: list[str]) -> int:
    zone, _, confs = CELLS[label]
    os.environ["TZ"] = zone
    import time

    time.tzset()
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from pyspark.sql import SparkSession

    from dig_etl_engine_spark import queries as registry
    from tests.oracle_harness import _norm_rows

    b = (SparkSession.builder.master("local[8]")
         .appName(f"robustness_{label}")
         .config("spark.sql.session.timeZone", zone)
         .config("spark.sql.shuffle.partitions", "16"))
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    q = registry.queries()
    out: dict[str, list] = {}
    for name in names or sorted(q):
        df = q[name](spark, sf)
        cols, rows = _norm_rows(df.columns, [tuple(r) for r in df.collect()])
        h = hashlib.sha256(
            repr((cols, rows)).encode()).hexdigest()[:16]
        out[name] = [len(rows), [f"{c}:{t}" for c, t in df.dtypes], h]
    print("MATRIX_JSON:" + json.dumps(out, sort_keys=True))
    return 0


def split_sf_arg(args: list[str]) -> tuple[str, list[str]]:
    """Split an optional leading sf_dir from query-name args. A dataset
    dir may be given relative (testdata/sf0.001), but it must be a
    directory CONTAINING parquet tables — a bare existing dir that
    happens to share a query's name must not eat the query arg."""
    if args and (args[0].startswith("/")
                 or (os.path.isdir(args[0])
                     and glob.glob(os.path.join(args[0], "*.parquet")))):
        return os.path.abspath(args[0]), args[1:]
    return DEFAULT_SF, args


def run_child(label: str, sf: str, names: list[str]) -> dict | None:
    """Spawn one fresh child for cell ``label``; return its
    {name: [rows, dtypes, hash]} payload, or None after printing the
    failure with the cell's full settings."""
    zone, extra, confs = CELLS[label]
    env = dict(os.environ)
    for k, v in extra.items():
        # append JVM flags rather than clobber host-level settings
        env[k] = f"{env[k]} {v}" if k == "JAVA_TOOL_OPTIONS" \
            and env.get(k) else v
    proc = subprocess.run(
        [sys.executable, __file__, "--cell", label, sf, *names],
        capture_output=True, text=True, env=env)
    payload = [ln for ln in proc.stdout.splitlines()
               if ln.startswith("MATRIX_JSON:")]
    if proc.returncode != 0 or not payload:
        print(f"{label}: child failed (zone={zone}, env={extra}, "
              f"confs={confs})\n{proc.stdout[-2000:]}"
              f"\n{proc.stderr[-4000:]}")
        return None
    return json.loads(payload[0][len("MATRIX_JSON:"):])


def diff_results(base: dict, other: dict, label: str) -> list[str]:
    """Print the per-query OK/DIFF report; return the differing names."""
    bad = []
    for name in sorted(base):
        same = base[name] == other.get(name)
        print(f"{name}: {'OK' if same else f'DIFF[{label}]'} "
              f"rows={base[name][0]}")
        if not same:
            bad.append(name)
            print(f"    base ={base[name]}\n    other={other.get(name)}")
    return bad


def main(args: list[str]) -> int:
    if args[:1] == ["--cell"]:
        return _child(args[1], args[2], args[3:])
    sf, names = split_sf_arg(args)
    base = run_child("baseline", sf, names)
    if base is None:
        return 2
    rc = 0
    for label in CELLS:
        if label == "baseline":
            continue
        got = run_child(label, sf, names)
        if got is None:
            return 2
        bad = diff_results(base, got, label)
        print(f"{label}: {len(base) - len(bad)}/{len(base)} "
              f"independent at {sf}")
        if bad:
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
