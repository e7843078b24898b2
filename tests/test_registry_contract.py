"""Structural contract of the query registry, independent of value
parity (that's `test_oracle_parity.py`):

* every registered query's OUTPUT schema is atomic — the driver's pandas
  canonicalizer crashes on array/map/struct cells (the round-4
  `unhashable type: 'list'` failure class), so this is load-bearing;
* registry iteration order is least-recently-driver-verified first —
  the driver time-boxes its sweep to a prefix window, so ordering is
  what guarantees every query cycles through verification;
* `oracle=None` escapes are enumerated, not open-ended.

Schemas are taken at sf0.001 (plan construction only where possible;
some queries materialize during construction — trainers, streams — so
this suite shares the session-scoped spark fixture).
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from dig_etl_engine_spark import queries as registry
from tests.oracle_harness import assert_atomic_schema

SF_SMALL = "/root/testdata/sf0.001"

# Queries allowed to register with oracle=None. Keep this list EMPTY
# unless a query is genuinely not SQL-replayable — and then document why
# here, not just at the registration site.
ALLOWED_NO_ORACLE: dict[str, str] = {}


def _names():
    return list(registry.queries())


_DF_CACHE: dict[str, object] = {}


def _df_for(spark, name):
    """Build (and cache) a query's DataFrame once per session — some
    queries materialize state during construction (trainers, streams),
    so the atomic-schema and wobble lints share one build."""
    if name not in _DF_CACHE:
        _DF_CACHE[name] = registry.queries()[name](spark, SF_SMALL)
    return _DF_CACHE[name]


@pytest.mark.parametrize("name", _names(), ids=_names())
def test_output_schema_is_atomic(spark, name):
    df = _df_for(spark, name)
    errs = assert_atomic_schema(name, df)
    assert not errs, "\n".join(errs)


# ---------------------------------------------------------------------------
# Wobble lint: round() over an order-sensitive float aggregate.
#
# The r5 driver caught the class instance (`ts_rolling_anomaly`): a windowed
# STDDEV_SAMP accumulates doubles in an ENGINE-CHOSEN order, a different
# DuckDB/libm build lands 1 ulp away, and `round(z, 4)` flips on a
# half-boundary — locally green, red in the driver. The registry-wide lint:
# no output may be `round()` over a value whose lineage contains a
# floating-point AVG / STDDEV / VARIANCE aggregate (grouped or windowed).
# SUM and COUNT are exempt — over this repo's fixed-point inputs their true
# values sit far from every rounding boundary (see
# `timeseries/convert.py:rolling_anomaly` for the full argument) — and so
# are aggregates over integer/decimal inputs, whose sums are exact. The safe
# pattern is the one `ts_rolling_anomaly` uses: aggregate exact quantities
# (SUM, SUMSQ, COUNT), derive the statistic per-row with an expression tree
# mirrored token-for-token in the oracle.
#
# The SUM exemption carries a GRANULARITY condition, audited registry-wide
# (r6): round(SUM(x), d) is boundary-safe only while x's fixed-point
# granularity is ≥ 10^-d — a sum of 2-decimal values rounded to 2 digits can
# never sit on a half-boundary, but a sum of 4-decimal PRODUCTS
# (price·(1−discount)) rounded to 2 digits hits one in ~100 groups. The
# audit (round-over-float-SUM lineage scan over all registered queries)
# found and fixed the finer-grained sites: the three revenue joins moved to
# exact 1e-4-unit integer sums, and ts_trend_linear_fit's regr_* covariance
# aggregates (same wobble class, now in _WOBBLY_AGGS) moved to 128-bit
# closed forms. Remaining round-over-SUM sites are granularity-safe
# (2-dec sums rounded to 2) or weighted-score sums in 0.5 steps.
#
# The check walks the ANALYZED JVM plan and resolves attribute references
# through their defining Alias nodes — a textual scan cannot see that
# `round(_we2, 4)` hides a stddev behind a window-expression attribute,
# which is exactly how the offender was written.
# ---------------------------------------------------------------------------

_WOBBLY_AGGS = {"Average", "StddevSamp", "StddevPop", "VarianceSamp",
                "VariancePop", "Corr", "CovSample", "CovPopulation",
                "Skewness", "Kurtosis", "RegrSlope", "RegrIntercept",
                "RegrR2", "RegrSXX", "RegrSXY", "RegrSYY", "RegrAvgX",
                "RegrAvgY"}
_FLOATY = {"double", "float"}

# name → why round-over-float-aggregate is provably safe THERE. Empty by
# design: every former member was rewritten onto the exact-aggregate
# pattern instead of being argued around.
WOBBLE_ALLOWLIST: dict[str, str] = {}


def _jseq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _walk_plan(p):
    yield p
    for c in _jseq(p.children()):
        yield from _walk_plan(c)


def _walk_expr(e):
    yield e
    for c in _jseq(e.children()):
        yield from _walk_expr(c)


def _wobbly_rounds(df) -> list[str]:
    """Names of Round expressions in ``df``'s analyzed plan whose
    (alias-resolved) lineage contains an order-sensitive float
    aggregate."""
    plan = df._jdf.queryExecution().analyzed()
    aliases: dict[int, object] = {}
    rounds = []
    for node in _walk_plan(plan):
        for top in _jseq(node.expressions()):
            for e in _walk_expr(top):
                cls = e.getClass().getSimpleName()
                if cls == "Alias":
                    aliases[e.exprId().id()] = e.child()
                elif cls in ("Round", "BRound"):
                    rounds.append(e)

    def lineage_has_wobbly_agg(e, seen: set[int]) -> str | None:
        for sub in _walk_expr(e):
            cls = sub.getClass().getSimpleName()
            if cls in _WOBBLY_AGGS:
                kids = _jseq(sub.children())
                if kids and kids[0].dataType().simpleString() in _FLOATY:
                    return cls
            elif cls == "AttributeReference":
                aid = sub.exprId().id()
                target = aliases.get(aid)
                if target is not None and aid not in seen:
                    hit = lineage_has_wobbly_agg(target, seen | {aid})
                    if hit:
                        return hit
        return None

    out = []
    for r in rounds:
        hit = lineage_has_wobbly_agg(r, set())
        if hit:
            out.append(f"{hit} under {r.toString()[:120]}")
    return out


@pytest.mark.parametrize("name", _names(), ids=_names())
def test_no_round_over_float_aggregate(spark, name):
    if name in WOBBLE_ALLOWLIST:
        pytest.skip(f"allowlisted: {WOBBLE_ALLOWLIST[name]}")
    hits = _wobbly_rounds(_df_for(spark, name))
    assert not hits, (
        f"{name}: round() applied over an order-sensitive float aggregate "
        f"— cross-engine 1-ulp accumulation wobble can flip the rounded "
        f"digit (the ts_rolling_anomaly r5 driver failure class). Derive "
        f"the statistic per-row from exact windowed SUM/SUMSQ/COUNT "
        f"instead (see timeseries/convert.py:rolling_anomaly):\n  "
        + "\n  ".join(hits))


# ---------------------------------------------------------------------------
# Tie-break lint: float-ordered top-k / ranking must be a TOTAL order.
#
# The ranking cousin of the wobble class above: `ORDER BY score LIMIT k` (or
# row_number/rank over a float key) with two rows EXACTLY tied at the k
# boundary picks a different row per engine — hash mismatch with both
# engines "correct". The registry convention, enforced here: every sort
# whose keys include a float/double column must END with a non-float key (in
# practice a unique id — doc_id, o_orderkey, neighbor_id), making the order
# total wherever scores collide. Residual risk this lint CANNOT close: two
# distinct rows landing within 1 ulp of each other across engines without
# being exactly equal — accepted because the score expressions are mirrored
# token-for-token in the oracles, so both engines compute bitwise-equal
# scores per row (only aggregate ACCUMULATION order wobbles, and ranking
# keys here are per-row expressions or exact-integer-derived sums).
# ---------------------------------------------------------------------------

_RANK_FUNCS = {"RowNumber", "Rank", "DenseRank", "NTile", "PercentRank"}


def _untotal_float_orders(df) -> list[str]:
    """Order specs in ``df``'s analyzed plan (Sort nodes under a Limit, and
    rank-function window specs) that include a float key but do not end
    with a non-float tie-break key."""

    def keys(order_spec):
        return [(so.child().toString()[:80],
                 so.child().dataType().simpleString())
                for so in _jseq(order_spec)]

    plan = df._jdf.queryExecution().analyzed()
    bad = []
    for node in _walk_plan(plan):
        cls = node.getClass().getSimpleName()
        if cls in ("GlobalLimit", "LocalLimit"):
            for c in _walk_plan(node):
                if c.getClass().getSimpleName() == "Sort":
                    ks = keys(c.order())
                    if any(t in _FLOATY for _, t in ks) \
                            and ks[-1][1] in _FLOATY:
                        bad.append(f"limit+sort {ks}")
                    break  # nearest Sort governs this Limit
        elif cls == "Window":
            for wex in _jseq(node.expressions()):
                sub_iter = list(_walk_expr(wex))
                if not any(s.getClass().getSimpleName() in _RANK_FUNCS
                           for s in sub_iter):
                    continue
                for s in sub_iter:
                    if s.getClass().getSimpleName() == \
                            "WindowSpecDefinition":
                        ks = keys(s.orderSpec())
                        if any(t in _FLOATY for _, t in ks) \
                                and ks and ks[-1][1] in _FLOATY:
                            bad.append(f"rank-window {ks}")
                        break
    return bad


@pytest.mark.parametrize("name", _names(), ids=_names())
def test_float_topk_orders_are_total(spark, name):
    hits = _untotal_float_orders(_df_for(spark, name))
    assert not hits, (
        f"{name}: float-keyed top-k/rank ordering without a trailing "
        f"non-float tie-break key — an exact score tie at the k boundary "
        f"resolves differently per engine. Append a unique id as the last "
        f"sort key in BOTH the Spark query and the oracle:\n  "
        + "\n  ".join(hits))


def test_float_topk_lint_catches_violations(spark):
    """The lint's own contract: flags a float-keyed limit+sort and a
    float-keyed rank window with no tie-break, passes once a unique key
    trails — otherwise a refactor could silently make it vacuous over
    all 173 queries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    df = spark.range(10).withColumn("s", F.col("id") * 1.5)
    assert _untotal_float_orders(df.orderBy(F.desc("s")).limit(3))
    ranked = df.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("s"))))
    assert _untotal_float_orders(ranked.filter("r <= 3"))
    assert not _untotal_float_orders(
        df.orderBy(F.desc("s"), "id").limit(3))
    assert not _untotal_float_orders(df.filter("s > 2"))


# ---------------------------------------------------------------------------
# Interval-frame lint: no INTERVAL-framed RANGE windows in oracle SQL.
#
# The ts_rolling_anomaly r7 residual: after the windowed arithmetic was
# proven bitwise-clean, the query still hash-flipped under the driver's
# DuckDB build — the remaining engine-sensitive surface was the oracle's
# `RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND INTERVAL 1 MICROSECOND
# PRECEDING` frame (interval frame-edge computation over timestamps is a
# known cross-version variance point in DuckDB's window code: one row
# entering/leaving the frame changes integer roll_n/roll_sum — exactly a
# hash-only mismatch). Registry convention, enforced here: event-time
# range frames order on exact BIGINT epoch-micros with INTEGER frame
# bounds (`RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING`) in
# both engines — frame-edge membership is then pure int64 comparison.
# INTERVAL in non-frame positions (comparisons, timestamp arithmetic)
# stays allowed: those expressions are mirrored token-for-token and do
# not move window frame edges.
# ---------------------------------------------------------------------------

# the scan stops at `)` (the end of the OVER/WINDOW spec) as well as at
# a nested ROWS/BETWEEN — otherwise a clean integer frame followed
# within 160 chars by a legitimate non-frame INTERVAL (timestamp
# arithmetic in a later predicate) would false-positive (r8 review)
_INTERVAL_FRAME_RE = re.compile(
    r"(?is)\brange\s+between\b(?:(?!\brows\b|\bbetween\b|\)).){0,160}?"
    r"\binterval\b")

INTERVAL_FRAME_ALLOWLIST: dict[str, str] = {}


def test_no_interval_framed_range_windows():
    o = registry.oracle_sql()
    hits = {n: m.group(0)[:100] for n, sql in o.items()
            if n not in INTERVAL_FRAME_ALLOWLIST
            and (m := _INTERVAL_FRAME_RE.search(sql))}
    assert not hits, (
        "oracle SQL uses an INTERVAL-framed RANGE window — interval "
        "frame-edge computation varies across DuckDB builds (the "
        "ts_rolling_anomaly r7 flip). Order on epoch_us(ts) with integer "
        f"frame bounds instead: {hits}")


def test_interval_frame_lint_catches_violations():
    """Self-test: the regex flags both the long ts_rolling_anomaly form
    and a short-form interval frame, and passes the integer frame that
    replaced them — otherwise a refactor could make the lint vacuous."""
    assert _INTERVAL_FRAME_RE.search(
        "OVER (ORDER BY ts RANGE BETWEEN INTERVAL 7 DAY PRECEDING "
        "AND INTERVAL 1 MICROSECOND PRECEDING)")
    assert _INTERVAL_FRAME_RE.search(
        "over (order by ts range between interval '1' hour preceding "
        "and current row)")
    assert _INTERVAL_FRAME_RE.search(  # INTERVAL in the SECOND bound
        "over (order by ts range between 5 preceding "
        "and interval '1' hour following)")
    assert not _INTERVAL_FRAME_RE.search(
        "OVER (ORDER BY ts_us RANGE BETWEEN 604800000000 PRECEDING "
        "AND 1 PRECEDING)")
    assert not _INTERVAL_FRAME_RE.search(
        "WHERE d + INTERVAL 1 DAY <= x AND RANGE BETWEEN 5 PRECEDING "
        "AND 1 PRECEDING")  # non-frame INTERVAL elsewhere is fine
    assert not _INTERVAL_FRAME_RE.search(  # r8 review false-positive:
        # integer frame, then a legit non-frame INTERVAL close behind
        "OVER (ORDER BY ts_us RANGE BETWEEN 5 PRECEDING AND CURRENT "
        "ROW) WHERE ts + INTERVAL 1 DAY <= x")


# ---------------------------------------------------------------------------
# Continuous-round lint: no engine round() over an irrational-producing
# per-row double on the hashed surface.
#
# Companion to the wobble lint above, closing the OTHER half of the
# ts_rolling_anomaly failure: even with bitwise-identical input doubles,
# Spark's Round (BigDecimal HALF_UP over the double's exact decimal
# expansion) and DuckDB's round (multiply by 10^d first) can disagree
# when the value is not a representable fixed-point rational. Values
# whose lineage passes through sqrt/log/exp/pow are continuous — their
# decimal expansion never terminates, so the two round algorithms see
# different neighborhoods of the boundary. The safe emission for such
# values is the scaled-integer tree written explicitly in BOTH engines:
# `CAST(floor(x * 10^d + 0.5) AS BIGINT)` (one correctly-rounded multiply
# + add + floor — identical bits in, identical integer out), as
# ts_rolling_anomaly's z_e4 now does. round() over fixed-point-derived
# rationals (sums of cents / 100.0 etc.) stays allowed — that class is
# covered by the r6 granularity audit.
#
# Known reach limit: values produced INSIDE a Python/Arrow UDF
# (mapInPandas) are opaque to the plan walk — `knn_bruteforce`'s
# numpy-side cosine (queries knn_cosine_bruteforce, rag_pipeline_full)
# rounds out of the lint's sight and is scheduled for the same
# scaled-integer conversion in r9 (r8's driver-verdict window is fully
# subscribed: 2 tier-0 + 7 rechecks + 41 r03-stale = 50).
# ---------------------------------------------------------------------------

_CONTINUOUS_FNS = {"Sqrt", "Cbrt", "Exp", "Expm1", "Log", "Log2", "Log10",
                   "Log1p", "Logarithm", "Pow", "Power", "Hypot", "Sin",
                   "Cos", "Tan", "Asin", "Acos", "Atan", "Atan2", "Sinh",
                   "Cosh", "Tanh"}

# name → why round-over-continuous is provably safe THERE. Keep empty:
# the scaled-integer emission pattern removes the need.
CONTINUOUS_ROUND_ALLOWLIST: dict[str, str] = {}


def _continuous_rounds(df) -> list[str]:
    """Round/BRound expressions in ``df``'s analyzed plan whose
    (alias-resolved) lineage contains an irrational-producing function —
    same walk as ``_wobbly_rounds`` with a different target set."""
    plan = df._jdf.queryExecution().analyzed()
    aliases: dict[int, object] = {}
    rounds = []
    for node in _walk_plan(plan):
        for top in _jseq(node.expressions()):
            for e in _walk_expr(top):
                cls = e.getClass().getSimpleName()
                if cls == "Alias":
                    aliases[e.exprId().id()] = e.child()
                elif cls in ("Round", "BRound"):
                    rounds.append(e)

    def lineage_has_continuous(e, seen: set[int]) -> str | None:
        for sub in _walk_expr(e):
            cls = sub.getClass().getSimpleName()
            if cls in _CONTINUOUS_FNS:
                return cls
            if cls == "AttributeReference":
                aid = sub.exprId().id()
                target = aliases.get(aid)
                if target is not None and aid not in seen:
                    hit = lineage_has_continuous(target, seen | {aid})
                    if hit:
                        return hit
        return None

    out = []
    for r in rounds:
        hit = lineage_has_continuous(r, set())
        if hit:
            out.append(f"{hit} under {r.toString()[:120]}")
    return out


@pytest.mark.parametrize("name", _names(), ids=_names())
def test_no_round_over_continuous_double(spark, name):
    if name in CONTINUOUS_ROUND_ALLOWLIST:
        pytest.skip(f"allowlisted: {CONTINUOUS_ROUND_ALLOWLIST[name]}")
    hits = _continuous_rounds(_df_for(spark, name))
    assert not hits, (
        f"{name}: engine round() applied over a continuous "
        f"(sqrt/log/exp/pow-derived) double — Spark's BigDecimal HALF_UP "
        f"and DuckDB's multiply-first round can disagree on such values "
        f"even from bitwise-identical doubles (the ts_rolling_anomaly r7 "
        f"residual). Emit CAST(floor(x * 10^d + 0.5) AS BIGINT) written "
        f"explicitly in BOTH engines instead:\n  " + "\n  ".join(hits))


def test_continuous_round_lint_catches_violations(spark):
    """Self-test: flags round(sqrt(x), 4) — including hidden behind an
    alias — passes the scaled-integer emission and passes round over a
    fixed-point rational (the granularity-audited class)."""
    from pyspark.sql import functions as F
    df = spark.range(1, 10).withColumn("x", F.col("id") * 1.0)
    assert _continuous_rounds(df.select(F.round(F.sqrt("x"), 4)))
    aliased = df.withColumn("s", F.sqrt("x"))
    assert _continuous_rounds(aliased.select(F.round(F.col("s"), 4)))
    assert not _continuous_rounds(df.select(
        F.floor(F.sqrt("x") * 10_000 + F.lit(0.5)).cast("long")))
    assert not _continuous_rounds(df.select(
        F.round(F.col("id").cast("double") / 100.0, 2)))


def test_no_oracle_escapes_are_enumerated():
    q = registry.queries()
    o = registry.oracle_sql()
    missing = {n for n in q if n not in o}
    assert missing == set(ALLOWED_NO_ORACLE), (
        f"queries registered with oracle=None but not documented in "
        f"ALLOWED_NO_ORACLE: {sorted(missing - set(ALLOWED_NO_ORACLE))}; "
        f"stale allowlist entries: {sorted(set(ALLOWED_NO_ORACLE) - missing)}"
    )


# ---------------------------------------------------------------------------
# Generator-tree CSE lint (r11, generalizing the r10 bind-once pin in
# test_bindings.py): Catalyst performs no common-subexpression
# elimination inside higher-order-function lambdas, and a lambda body
# re-evaluates PER ELEMENT — so an expensive kernel (split / regexp /
# translate / json) sitting inside a lambda body WITHOUT depending on
# the lambda's variable is loop-invariant work paid once per element
# instead of once per row. The r9 `decontaminate_eval_overlap`
# regression was exactly this: a 13-gram builder's tokenization inside
# the per-gram lambda re-ran 26x per row. The r10 fix pinned the four
# known builders; this lint scans EVERY registered query's analyzed
# plan for the hazard class itself. Allowlist kept EMPTY — a legitimate
# hit must be rebound through functions/bindings.py:bind_once instead
# of allowlisted. (Expensive calls that DO reference the lambda
# variable are per-element by necessity and pass.)

_CSE_EXPENSIVE_HEADS = (
    "split(", "regexp_replace(", "regexp_extract(",
    "regexp_extract_all(", "RLIKE(", "translate(", "sentences(",
    "from_json(", "to_json(",
    # NOTE: heads must match the analyzed plan's rendering exactly —
    # rlike prints UPPERCASE (verified on Spark 4.1.2), the others
    # lowercase; a case-insensitive pass over the whole line is not
    # safe because str.lower() is not length-preserving for some
    # Unicode that can appear inside plan string literals
)
_CSE_ALLOWLIST: dict[str, str] = {}

_CSE_LAMBDA_VAR = re.compile(r"lambda \w+#\d+")


def _balanced_paren_end(s: str, open_i: int) -> int:
    """Index of the ')' closing the '(' at ``open_i`` (end of string if
    unbalanced — analyzed plans can elide deep trees)."""
    depth = 0
    for i in range(open_i, len(s)):
        if s[i] == "(":
            depth += 1
        elif s[i] == ")":
            depth -= 1
            if depth == 0:
                return i
    return len(s) - 1


def generator_cse_violations(plan: str) -> list[str]:
    """Loop-invariant expensive calls inside HOF lambda bodies of an
    analyzed-plan string. For every ``lambdafunction(...)`` span, each
    expensive call whose own balanced span references NO lambda
    variable (``lambda x_N#id`` — uses print with the same prefix as
    bindings) is flagged: it does not depend on the element, so every
    per-element evaluation after the first is wasted."""
    out = []
    for line in plan.splitlines():
        idx = 0
        while True:
            j = line.find("lambdafunction(", idx)
            if j < 0:
                break
            open_i = j + len("lambdafunction")
            end = _balanced_paren_end(line, open_i)
            body = line[open_i + 1:end]
            for head in _CSE_EXPENSIVE_HEADS:
                k = 0
                while True:
                    h = body.find(head, k)
                    if h < 0:
                        break
                    span_end = _balanced_paren_end(body, h + len(head) - 1)
                    span = body[h:span_end + 1]
                    if not _CSE_LAMBDA_VAR.search(span):
                        out.append(
                            f"loop-invariant {head.rstrip('(')} inside a "
                            f"lambda body — re-evaluated per element with "
                            f"no CSE; bind it once "
                            f"(functions/bindings.py) | {span[:160]}")
                    k = span_end + 1
            idx = open_i + 1  # also visit nested lambdas
    return out


@pytest.mark.parametrize("name", _names(), ids=_names())
def test_no_repeated_expensive_exprs_in_generator_trees(spark, name):
    if name in _CSE_ALLOWLIST:
        pytest.skip(_CSE_ALLOWLIST[name])
    df = _df_for(spark, name)
    plan = df._jdf.queryExecution().analyzed().toString()
    errs = generator_cse_violations(plan)
    assert not errs, f"{name}:\n" + "\n".join(errs)


def test_generator_cse_lint_catches_violations(spark):
    """Plant the exact r9 hazard — an inlined 13-gram builder whose
    tokenization repeats inside the Generate tree — and assert the lint
    fires; then assert the bound form passes."""
    from pyspark.sql import functions as F

    from dig_etl_engine_spark.functions.bindings import bind_once

    df = spark.createDataFrame([(1, "a b c d e f")], "id long, text string")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    inlined = df.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 12, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 13)))).alias("g"))
    plan = inlined._jdf.queryExecution().analyzed().toString()
    assert generator_cse_violations(plan), \
        "lint missed a 3x-repeated split( inside a Generate tree"

    bound = df.select(F.explode(bind_once(
        toks, lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - 12, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, 13))))).alias("g"))
    plan_b = bound._jdf.queryExecution().analyzed().toString()
    assert not generator_cse_violations(plan_b), plan_b


def test_registry_orders_least_recently_verified_first():
    """The driver walks `queries()` in iteration order and time/count-boxes
    the sweep, so the registry must present (1) never-verified queries,
    then (2) the stalest verdicts, in that order. Recompute each query's
    latest green round from the CORRECTNESS_r*.json files and assert the
    registry's actual order is sorted by it."""
    root = Path(__file__).resolve().parent.parent
    last: dict[str, int] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        data = json.loads(path.read_text(encoding="utf-8"))
        for n, v in data.items():
            if isinstance(v, dict) and v.get("rows_match") \
                    and v.get("schema_match") and v.get("hash_match"):
                last[n] = max(last.get(n, -1), rnd)
    names = _names()
    # -1 (never verified) sorts ahead of every recorded round
    keys = [last.get(n, -1) for n in names]
    assert keys == sorted(keys), (
        "registry iteration order violates the never/stalest policy; "
        f"first entries: {[(n, k) for n, k in zip(names, keys)][:60]}"
    )


# ---------------------------------------------------------------------------
# Kernel-output round lint (r9): no engine round() over a double produced
# by a Python/Arrow map node.
#
# Closes the continuous-round lint's documented reach limit: a double
# computed INSIDE a pandas kernel (mapInPandas / applyInPandas) carries no
# sqrt/log lineage the plan walk can see, so `F.round(kernel_output, d)`
# sailed past `_continuous_rounds` — which is exactly how
# knn_cosine_bruteforce's BLAS cosine stayed on engine round() through r8
# (and, found by the r9 audit, dedup_embedding_cosine / ann_hyperplane_lsh /
# contrastive_pairs / semdedup / incremental_embedding_dedup /
# rag_pipeline_full with it). Registry convention: anything a kernel emits
# is presumed continuous — quantize it with the shared
# `CAST(floor(x·10^d + 0.5) AS BIGINT)` tree (functions/exact.fixed),
# written token-identically in the oracle, never engine round().
#
# Known reach limit (documented, not closed): a `pin(eager=True)`
# checkpoint between the kernel and the round collapses the lineage to a
# LogicalRDD, hiding the Python node. The source-level kernel scan below
# covers the kernel interior; no registered query rounds a post-checkpoint
# kernel output today (this lint + the conversions prove the visible set
# is empty).
# ---------------------------------------------------------------------------

_PY_MAP_NODES = {"MapInPandas", "FlatMapGroupsInPandas",
                 "FlatMapGroupsInPandasWithState",
                 "TransformWithStateInPandas", "PythonMapInArrow",
                 "MapInArrow", "FlatMapGroupsInArrow"}

# name → why round-over-kernel-output is provably safe THERE. Keep empty:
# the scaled-integer emission pattern removes the need.
KERNEL_ROUND_ALLOWLIST: dict[str, str] = {}


def _kernel_output_rounds(df) -> list[str]:
    """Round/BRound expressions in ``df``'s analyzed plan whose
    (alias-resolved) lineage reaches a float/double attribute emitted by
    a Python/Arrow map node — same walk as ``_wobbly_rounds`` with the
    target being the map node's output attribute set."""
    plan = df._jdf.queryExecution().analyzed()
    aliases: dict[int, object] = {}
    rounds = []
    py_attrs: dict[int, str] = {}
    for node in _walk_plan(plan):
        cls = node.getClass().getSimpleName()
        if cls in _PY_MAP_NODES:
            out_attrs = node.output()
            for i in range(out_attrs.size()):
                a = out_attrs.apply(i)
                if a.dataType().simpleString() in _FLOATY:
                    py_attrs[a.exprId().id()] = f"{cls}.{a.name()}"
        for top in _jseq(node.expressions()):
            for e in _walk_expr(top):
                ecls = e.getClass().getSimpleName()
                if ecls == "Alias":
                    aliases[e.exprId().id()] = e.child()
                elif ecls in ("Round", "BRound"):
                    rounds.append(e)

    def lineage_hits_kernel(e, seen: set[int]) -> str | None:
        for sub in _walk_expr(e):
            scls = sub.getClass().getSimpleName()
            # scalar pandas_udf / python udf results are EXPRESSIONS at
            # the analyzed level (no map node) — a floaty PythonUDF
            # anywhere under the round is the same kernel-output class
            # (r9 round-close review: this reach was missing)
            if scls in ("PythonUDF", "PythonUDAF") \
                    and sub.dataType().simpleString() in _FLOATY:
                return f"{scls}<{sub.dataType().simpleString()}>"
            if scls == "AttributeReference":
                aid = sub.exprId().id()
                if aid in py_attrs:
                    return py_attrs[aid]
                target = aliases.get(aid)
                if target is not None and aid not in seen:
                    hit = lineage_hits_kernel(target, seen | {aid})
                    if hit:
                        return hit
        return None

    out = []
    for r in rounds:
        hit = lineage_hits_kernel(r, set())
        if hit:
            out.append(f"{hit} under {r.toString()[:120]}")
    return out


@pytest.mark.parametrize("name", _names(), ids=_names())
def test_no_round_over_kernel_output(spark, name):
    if name in KERNEL_ROUND_ALLOWLIST:
        pytest.skip(f"allowlisted: {KERNEL_ROUND_ALLOWLIST[name]}")
    hits = _kernel_output_rounds(_df_for(spark, name))
    assert not hits, (
        f"{name}: engine round() applied over a double emitted by a "
        f"Python/Arrow kernel — the value is presumed continuous (BLAS "
        f"cosines, learned scores) and Spark's BigDecimal HALF_UP vs "
        f"DuckDB's multiply-first round can flip the digit (the "
        f"knn_cosine_bruteforce r9 conversion class). Emit "
        f"CAST(floor(x * 10^d + 0.5) AS BIGINT) via functions/exact.fixed "
        f"in BOTH engines instead:\n  " + "\n  ".join(hits))


def test_kernel_output_round_lint_catches_violations(spark):
    """Self-test: flags round over a mapInPandas double — including
    hidden behind an alias — passes the scaled-integer emission, passes
    round over a JVM-computed double, and ignores integer kernel
    outputs."""
    import pandas as pd  # noqa: F401  (executor-side import)

    from pyspark.sql import functions as F

    df = spark.range(8).withColumn("v", F.col("id") * 1.0)

    def k(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame({"id": pdf["id"], "s": pdf["v"] * 0.5,
                                "n": pdf["id"] * 2})

    m = df.mapInPandas(k, "id long, s double, n long")
    assert _kernel_output_rounds(m.select(F.round("s", 4)))
    aliased = m.withColumn("t", F.col("s") + 1.0)
    assert _kernel_output_rounds(aliased.select(F.round("t", 4)))
    assert not _kernel_output_rounds(
        m.select(F.floor(F.col("s") * 10_000 + F.lit(0.5)).cast("long")))
    assert not _kernel_output_rounds(
        m.select(F.round(F.col("n") / 100.0, 2)))   # int output is exempt
    assert not _kernel_output_rounds(
        df.select(F.round(F.col("v") / 3.0, 4)))    # no kernel at all
    # scalar pandas_udf results are expressions, not map nodes — the
    # lint must still see them (r9 round-close review reach fix)
    half = F.pandas_udf(lambda s: s * 0.5, "double")
    assert _kernel_output_rounds(
        df.select(F.round(half(F.col("v")), 4)))
    assert _kernel_output_rounds(           # …including via an alias
        df.select(half(F.col("v")).alias("h"))
          .select(F.round(F.col("h") + 1.0, 4)))
    assert not _kernel_output_rounds(       # scaled-integer emission ok
        df.select(F.floor(half(F.col("v")) * 10_000 + F.lit(0.5))
                  .cast("long")))


# ---------------------------------------------------------------------------
# Kernel-interior round lint (r9): no round()/np.round/.round() CALL inside
# a pandas-kernel function body anywhere in the package.
#
# The other half of the blind spot: quantization applied INSIDE the kernel
# (numpy round, Python round — Python's is even HALF-EVEN) is invisible to
# every plan walk and lands on the hashed surface with kernel-local
# semantics no oracle restates. Registry convention: kernels emit RAW
# doubles; quantization happens in the JVM expression tree
# (functions/exact.fixed) that the oracle mirrors. The sanctioned
# kernel-side pattern for ORDERING on the quantized grid is
# `np.floor(x * 10^d + 0.5)` — the same IEEE ops as the JVM tree, no
# round() call — as knn_bruteforce's batch-local top-k does.
#
# Scope: every function whose NAME is passed as the kernel argument of
# .mapInPandas / .applyInPandas / .applyInPandasWithState /
# .transformWithStateInPandas / .mapInArrow anywhere under
# dig_etl_engine_spark/, plus inline lambda kernels, factory-call
# kernels (the FACTORY's whole body is scanned — the returned closure
# is a nested def, and driver-side rounds feeding kernel state are the
# same hazard), and the keyword (func=) form.
# ---------------------------------------------------------------------------

_KERNEL_SINKS = {"mapInPandas", "applyInPandas", "applyInPandasWithState",
                 "transformWithStateInPandas", "mapInArrow",
                 # scalar-UDF kernels are the same class (r9 review)
                 "pandas_udf"}

# "file.py:kernel_name" → why a round call inside that kernel is safe.
# Keep empty: the floor(x·10^d + 0.5) ordering pattern removes the need.
KERNEL_SOURCE_ALLOWLIST: dict[str, str] = {}


def _round_calls_in(fn_node, rel: str, kernel: str) -> list[str]:
    import ast

    hits = []
    for sub in ast.walk(fn_node):
        if not isinstance(sub, ast.Call):
            continue
        f = sub.func
        if isinstance(f, ast.Name) and f.id == "round":
            hits.append(f"{rel}:{sub.lineno} kernel={kernel} round()")
        elif isinstance(f, ast.Attribute) and f.attr in ("round", "around"):
            hits.append(f"{rel}:{sub.lineno} kernel={kernel} .{f.attr}()")
    return hits


def _kernel_source_round_sites(pkg_root: Path) -> list[str]:
    import ast

    def _callable_name(f) -> str | None:
        if isinstance(f, ast.Name):
            return f.id
        if isinstance(f, ast.Attribute):
            return f.attr
        return None

    # PHASE 1 (package-global): collect every name that flows into a
    # kernel sink anywhere in the package — a kernel def'd in one module
    # and passed as helpers.kern from another must still be scanned
    # (r9 round-close review: the scan was file-local and missed
    # attribute references, factory calls, keyword func=, and
    # pandas_udf in both call and decorator form).
    trees: list[tuple[str, str, object]] = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = path.relative_to(pkg_root.parent).as_posix()
        trees.append((path.name, rel,
                      ast.parse(path.read_text(encoding="utf-8"))))
    kernel_names: set[str] = set()
    hits = []
    for fname, rel, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                # @pandas_udf("double") / @F.pandas_udf(...) decorators
                for dec in node.decorator_list:
                    d = dec.func if isinstance(dec, ast.Call) else dec
                    if _callable_name(d) == "pandas_udf":
                        kernel_names.add(node.name)
                continue
            if not (isinstance(node, ast.Call)
                    and _callable_name(node.func) in _KERNEL_SINKS):
                continue
            # the kernel may arrive positionally or as func=...
            a = node.args[0] if node.args else next(
                (kw.value for kw in node.keywords
                 if kw.arg == "func"), None)
            if isinstance(a, ast.Name):
                kernel_names.add(a.id)
            elif isinstance(a, ast.Attribute):
                kernel_names.add(a.attr)          # helpers.kern
            elif isinstance(a, ast.Lambda):
                hits += _round_calls_in(a, rel, "<lambda>")
            elif isinstance(a, ast.Call):
                # factory form — mapInPandas(assign_fn(state), schema)
                # (ivf k-means). Scan the whole FACTORY body: the
                # returned closure is a nested def, and ast.walk on
                # the factory covers it. Over-approximates (a round
                # in the factory outside the closure also flags) —
                # deliberately: a driver-side round() feeding kernel
                # state is the same HALF-EVEN hazard the
                # ivf_kmeans_train r9 conversion removed.
                nm = _callable_name(a.func)
                if nm:
                    kernel_names.add(nm)

    # PHASE 2: scan every matching def in EVERY package file (a name
    # collision scans an unrelated same-named def too — acceptable
    # over-approximation for an empty-allowlist lint)
    for fname, rel, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    and node.name in kernel_names:
                key = f"{fname}:{node.name}"
                if key in KERNEL_SOURCE_ALLOWLIST:
                    continue
                hits += _round_calls_in(node, rel, node.name)
    return hits


def test_no_round_inside_pandas_kernels():
    pkg = Path(__file__).resolve().parent.parent / "dig_etl_engine_spark"
    hits = _kernel_source_round_sites(pkg)
    assert not hits, (
        "round()/np.round/.round() called inside a pandas kernel — "
        "kernel-local quantization is invisible to the plan lints and no "
        "oracle restates it. Emit the raw double and quantize with "
        "functions/exact.fixed in the JVM tree; for kernel-side ORDERING "
        "use np.floor(x * 10^d + 0.5) (no round call):\n  "
        + "\n  ".join(hits))


def test_kernel_source_lint_catches_violations(tmp_path):
    """Self-test over a synthetic module: flags round/np.round/.round in
    named, lambda, factory-call (``mapInPandas(mk(state), ...)``) and
    keyword (``func=``) kernels, passes np.floor ordering and rounds
    outside kernels — otherwise a refactor could make the scan vacuous."""
    mod = tmp_path / "dig_etl_engine_spark"
    mod.mkdir()
    (mod / "bad.py").write_text(
        "def outer(df):\n"
        "    def k(batches):\n"
        "        for pdf in batches:\n"
        "            yield pdf.assign(s=round(pdf.s, 4))\n"
        "    return df.mapInPandas(k, 's double')\n"
        "def outer2(df):\n"
        "    def g(pdf):\n"
        "        import numpy as np\n"
        "        return pdf.assign(s=np.round(pdf.s, 4))\n"
        "    return df.groupBy('a').applyInPandas(g, 's double')\n"
        "def outer3(df):\n"
        "    return df.mapInPandas(lambda it: (p.round(2) for p in it),\n"
        "                          's double')\n"
        # factory form (ivf k-means shape) — the round hides inside the
        # closure a factory CALL returns (r9 round-close review gap)
        "def outer4(df):\n"
        "    def mk(state):\n"
        "        def run(batches):\n"
        "            for pdf in batches:\n"
        "                yield pdf.assign(s=round(pdf.s, 4))\n"
        "        return run\n"
        "    return df.mapInPandas(mk(1), 's double')\n"
        # keyword form — func= used to bypass the positional-only scan
        "def outer5(df):\n"
        "    def k5(batches):\n"
        "        import numpy as np\n"
        "        for pdf in batches:\n"
        "            yield pdf.assign(s=np.round(pdf.s, 4))\n"
        "    return df.mapInPandas(func=k5, schema='s double')\n"
        # attribute reference to a kernel DEF'd IN ANOTHER MODULE —
        # the file-local scan missed this entirely (r9 review)
        "def outer6(df, helpers):\n"
        "    return df.groupBy('a').applyInPandas(helpers.far_kern,\n"
        "                                         's double')\n"
        # pandas_udf, decorator and call form — scalar-UDF kernels are
        # the same continuous-round class
        "@pandas_udf('double')\n"
        "def pk(s):\n"
        "    return s.round(2)\n"
        "def outer7(df, F):\n"
        "    def pk2(s):\n"
        "        import numpy as np\n"
        "        return np.round(s, 4)\n"
        "    return df.select(F.pandas_udf(pk2, 'double')(df.s))\n")
    (mod / "helpers.py").write_text(
        # no kernel SINK in this file — only the cross-module def
        "def far_kern(pdf):\n"
        "    return pdf.assign(s=round(pdf.s, 4))\n")
    (mod / "good.py").write_text(
        "def outer(df):\n"
        "    def k(batches):\n"
        "        import numpy as np\n"
        "        for pdf in batches:\n"
        "            order = np.floor(pdf.s * 1e4 + 0.5)\n"
        "            yield pdf\n"
        "    return df.mapInPandas(k, 's double')\n"
        "def not_a_kernel(x):\n"
        "    return round(x, 4)\n")
    hits = _kernel_source_round_sites(mod)
    assert len([h for h in hits if "bad.py" in h]) == 7, hits
    assert len([h for h in hits if "helpers.py" in h]) == 1, hits
    assert not [h for h in hits if "good.py" in h], hits


# --- lint: no raw engine case folding outside functions/casefold.py ----------
#
# F.lower/F.upper/F.initcap compile to UTF8String casing whose non-ASCII
# path is java.lang.String.toLowerCase()/.toUpperCase() with the JVM
# DEFAULT locale (measured r9: lower('AÉI') == 'aéı' under
# -Duser.language=tr — dotless ı — vs 'aéi' under en/C/root). Every
# case-folded surface (dedup fingerprints, normalize keys, token
# streams, match keys) must go through functions/casefold.py, whose
# wrappers pre-fold the locale-conditional trigger codepoints so output
# is identical under every deployment locale. Allowlist EMPTY by design;
# casefold.py itself is the single permitted caller.


def _raw_casing_sites(pkg_root: Path) -> list[str]:
    import ast
    import re

    # lcase/ucase are engine ALIASES of lower/upper (same UTF8String
    # casing underneath) — same hazard, same lint
    CASING = ("lower", "upper", "initcap", "lcase", "ucase")
    # SQL-string doors: the same engine casing reached through a SQL
    # fragment — F.expr("lower(x)"), df.selectExpr(...), spark.sql(...),
    # and string predicates to filter/where. SQL function names are
    # case-insensitive; \b keeps 'power(' / 'flower(' out.
    SQL_DOORS = ("expr", "selectExpr", "sql", "filter", "where")
    sql_casing = re.compile(
        r"(?i)\b(" + "|".join(CASING) + r")\s*\(")
    hits = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel_pkg = path.relative_to(pkg_root).as_posix()
        if rel_pkg == "functions/casefold.py":
            continue   # the single permitted caller — full path, not
                       # basename, so a stray casefold.py elsewhere in
                       # the package cannot self-exempt
        rel = path.relative_to(pkg_root.parent).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            # evasion door 1: from pyspark.sql.functions import lower
            if isinstance(node, ast.ImportFrom) \
                    and node.module == "pyspark.sql.functions":
                for alias in node.names:
                    if alias.name in CASING:
                        hits.append(f"{rel}:{node.lineno} "
                                    f"imports functions.{alias.name}")
                continue
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            # F.lower(...) / functions.upper(...) — NOT x.lower() (the
            # locale-free Python str method; value must be the pyspark
            # functions-module alias)
            if isinstance(f, ast.Attribute) and f.attr in CASING \
                    and isinstance(f.value, ast.Name) \
                    and f.value.id in ("F", "functions"):
                hits.append(f"{rel}:{node.lineno} F.{f.attr}()")
            # evasion door 4: casing inside a SQL string —
            # F.expr/selectExpr/spark.sql/filter/where("… lower(x) …").
            # Scans every string constant in the call's arguments
            # (f-string literal parts included via the subtree walk);
            # the receiver is unconstrained because selectExpr/sql hang
            # off DataFrame/SparkSession values the AST can't type.
            door = (f.attr if isinstance(f, ast.Attribute)
                    else f.id if isinstance(f, ast.Name) else None)
            if door in SQL_DOORS:
                for arg in list(node.args) + [kw.value for kw in node.keywords]:
                    for sub in ast.walk(arg):
                        if isinstance(sub, ast.Constant) \
                                and isinstance(sub.value, str) \
                                and (m := sql_casing.search(sub.value)):
                            hits.append(
                                f"{rel}:{sub.lineno} {door}(…{m.group(1)}(…)…)")
    return hits


def test_no_raw_engine_casing_outside_casefold():
    pkg = Path(__file__).resolve().parent.parent / "dig_etl_engine_spark"
    hits = _raw_casing_sites(pkg)
    assert not hits, (
        "raw engine case folding — F.lower/F.upper/F.initcap follow the "
        "deployment JVM's default locale on non-ASCII strings (tr/az/lt "
        "SpecialCasing), so the same corpus case-folds differently on "
        "differently-configured clusters. Use functions/casefold.py "
        "(safe_lower / safe_upper / ascii_initcap):\n  "
        + "\n  ".join(hits))


def test_raw_casing_lint_catches_violations(tmp_path):
    """Self-test: flags F.lower / functions.upper / F.initcap, the
    direct-import door, and the SQL-string doors (expr / selectExpr /
    spark.sql / where, f-strings included); passes Python str casing,
    casing-free SQL strings, and casefold.py's own engine calls —
    otherwise a refactor could make the scan vacuous."""
    mod = tmp_path / "dig_etl_engine_spark"
    mod.mkdir()
    (mod / "bad.py").write_text(
        "from pyspark.sql import functions as F\n"
        "from pyspark.sql import functions\n"
        "from pyspark.sql.functions import lower\n"       # door 3
        "def q1(df):\n"
        "    return df.select(F.lower(df.s))\n"            # door 1
        "def q2(df):\n"
        "    return df.select(functions.upper(df.s))\n"    # door 2
        "def q3(df):\n"
        "    return df.select(F.initcap(df.s))\n"
        "def q4(df):\n"
        "    return df.select(F.lcase(df.s), F.ucase(df.s))\n")   # alias door
    (mod / "bad_sql.py").write_text(                       # door 4
        "from pyspark.sql import functions as F\n"
        "def q1(df):\n"
        "    return df.select(F.expr('lower(s)'))\n"
        "def q2(df):\n"
        "    return df.selectExpr('UPPER(s) as u')\n"      # SQL is case-insensitive
        "def q3(spark, t):\n"
        "    return spark.sql(f'select initcap(s) from {t}')\n"   # f-string part
        "def q4(df):\n"
        "    return df.where(\"lcase(s) = 'x'\")\n")
    (mod / "good.py").write_text(
        "def cfg(path, F):\n"
        "    return path.lower() + 'x'.upper()\n"          # Python str casing
        "def q(df, safe_lower):\n"
        "    return df.select(safe_lower(df.s))\n"
        "def q2(df, F):\n"
        "    return df.select(F.expr('power(s, 2)'))\n"    # 'power(' != 'lower('
        "def q3(df):\n"
        "    return df.filter('flower_id > 1')\n")         # word boundary
    (mod / "functions").mkdir()
    (mod / "functions" / "casefold.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def safe_lower(c):\n"
        "    return F.lower(c)\n")                         # the permitted caller
    (mod / "casefold.py").write_text(
        # a stray file REUSING the permitted basename elsewhere in the
        # package must NOT self-exempt (the exemption is the full
        # package-relative path)
        "from pyspark.sql import functions as F\n"
        "def sneaky(c):\n"
        "    return F.lower(c)\n")
    hits = _raw_casing_sites(mod)
    assert len([h for h in hits if "bad.py" in h]) == 6, hits
    assert len([h for h in hits if "bad_sql.py" in h]) == 4, hits
    assert not [h for h in hits if "good.py" in h], hits
    assert not [h for h in hits if "functions/casefold.py" in h], hits
    assert len([h for h in hits
                if "dig_etl_engine_spark/casefold.py" in h]) == 1, hits


# --- lint: ascii_initcap only at proven-ASCII call sites ----------------------
#
# ascii_initcap (functions/casefold.py) is a PASSTHROUGH to F.initcap
# whose locale safety rests entirely on a per-call-site proof that the
# input is ASCII by construction (ASCII takes initcap's locale-free fast
# path). The casing lint above permits it everywhere — so without this
# allowlist, a future caller feeding it corpus text would silently
# reintroduce the default-locale initcap path with no automated check.
# New call sites must be added here WITH their ASCII proof re-derived
# (see the contract in ascii_initcap's docstring).

_ASCII_INITCAP_ALLOWED = {
    # date-candidate normalization: input is a regexp_extract match of
    # ASCII-only month-name/digit patterns — ASCII by construction
    ("functions/extractors.py", "_norm_textual"),
}


def _ascii_initcap_sites(pkg_root: Path) -> list[tuple[str, str, int]]:
    """(package-relative file, enclosing function or '<module>', line)
    for every ascii_initcap(...) call outside functions/casefold.py
    (the definition site)."""
    import ast

    sites = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel_pkg = path.relative_to(pkg_root).as_posix()
        if rel_pkg == "functions/casefold.py":
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"))

        def visit(node, func_name):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                func_name = node.name
            if isinstance(node, ast.Call):
                f = node.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute)
                        else None)
                if name == "ascii_initcap":
                    sites.append((rel_pkg, func_name, node.lineno))
            for child in ast.iter_child_nodes(node):
                visit(child, func_name)

        visit(tree, "<module>")
    return sites


def test_ascii_initcap_sites_are_allowlisted():
    pkg = Path(__file__).resolve().parent.parent / "dig_etl_engine_spark"
    offenders = [s for s in _ascii_initcap_sites(pkg)
                 if (s[0], s[1]) not in _ASCII_INITCAP_ALLOWED]
    assert not offenders, (
        "ascii_initcap called outside the allowlist — its locale safety "
        "is a per-call-site ASCII-by-construction proof, not a property "
        "of the function. Re-derive the proof for the new site and add "
        "it to _ASCII_INITCAP_ALLOWED with the proof in a comment:\n  "
        + "\n  ".join(f"{f}:{ln} in {fn}" for f, fn, ln in offenders))


def test_ascii_initcap_lint_catches_violations(tmp_path):
    """Self-test: flags bare and attribute-qualified calls with the
    right enclosing function; skips the casefold.py definition site and
    non-call name mentions (imports)."""
    mod = tmp_path / "dig_etl_engine_spark"
    (mod / "functions").mkdir(parents=True)
    (mod / "functions" / "casefold.py").write_text(
        "from pyspark.sql import functions as F\n"
        "def ascii_initcap(c):\n"
        "    return F.initcap(c)\n")
    (mod / "user.py").write_text(
        "from dig_etl_engine_spark.functions.casefold import ascii_initcap\n"
        "from dig_etl_engine_spark.functions import casefold\n"
        "def titled(df):\n"
        "    return df.select(ascii_initcap(df.s))\n"
        "def nested(df):\n"
        "    def inner(c):\n"
        "        return casefold.ascii_initcap(c)\n"
        "    return df.select(inner(df.s))\n"
        "x = ascii_initcap\n")                        # reference, not a call
    sites = _ascii_initcap_sites(mod)
    assert ("user.py", "titled", 4) in sites, sites
    assert ("user.py", "inner", 7) in sites, sites
    assert len(sites) == 2, sites


# --- lint: no locale-default text-file encoding -------------------------------
#
# Text-mode open() / Path.read_text()/.write_text() without encoding=
# follow locale.getpreferredencoding(): under LANG=C the codec is ASCII
# (a non-ASCII doc write CRASHES), and under a non-UTF-8 locale Python
# writes bytes that Spark's readers — which always assume UTF-8 — turn
# into mojibake: silently different fingerprints on differently-
# configured hosts. Same deployment-environment family as the casefold
# and session-timezone classes. Binary modes are exempt (no codec).


def _default_encoding_sites(pkg_root: Path) -> list[str]:
    import ast

    def _flag_open(node, rel, label, mode_idx, enc_idx) -> str | None:
        """Flag a text-mode open-style call missing an explicit
        encoding. ``mode_idx``/``enc_idx`` are the POSITIONAL indexes of
        mode and encoding for the callable's own signature —
        builtins/io.open: (1, 3); bound Path.open: (0, 2) (self is not
        in node.args)."""
        mode = None
        if len(node.args) > mode_idx:
            mode = node.args[mode_idx]
        for kw in node.keywords:
            if kw.arg == "mode":
                mode = kw.value
        if isinstance(mode, ast.Constant) \
                and isinstance(mode.value, str) \
                and "b" in mode.value:
            return None              # binary: no codec involved
        if len(node.args) > enc_idx:
            return None              # encoding passed positionally
        if not any(kw.arg == "encoding" for kw in node.keywords):
            return f"{rel}:{node.lineno} {label} text mode without encoding="
        return None

    hits = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel = path.relative_to(pkg_root.parent).as_posix()
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name) and f.id == "open":
                h = _flag_open(node, rel, "open()", 1, 3)
                if h:
                    hits.append(h)
            elif isinstance(f, ast.Attribute) and f.attr == "open":
                # The locale-default ATTRIBUTE doors, precisely:
                # io.open (= builtins.open) and a direct Path(...).open.
                # Receivers are matched structurally, not by flagging
                # every .open method — zf.open(member)/webbrowser.open
                # are not text-codec calls. Known blind spot, accepted:
                # a Path bound to a variable first (p = Path(x);
                # p.open('w')) — the package has no such site and the
                # dominant forms are all covered.
                if isinstance(f.value, ast.Name) and f.value.id == "io":
                    h = _flag_open(node, rel, "io.open()", 1, 3)
                elif isinstance(f.value, ast.Call) \
                        and isinstance(f.value.func, ast.Name) \
                        and f.value.func.id == "Path":
                    h = _flag_open(node, rel, "Path(...).open()", 0, 2)
                else:
                    h = None
                if h:
                    hits.append(h)
            elif isinstance(f, ast.Attribute) \
                    and f.attr in ("read_text", "write_text"):
                # encoding may ride positionally: read_text(encoding) /
                # write_text(data, encoding)
                enc_pos = 1 if f.attr == "read_text" else 2
                if not any(kw.arg == "encoding" for kw in node.keywords) \
                        and len(node.args) < enc_pos:
                    hits.append(f"{rel}:{node.lineno} .{f.attr}() "
                                "without encoding=")
    return hits


def test_no_locale_default_text_encoding():
    pkg = Path(__file__).resolve().parent.parent / "dig_etl_engine_spark"
    hits = _default_encoding_sites(pkg)
    assert not hits, (
        "text-mode file IO without encoding= follows the host locale "
        "(ASCII crash under LANG=C; mojibake against Spark's UTF-8 "
        "readers under non-UTF-8 locales) — pass encoding='utf-8':\n  "
        + "\n  ".join(hits))


def test_default_encoding_lint_catches_violations(tmp_path):
    mod = tmp_path / "dig_etl_engine_spark"
    mod.mkdir()
    (mod / "bad.py").write_text(
        "from pathlib import Path\n"
        "import io\n"
        "def w(p):\n"
        "    with open(p, 'w') as fh:\n"              # text write
        "        fh.write('x')\n"
        "    open(p).read()\n"                         # implicit text read
        "    Path(p).read_text()\n"
        "    Path(p).write_text('x')\n"
        "    Path(p).open('w').write('x')\n"           # Path.open door
        "    io.open(p).read()\n", encoding="utf-8")   # io.open door
    (mod / "good.py").write_text(
        "from pathlib import Path\n"
        "import tarfile, gzip\n"
        "def w(p, zf):\n"
        "    with open(p, 'w', encoding='utf-8') as fh:\n"
        "        fh.write('x')\n"
        "    open(p, 'rb').read()\n"
        "    open(p, mode='wb').write(b'x')\n"
        "    open(p, 'r', -1, 'utf-8').read()\n"       # positional encoding
        "    Path(p).read_text(encoding='utf-8')\n"
        "    Path(p).open('w', encoding='utf-8')\n"
        "    Path(p).open('rb')\n"                     # Path mode is args[0]
        "    Path(p).open('r', -1, 'utf-8')\n"         # Path enc is args[2]
        "    tarfile.open(p, 'r:gz')\n"                # byte-oriented APIs
        "    gzip.open(p, 'rb')\n"
        "    zf.open('member')\n", encoding="utf-8")   # instance .open
    hits = _default_encoding_sites(mod)
    assert len([h for h in hits if "bad.py" in h]) == 6, hits
    assert not [h for h in hits if "good.py" in h], hits


# --- lint: directory publication only at the sanctioned sites ----------------
#
# A directory a reader may open mid-write is published by one of three
# mechanisms: the KG table's manifest, the epoch stores of
# ``kg_table.publish_epoch``, and the staged exports' rename-aside swap
# (external readers glob their top-level files). A rename or a pointer
# commit anywhere else is a fourth hand-written protocol, with its own
# crash windows and no fault-injection test. The allowlist names each
# permitted (package-relative file, enclosing function).

_PUBLICATION_ALLOWED = {
    # the pointer primitive and the epoch helper
    ("sinks/kg_table.py", "commit_pointer"),
    ("sinks/kg_table.py", "publish_epoch"),
    # the KG table's manifest commits and staged-bucket publish
    ("sinks/kg_table.py", "create_table_if_not_exists"),
    ("sinks/kg_table.py", "_commit_buckets"),
    ("sinks/kg_table.py", "_recover_partitioned_swap"),
    ("sinks/kg_table.py", "_publish_staged_buckets"),
    # the table lock's stale-lock break (rename-aside of the lock dir)
    ("sinks/kg_table.py", "table_lock"),
    # the staged exports' swap and its heal
    ("sinks/webdataset.py", "_swap_export"),
    ("sinks/webdataset.py", "_heal_export"),
    # per-task tmp-file renames (one file, atomic on its own)
    ("sinks/webdataset.py", "_close_current"),
    ("sources/avro.py", "write_partition"),
    # the shipped package zip and the per-process scratch reap
    ("session.py", "ship_package"),
    ("queries_io.py", "_scratch"),
}


def _publication_sites(pkg_root: Path) -> list[str]:
    """``os.rename``/``os.replace``/``os.renames``, ``shutil.move`` and
    ``commit_pointer`` calls (and ``from os import`` of the renames)
    outside :data:`_PUBLICATION_ALLOWED`. Known blind spot, accepted:
    ``Path.rename``/``Path.replace`` (``.replace`` is indistinguishable
    from ``str.replace`` without types; the package has no such site)."""
    import ast

    RENAMES = ("rename", "replace", "renames")
    hits = []
    for path in sorted(pkg_root.rglob("*.py")):
        rel_pkg = path.relative_to(pkg_root).as_posix()
        rel = path.relative_to(pkg_root.parent).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        os_names = {"os"} | {
            a.asname for n in ast.walk(tree) if isinstance(n, ast.Import)
            for a in n.names if a.name == "os" and a.asname}

        def visit(node, fn):
            for ch in ast.iter_child_nodes(node):
                inner = ch.name if isinstance(
                    ch, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
                what = None
                if isinstance(ch, ast.ImportFrom) and ch.module == "os":
                    bad = [a.name for a in ch.names if a.name in RENAMES]
                    what = bad and f"from os import {', '.join(bad)}"
                elif isinstance(ch, ast.Call):
                    f = ch.func
                    if isinstance(f, ast.Attribute) \
                            and isinstance(f.value, ast.Name):
                        if f.value.id in os_names and f.attr in RENAMES:
                            what = f"os.{f.attr}()"
                        elif f.value.id == "shutil" and f.attr == "move":
                            what = "shutil.move()"
                    name = (f.attr if isinstance(f, ast.Attribute)
                            else f.id if isinstance(f, ast.Name) else None)
                    if name == "commit_pointer":
                        what = "commit_pointer()"
                if what and (rel_pkg, inner) not in _PUBLICATION_ALLOWED:
                    hits.append(f"{rel}:{ch.lineno} {what} in {inner}")
                visit(ch, inner)

        visit(tree, None)
    return hits


def test_no_directory_publication_outside_allowlist():
    pkg = Path(__file__).resolve().parent.parent / "dig_etl_engine_spark"
    hits = _publication_sites(pkg)
    assert not hits, (
        "a rename or pointer commit outside the sanctioned publication "
        "sites — publish a rebuilt directory with "
        "sinks/kg_table.publish_epoch (or add the site to "
        "_PUBLICATION_ALLOWED with the mechanism it belongs to):\n  "
        + "\n  ".join(hits))


def test_publication_lint_catches_violations(tmp_path):
    """Self-test: flags every door outside the allowlist, including an
    allowlisted function NAME in another file (the exemption is the
    package-relative path plus the function); passes ``str.replace``
    and the allowlisted sites themselves."""
    mod = tmp_path / "dig_etl_engine_spark"
    (mod / "sinks").mkdir(parents=True)
    (mod / "bad.py").write_text(
        "import os\n"
        "import os as _os\n"
        "import shutil\n"
        "from os import replace\n"                     # import door
        "from dig_etl_engine_spark.sinks import kg_table as kt\n"
        "def swap(a, b):\n"
        "    os.rename(a, b)\n"
        "    _os.replace(a, b)\n"                      # aliased module
        "    shutil.move(a, b)\n"
        "    kt.commit_pointer(a, 'x')\n"
        "def publish_epoch(a, b):\n"                   # name, wrong file
        "    os.replace(a, b)\n"
        "os.renames('a', 'b')\n", encoding="utf-8")    # module level
    (mod / "good.py").write_text(
        "def f(s):\n"
        "    return s.replace('a', 'b').rename\n", encoding="utf-8")
    (mod / "sinks" / "kg_table.py").write_text(
        "import os\n"
        "def commit_pointer(root, payload):\n"
        "    os.replace(root, payload)\n"
        "def publish_epoch(path, write):\n"
        "    commit_pointer(path, 'x')\n", encoding="utf-8")
    hits = _publication_sites(mod)
    assert len([h for h in hits if "bad.py" in h]) == 7, hits
    assert not [h for h in hits if "good.py" in h], hits
    assert not [h for h in hits if "kg_table.py" in h], hits
