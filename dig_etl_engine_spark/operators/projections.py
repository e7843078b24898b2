"""Per-row projection/transform operators (SURVEY.md §2.4 P1–P10).

Reference semantics (file:line under /root/reference):
  P1 rule mapping        — `rules: [{path, field}]` rename/copy
                           (generate_mydig_config.py:67-253)
  P2 template concat     — `"{A}: x in {B}"`, missing keys → ''
                           (dig_tabular_import.py:320-342, regex `\\{([^\\}]+)\\}`)
  P3 decoding dict       — per-column value recode with default_action
                           preserve|delete (dig_tabular_import.py:214-223,265-288)
  P4 constant injection  — guarded constants (generate_mydig_config.py:433-465)
  P5 listify             — scalar→array normalize (dig_tabular_import.py:306-318)
  P6 type→type_ rename   — ES reserved-name dodge (etk_worker.py:111-113)
  P8 url/id synthesis    — url + '#' + id, counter fallback
                           (dig_tabular_import.py:344-390)
  P9 date normalization  — multi-format parse attempt
                           (generate_mydig_config.py:233-236,614-626)
  P10 raw_content synth  — pretty JSON wrapped in <html><pre>
                           (dig_tabular_import.py:233)

Everything is built-in Column expressions: template parsing happens once on
the driver; the generated expression is JVM-codegen'd per row. No UDFs.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PLACEHOLDER = re.compile(r"\{([^\}]+)\}")


def apply_rules(df: DataFrame, rules: Sequence[Mapping[str, str]]) -> DataFrame:
    """P1: `[{path, field}]` → select/rename columns onto KG field names."""
    return df.select(*[F.col(r["path"]).alias(r["field"]) for r in rules])


def template_parts(template: str,
                   field: Callable[[str], Column]) -> list[Column]:
    """The P2 placeholder parse: ``template``'s literal runs as
    literals and each ``{key}`` as ``field(key)``, in order. Parsed
    once driver-side."""
    parts: list[Column] = []
    pos = 0
    for m in _PLACEHOLDER.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        parts.append(field(m.group(1)))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    return parts


def as_text(key: str) -> Column:
    """Column ``key`` as a string, NULL rendered as ''."""
    return F.coalesce(F.col(key).cast("string"), F.lit(""))


def template_column(template: str) -> Column:
    """P2: compile `"{Date}: breach in {Location}"` into a concat expression.

    Missing/NULL keys render as '' (reference uses a defaulting formatter,
    `dig_tabular_import.py:331-340`). The result is a pure `concat` —
    whole-stage codegen keeps it JVM-side.
    """
    parts = template_parts(template, as_text)
    return F.concat(*parts) if parts else F.lit("")


def decode_dict(column: Column, mapping: Mapping[str, str],
                default_action: str = "preserve") -> Column:
    """P3: value recode via broadcastable literal map.

    default_action='preserve' keeps unmapped values; 'delete' nulls them
    (`dig_tabular_import.py:265-288`; tests `test_decode_dict.py:15-114`).
    Implemented as `element_at(map_literal, col)` — constant-folded by
    Catalyst, no join, no UDF. For maps too large to inline (>~10k entries)
    use a broadcast join against a mapping DataFrame instead.
    """
    if not mapping:
        return column if default_action == "preserve" else F.lit(None)
    kv: list[Column] = []
    for k, v in mapping.items():
        kv.extend([F.lit(k), F.lit(v)])
    looked_up = F.element_at(F.create_map(*kv), column)
    if default_action == "preserve":
        return F.coalesce(looked_up, column)
    return looked_up  # delete: unmapped → NULL


def inject_constant(df: DataFrame, field: str, value, *,
                    guard: Column | None = None,
                    priority_over_existing: bool = False) -> DataFrame:
    """P4 kg_enhancement constants: add a constant field, optionally guarded
    by dataset_identifier, with priority semantics — priority=False keeps an
    existing non-null value (`generate_mydig_config.py:433-465`;
    test `test_kg_enhancement.py:17-83`)."""
    lit = F.lit(value)
    new = lit if guard is None else F.when(guard, lit)
    if field in df.columns and not priority_over_existing:
        new = F.coalesce(F.col(field), new)
    return df.withColumn(field, new)


def listify(column: Column) -> Column:
    """P5: scalar → single-element array; NULL → empty array
    (`dig_tabular_import.py:306-318`)."""
    return F.when(column.isNull(), F.array().cast("array<string>")) \
            .otherwise(F.array(column.cast("string")))


def rename_reserved(df: DataFrame, name: str = "type",
                    to: str = "type_") -> DataFrame:
    """P6: `type` → `type_` before indexing (`etk_worker.py:111-113`)."""
    return df.withColumnRenamed(name, to) if name in df.columns else df


def synthesize_url_id(base_url: Column, object_id: Column) -> Column:
    """P8: `url = base + '#' + id`; rows lacking an id fall back to a
    deterministic per-row key must be supplied by the caller (the reference
    uses a running counter, `dig_tabular_import.py:344-390` — a counter is
    not reproducible under distributed execution, so callers pass e.g. a
    row hash or monotonically_increasing_id when determinism doesn't matter)."""
    return F.concat(base_url, F.lit("#"), object_id.cast("string"))


def normalize_date(column: Column, formats: Sequence[str] = (
        "yyyy-MM-dd", "dd/MM/yyyy", "MM-dd-yyyy", "yyyy/MM/dd")) -> Column:
    """P9: multi-format date parse — first format that parses wins
    (`parse_date_generic` post-filter, `generate_mydig_config.py:614-626`).
    `try_to_timestamp` returns NULL instead of raising on mismatch."""
    attempts = [F.try_to_timestamp(column, F.lit(f)).cast("date") for f in formats]
    return F.coalesce(*attempts)


def synthesize_raw_content(columns: Sequence[str]) -> Column:
    """P10: pretty-printed JSON of the row wrapped in <html><pre>
    (`dig_tabular_import.py:233`)."""
    return F.concat(
        F.lit("<html><pre>"),
        F.to_json(F.struct(*[F.col(c) for c in columns])),
        F.lit("</pre></html>"),
    )
