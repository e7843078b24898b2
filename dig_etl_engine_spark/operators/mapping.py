"""The tabular mapping-spec executor (SURVEY §3.3): one declarative spec →
one DataFrame pipeline, collapsing the reference's two-step
``dig_tabular_import.py`` + ``generate_mydig_config.py`` flow.

Reference semantics implemented here:
  * P1 rule mapping — ``rules: [{path, field}]`` rename/copy
    (`generate_mydig_config.py:67-253`; `utilities/tests/test_data/
    test_mapping.json`);
  * P2 title template — ``"{Col A}: text {Col B}"``, missing keys → ''
    (`dig_tabular_import.py:320-342`);
  * P4 constants with dataset guard (`generate_mydig_config.py:433-465`);
  * P5 listify of type fields (`dig_tabular_import.py:306-318`);
  * P8 url/id synthesis — ``file_url + '#' + id`` with row-counter
    fallback (`dig_tabular_import.py:344-390`);
  * P7/X11 nested configs — split a wide row into a parent plus typed
    child objects gated by guards, each with its own title/type; children
    can be exploded into a child-doc table with a parent FK — the
    create_kg_node_extractor semantics (`dig_tabular_import.py:412-490`;
    `generate_mydig_config.py:190-221`);
  * F3/F4/F5 delete-values / blank removal / remove_fields fold in via the
    same spec keys.

Scale notes: the whole executor compiles to a single ``select`` (plus one
``explode`` for children) — no shuffle, fully codegen'd; the spec is data,
so a thousand datasets with a thousand specs run through one code path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dig_etl_engine_spark.operators.projections import (
    as_text, template_parts)


def template_column(template: str, available: set[str]) -> Column:
    """P2: compile ``"xxx {col} yyy"`` to a concat expression; missing
    columns substitute '' (`dig_tabular_import.py:320-342`), result
    trimmed."""
    parts = template_parts(
        template, lambda k: as_text(k) if k in available else F.lit(""))
    return F.trim(F.concat(*parts)) if parts else F.lit("")


@dataclass
class NestedConfig:
    """One child-object spec (`test_mapping.json` nested_configs shape)."""
    path: str                                   # attribute name on parent
    rules: list[dict]                           # [{path, field?}]
    kg_type: str | None = None
    title: str | None = None
    guards: list[dict] = field(default_factory=list)  # [{path, regex}]


@dataclass
class MappingSpec:
    """The mapping-spec subset the executor consumes (all optional)."""
    rules: list[dict] = field(default_factory=list)   # P1 [{path, field}]
    title: str | None = None                          # P2
    constants: list[dict] = field(default_factory=list)  # P4 [{field, value, dataset?}]
    type_field: str | list[str] | None = None         # P5 listified type
    website: str | None = None                        # P8
    file_url: str | None = None                       # P8
    id_path: str | None = None                        # P8
    dataset_identifier: str | None = None
    remove_fields: list[str] = field(default_factory=list)  # F5
    nested_configs: list[NestedConfig] = field(default_factory=list)  # P7


def _guard_pred(guards: list[dict]) -> Column:
    """F2: conjunction of regex tests (`dig_tabular_import.py:15-40`)."""
    pred = F.lit(True)
    for g in guards:
        pred = pred & F.coalesce(F.col(g["path"]).cast("string"), F.lit("")) \
            .rlike(g["regex"])
    return pred


def apply_mapping(df: DataFrame, spec: MappingSpec) -> DataFrame:
    """The parent-doc pipeline: P1 → P2 → P4 → P5 → P8 → F5, one select."""
    cols = set(df.columns)
    out: list[Column] = []

    keep = [c for c in df.columns if c not in spec.remove_fields]
    mapped = {r["field"]: F.col(r["path"]) for r in spec.rules}
    for name in keep:
        if name not in mapped:
            out.append(F.col(name))
    out.extend(expr.alias(name) for name, expr in mapped.items())

    if spec.title is not None:
        out.append(template_column(spec.title, cols).alias("title"))
    if spec.type_field is not None:
        types = (spec.type_field if isinstance(spec.type_field, list)
                 else [spec.type_field])
        out.append(F.array(*[F.lit(t) for t in types]).alias("type"))
    for const in spec.constants:
        val = const["value"]
        col = (F.array(*[F.lit(v) for v in val]) if isinstance(val, list)
               else F.lit(val))
        if const.get("dataset") and spec.dataset_identifier is not None:
            col = F.when(F.lit(spec.dataset_identifier) == const["dataset"],
                         col)
        out.append(col.alias(const["field"]))

    base = spec.file_url or spec.website or ""
    if base:
        # Fallback id when id_path is absent/null: deterministic content
        # hash of the full source row — stable across runs, repartitions
        # and task retries (downstream upserts key on the url), unlike
        # monotonically_increasing_id. Divergence from the reference's
        # sequential counter (dig_tabular_import.py:344-390): duplicate
        # source rows collapse to one id, which matches the upsert-by-key
        # sink semantics anyway.
        content_id = F.conv(
            F.substring(F.sha2(F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit(""))
                          for c in df.columns]), 256), 1, 15), 16, 10)
        ob_id = (F.coalesce(F.col(spec.id_path).cast("string"), content_id)
                 if spec.id_path else content_id)
        out.append(F.concat(F.lit(base), F.lit("#"), ob_id).alias("url"))
        if spec.website:
            out.append(F.lit(spec.website).alias("tld"))
    if spec.dataset_identifier is not None:
        out.append(F.lit(spec.dataset_identifier).alias("dataset_identifier"))

    return df.select(*out)


def nested_children(df: DataFrame, spec: MappingSpec, *,
                    parent_id_col: str) -> DataFrame:
    """P7/X11: emit one row per (parent row × passing nested config) — the
    child-doc table with a parent FK, the relational form of the
    reference's nested objects (children become independently searchable
    KG docs, `generate_mydig_config.py:190-221`).

    Columns: parent_id, child_path, type, title, fields map, raw_content
    (compact JSON of the fields map — divergence: the reference pretty-
    prints with indent=2, `dig_tabular_import.py:449`; same content)."""
    cols = set(df.columns)
    branches = []
    for nc in spec.nested_configs:
        fields = F.map_from_arrays(
            F.array(*[F.lit(r.get("field", r["path"])) for r in nc.rules]),
            F.array(*[F.coalesce(F.col(r["path"]).cast("string"), F.lit(""))
                      for r in nc.rules]))
        child = F.struct(
            F.lit(nc.path).alias("child_path"),
            F.lit(nc.kg_type).alias("type"),
            (template_column(nc.title, cols) if nc.title
             else F.lit("")).alias("title"),
            fields.alias("fields"),
        )
        branches.append(F.when(_guard_pred(nc.guards), child))

    exploded = df.select(
        F.col(parent_id_col).alias("parent_id"),
        F.explode(F.filter(F.array(*branches),
                           lambda c: c.isNotNull())).alias("child"))
    return exploded.select(
        "parent_id",
        F.col("child.child_path").alias("child_path"),
        F.col("child.type").alias("type"),
        F.col("child.title").alias("title"),
        F.col("child.fields").alias("fields"),
        F.concat(F.lit("<html><pre>"), F.to_json(F.col("child.fields")),
                 F.lit("</pre></html>")).alias("raw_content"),
    )
