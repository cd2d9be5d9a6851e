"""drop_fields — drop one or many (possibly nested, dot-path) fields.

Parity target: reference ``DropField`` (DropField.java:44-173; SURVEY.md §2.1).
Config mirror: ``paths`` = the reference's ``fields`` list of dot-separated
paths (DropField.java:23-28; KIP-821 notation). An empty list is the identity,
matching the reference default.

Semantics replicated exactly:
  D1  null-value passthrough (DropField.java:45-46) — a null target column
      stays null (each struct rebuild sits under ``IF(col IS NULL, NULL, ...)``).
  D2  path predicate: keep a field iff its full dotted path is not in
      ``paths``; exact string match, no escaping (DropField.java:63-65).
      Paths that match nothing are silently ignored, as in the reference.
  D3  schemaless deep drop: descends only into nested *maps* / JSON objects;
      arrays are copied opaquely (DropField.java:74-76); a non-object raises
      as requireMap does (:56) — the errors of ``schemaless``.
  D4/D5 schema'd deep drop: descends only into STRUCT fields
      (DropField.java:111-113); dropping every field of a struct yields a
      legal empty struct (DropFieldTest.java:62-63) — we rebuild structs
      field-by-field instead of using ``Column.dropFields`` precisely so the
      empty-struct case works (Spark's ``dropFields`` raises
      CANNOT_DROP_ALL_FIELDS).

Representation dispatch (SURVEY.md §1.4): the target column's static dtype
plays the role of the reference's per-record ``schema == null`` check —
StructType = schema'd, MapType / JSON StringType = schemaless.

Scale: the struct and map paths are pure Catalyst expressions (no shuffle, no
Python, whole-stage-codegen capable), written as Spark SQL text
(``sqltext``); the JSON paths are ``schemaless`` steps.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql.types import DataType, MapType, StringType, StructType

from kafka_custom_transforms_spark.operators import schemaless
from kafka_custom_transforms_spark.operators.chain import Smt
from kafka_custom_transforms_spark.operators.sqltext import Expr, Struct, Value, is_struct, lit, opened


def _dropped(value: Value, prefix: str, dropset: set[str]) -> Struct:
    """Struct rebuild omitting dropped paths. Unlike ``dropFields`` it keeps
    field order, allows empty structs and keeps nulls at every level; kept
    fields carry their ``StructField.metadata`` (the reference's schema
    basics, SchemaUtil.copySchemaBasics via DropField.java:107)."""
    s = opened(value)
    kept = []
    for name, child in s.fields:
        p = prefix + name
        if p in dropset:
            continue
        if is_struct(child) and any(d.startswith(p + ".") for d in dropset):
            child = _dropped(child, p + ".", dropset)
        kept.append((name, child))
    return Struct(s.null, tuple(kept), s.metadata)


def _drop_from_map(value: Expr, prefix: str, paths: str, depth: int = 0) -> Expr:
    """Map-path drop: static recursion to the map type's depth; key prefixes
    are data-dependent so the dotted path is assembled in SQL and
    membership-tested against the literal ``paths`` array (D3 semantics:
    descend only into map-typed values; arrays stay opaque)."""
    k, v = f"__smt_k{depth}", f"__smt_v{depth}"
    out = f"map_filter({value.sql}, ({k}, {v}) -> NOT array_contains({paths}, concat({prefix}, {k})))"
    inner_t = value.dtype.valueType
    if isinstance(inner_t, MapType):
        inner = _drop_from_map(Expr(v, inner_t), f"concat({prefix}, {k}, '.')", paths, depth + 1)
        out = f"transform_values({out}, ({k}, {v}) -> IF({v} IS NULL, {v}, {inner.sql}))"
    return Expr(out, value.dtype)


def _prune_json_obj(obj: object, prefix: str, dropset: set[str]) -> object:
    """Python-side mirror of the reference's schemaless deep copy
    (DropField.java:67-82): recurse only into dicts, omit matched paths,
    copy everything else (lists included) opaquely."""
    if not isinstance(obj, dict):
        return obj
    out = {}
    for k, v in obj.items():
        p = prefix + str(k)
        if p in dropset:
            continue
        out[k] = _prune_json_obj(v, p + ".", dropset) if isinstance(v, dict) else v
    return out


def drop_fields(
    paths: Sequence[str] = (),
    target: str = "value",
    json_schema: DataType | str | None = None,
) -> Smt:
    """Build a ``DataFrame -> DataFrame`` transform dropping ``paths`` from
    the ``target`` column.

    ``target`` selects the column to operate on (the Key/Value subclass pair
    of the reference, DropField.java:137-173, generalized to any column).

    ``json_schema`` (DDL or StructType) of the JSON in a StringType target
    selects the JVM route: ``to_json`` omits null fields, and a value that
    does not fit the schema raises ``schemaless.malformed_json``. Without
    it, an Arrow-batched UDF prunes losslessly.
    """
    for p in paths:
        if not isinstance(p, str) or not p:
            raise ValueError(f"drop_fields: every path must be a non-empty string, got {p!r}")
    dropset = set(paths)

    def _rebuild(value: Value) -> Struct:
        return _dropped(value, "", dropset)

    def _plan(dtype: DataType):
        if not dropset:
            return None  # reference default config is the identity (DropField.java:27-28)
        if isinstance(dtype, StructType):
            return _rebuild
        if isinstance(dtype, MapType):
            paths_sql = "array(" + ", ".join(lit(p) for p in sorted(dropset)) + ")"
            return lambda value: _drop_from_map(value, "''", paths_sql)
        if isinstance(dtype, StringType):
            if json_schema is None:
                return schemaless.ArrowPlan("drop_fields", lambda obj: _prune_json_obj(obj, "", dropset))
            return schemaless.JvmPlan("drop_fields", schemaless.as_struct_type(json_schema), _rebuild)
        raise TypeError(
            f"drop_fields: target column {target!r} has unsupported type {dtype}; expected "
            "struct (schema'd), map or JSON string (schemaless; DropField.java:56)."
        )

    return Smt(target, _plan)
