"""drop_fields — drop one or many (possibly nested, dot-path) fields.

Parity target: reference ``DropField`` (DropField.java:44-173; SURVEY.md §2.1).
Config mirror: ``paths`` = the reference's ``fields`` list of dot-separated
paths (DropField.java:23-28; KIP-821 notation). An empty list is the identity,
matching the reference default.

Semantics replicated exactly:
  D1  null-value passthrough (DropField.java:45-46) — a null target column
      stays null (each struct rebuild sits under ``F.when(col.isNotNull(), ...)``).
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
Python, whole-stage-codegen capable); the JSON paths are ``schemaless`` steps.
"""

from __future__ import annotations

import functools
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DataType, MapType, StringType, StructField, StructType

from kafka_custom_transforms_spark.operators import schemaless
from kafka_custom_transforms_spark.operators.chain import Smt


def _rebuild_struct(col: Column, schema: StructType, prefix: str, dropset: set[str]) -> Column:
    """Struct rebuild omitting dropped paths. Unlike ``dropFields`` it keeps
    field order, allows empty structs and keeps nulls at every level; kept
    fields carry their ``StructField.metadata`` (the reference's schema
    basics, SchemaUtil.copySchemaBasics via DropField.java:107)."""
    kept: list[Column] = []
    for f in schema.fields:
        p = prefix + f.name
        if p in dropset:
            continue
        child = col.getField(f.name)
        if isinstance(f.dataType, StructType) and any(d.startswith(p + ".") for d in dropset):
            rebuilt = _rebuild_struct(child, f.dataType, p + ".", dropset)
            kept.append(F.when(child.isNotNull(), rebuilt).alias(f.name, metadata=f.metadata))
        else:
            kept.append(child.alias(f.name, metadata=f.metadata))
    if not kept:
        return F.expr("struct()")
    return F.struct(*kept)


def _drop_from_map(col: Column, dtype: MapType, prefix: Column, paths_lit: Column) -> Column:
    """Map-path drop: static recursion to the map type's depth; key prefixes
    are data-dependent so the dotted path is assembled as a column expression
    and membership-tested against the literal paths array (D3 semantics:
    descend only into map-typed values; arrays stay opaque)."""
    out = F.map_filter(col, lambda k, v: ~F.array_contains(paths_lit, F.concat(prefix, k)))
    if isinstance(dtype.valueType, MapType):
        inner_t = dtype.valueType

        def _desc(k: Column, v: Column) -> Column:
            return F.when(
                v.isNotNull(),
                _drop_from_map(v, inner_t, F.concat(prefix, k, F.lit(".")), paths_lit),
            ).otherwise(v)

        out = F.transform_values(out, _desc)
    return out


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


def _dropped_type(schema: StructType, prefix: str, dropset: set[str]) -> StructType:
    """The type :func:`_rebuild_struct` builds from ``schema``, which a chain
    compares with the next step's declared schema without a Spark analysis
    (one per step would sit in every stream start)."""
    fields = []
    for f in schema.fields:
        p = prefix + f.name
        if p in dropset:
            continue
        t = f.dataType
        if isinstance(t, StructType) and any(d.startswith(p + ".") for d in dropset):
            t = _dropped_type(t, p + ".", dropset)
        fields.append(StructField(f.name, t))
    return StructType(fields)


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

    def _plan(dtype: DataType) -> schemaless.Plan | None:
        if not dropset or not isinstance(dtype, StringType):
            return None
        if json_schema is None:
            return schemaless.ArrowPlan("drop_fields", lambda obj: _prune_json_obj(obj, "", dropset))
        schema = schemaless.as_struct_type(json_schema)
        rebuild = functools.partial(_rebuild_struct, prefix="", dropset=dropset)
        return schemaless.JvmPlan("drop_fields", schema, _dropped_type(schema, "", dropset), rebuild)

    def _transform(df: DataFrame) -> DataFrame:
        if not dropset:
            return df  # reference default config is the identity (DropField.java:27-28)
        dtype = df.schema[target].dataType
        col = F.col(target)
        if isinstance(dtype, StructType):
            new_col = F.when(col.isNotNull(), _rebuild_struct(col, dtype, "", dropset))
        elif isinstance(dtype, MapType):
            paths_lit = F.array(*[F.lit(p) for p in sorted(dropset)])
            new_col = _drop_from_map(col, dtype, F.lit(""), paths_lit)
        else:
            raise TypeError(
                f"drop_fields: target column {target!r} has unsupported type {dtype}; expected "
                "struct (schema'd), map or JSON string (schemaless; DropField.java:56)."
            )
        return schemaless.with_target(df, target, new_col)

    return Smt(target, _transform, _plan)
