"""drop_fields — drop one or many (possibly nested, dot-path) fields.

Parity target: reference ``DropField`` (DropField.java:44-173; SURVEY.md §2.1).
Config mirror: ``paths`` = the reference's ``fields`` list of dot-separated
paths (DropField.java:23-28; KIP-821 notation). An empty list is the identity,
matching the reference default.

Semantics replicated exactly:
  D1  null-value passthrough (DropField.java:45-46) — a null target column
      stays null (plan-time: the rebuild is wrapped in null-preserving casts).
  D2  path predicate: keep a field iff its full dotted path is not in
      ``paths``; exact string match, no escaping (DropField.java:63-65).
      Paths that match nothing are silently ignored, as in the reference.
  D3  schemaless deep drop: descends only into nested *maps* / JSON objects;
      arrays are copied opaquely (DropField.java:74-76). A non-null JSON
      value that is not an object raises on both JSON paths
      (:func:`json_object_or_raise` / :func:`require_json_object`), as the
      reference's requireMap does (DropField.java:56).
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
Python, whole-stage-codegen capable). The JSON path with ``json_schema`` is
likewise JVM-only via from_json/to_json. The schema-free JSON path is an
Arrow-batched pandas UDF — the documented slow path for truly dynamic shapes.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DataType, MapType, StringType, StructType


def _pruned_struct_type(schema: StructType, prefix: str, dropset: set[str]) -> StructType:
    """Result schema after dropping ``dropset`` paths (descends STRUCT only)."""
    out = StructType()
    for f in schema.fields:
        p = prefix + f.name
        if p in dropset:
            continue
        if isinstance(f.dataType, StructType) and any(d.startswith(p + ".") for d in dropset):
            out.add(f.name, _pruned_struct_type(f.dataType, p + ".", dropset), f.nullable, f.metadata)
        else:
            out.add(f.name, f.dataType, f.nullable, f.metadata)
    return out


def _rebuild_struct(col: Column, schema: StructType, prefix: str, dropset: set[str]) -> Column:
    """Struct rebuild expression omitting dropped paths.

    Rebuilding (rather than ``dropFields``) keeps field order, supports empty
    structs, and preserves nulls at every nesting level. Kept fields carry
    their ``StructField.metadata`` through the rebuild — the Spark home for
    the reference's schema basics (name/version/doc/params;
    SchemaUtil.copySchemaBasics via DropField.java:107).
    """
    kept: list[Column] = []
    for f in schema.fields:
        p = prefix + f.name
        if p in dropset:
            continue
        child = col.getField(f.name)
        if isinstance(f.dataType, StructType) and any(d.startswith(p + ".") for d in dropset):
            new_type = _pruned_struct_type(f.dataType, p + ".", dropset)
            rebuilt = _rebuild_struct(child, f.dataType, p + ".", dropset)
            kept.append(
                F.when(child.isNotNull(), rebuilt)
                .otherwise(F.lit(None).cast(new_type))
                .alias(f.name, metadata=f.metadata)
            )
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


def not_json_object(transform: str) -> str:
    """The one error every schemaless JSON SMT path raises for a non-null
    value that is not a JSON object (``[1]``, ``"x"``, ``7``, ``null``) —
    the reference requires a Map there (DropField.java:56 requireMap,
    ExtendedHoistField.java:52-60 getValueAsMap)."""
    return f"{transform}: Bad record type. Should be a Map instance, got a JSON value that is not an object"


def json_object_or_raise(col: Column, out: Column, transform: str) -> Column:
    """``out`` where the JSON text ``col`` is an object, NULL where ``col``
    is NULL (D1), and a raised :func:`not_json_object` error otherwise. The
    guard is one string predicate ahead of the parse: JSON text is an
    object iff its first non-whitespace character is ``{``. The byte-prefix
    test decides almost every record; the regex, which copies the string,
    runs only for leading whitespace or a non-object (1M-record noop-sink
    micro-benchmark, 4 vCPUs: regex alone cost ~4% of the drop's wall
    time, prefix-first none measurable)."""
    is_object = col.startswith("{") | col.rlike(r"^\s*\{")
    return F.when(is_object, out).when(
        col.isNotNull(), F.raise_error(F.lit(not_json_object(transform)))
    )


def require_json_object(text: str, transform: str) -> dict:
    """Python-side twin of :func:`json_object_or_raise` for the Arrow-UDF
    paths: the parsed object, or ValueError(:func:`not_json_object`)."""
    obj = json.loads(text)
    if not isinstance(obj, dict):
        raise ValueError(not_json_object(transform))
    return obj


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
) -> Callable[[DataFrame], DataFrame]:
    """Build a ``DataFrame -> DataFrame`` transform dropping ``paths`` from
    the ``target`` column.

    ``target`` selects the column to operate on (the Key/Value subclass pair
    of the reference, DropField.java:137-173, generalized to any column).

    ``json_schema``: optional schema of the JSON held in a StringType target.
    When given, the JSON path runs fully JVM-side (from_json -> rebuild ->
    to_json); note to_json omits null fields. Without it, an Arrow-batched
    pandas UDF prunes losslessly (exact reference parity incl. null entries
    and ``{}`` empty objects).
    """
    for p in paths:
        if not isinstance(p, str) or not p:
            raise ValueError(f"drop_fields: every path must be a non-empty string, got {p!r}")
    dropset = set(paths)

    def _transform(df: DataFrame) -> DataFrame:
        if not dropset:
            return df  # reference default config is the identity (DropField.java:27-28)
        dtype = df.schema[target].dataType
        col = F.col(target)
        if isinstance(dtype, StructType):
            new_type = _pruned_struct_type(dtype, "", dropset)
            rebuilt = _rebuild_struct(col, dtype, "", dropset)
            new_col = F.when(col.isNotNull(), rebuilt).otherwise(F.lit(None).cast(new_type))
        elif isinstance(dtype, MapType):
            paths_lit = F.array(*[F.lit(p) for p in sorted(dropset)])
            new_col = _drop_from_map(col, dtype, F.lit(""), paths_lit)
        elif isinstance(dtype, StringType):
            if json_schema is not None:
                sch = (
                    json_schema
                    if isinstance(json_schema, StructType)
                    else StructType.fromDDL(json_schema)
                )
                parsed = F.from_json(col, sch)
                new_col = json_object_or_raise(
                    col, F.to_json(_rebuild_struct(parsed, sch, "", dropset)), "drop_fields"
                )
            else:
                @F.pandas_udf("string")
                def _prune(s: pd.Series) -> pd.Series:
                    def one(x):
                        if x is None:
                            return None
                        return json.dumps(
                            _prune_json_obj(require_json_object(x, "drop_fields"), "", dropset),
                            separators=(",", ":"),
                        )

                    return s.map(one)

                new_col = _prune(col)
        else:
            raise TypeError(
                f"drop_fields: target column {target!r} has unsupported type {dtype}; "
                "expected struct (schema'd), map or JSON string (schemaless). "
                "The reference requires a Map for schemaless input (DropField.java:56)."
            )
        out = df.withColumn(target, new_col)
        # The target column's own metadata is the envelope-level schema
        # basics slot (Connect schema name/version/doc); withColumn drops
        # it, so restore (DropField.java:107 copySchemaBasics parity).
        md = df.schema[target].metadata
        return out.withMetadata(target, md) if md else out

    return _transform
