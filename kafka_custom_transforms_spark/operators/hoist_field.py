"""hoist_field — wrap the target inside a named field, keeping chosen roots.

Parity target: reference ``ExtendedHoistField`` (ExtendedHoistField.java:71-162;
SURVEY.md §2.2). Config mirror: ``field`` is required (NO_DEFAULT_VALUE,
ExtendedHoistField.java:42-43); ``keep_in_root`` defaults empty (:44-45).

Behavior branches replicated:
  H1  schemaless wrap-all: anything (null and primitives included) becomes
      ``{field: original}`` (ExtendedHoistField.java:75-79).
  H2  schemaless with keep_in_root: names in the keep list stay at root, the
      rest move under ``field``; when nothing moves, ``field`` is omitted
      entirely (ExtendedHoistField.java:80-97). A non-null value that is not
      a JSON object raises on both JSON paths (drop_field.not_json_object),
      mirroring getValueAsMap (:52-60); SQL NULL passes through (D1).
  H3  schema'd split: computed once at plan time (the reference's LRU(16)
      schema cache, :46/:67/:101/:124, is unnecessary — a DataFrame's schema
      is static; SURVEY.md §4).
  H4  schema'd value copy: null fields are skipped (visible in the JSON
      rendering — to_json omits nulls); the inner struct is null when every
      movable field is null (ExtendedHoistField.java:127-148,
      ExtendedHoistFieldTest.java:161-182).
  H5  all-fields-kept no-op: the transform is the identity when no field
      moves (ExtendedHoistField.java:149-151).
  H6  non-struct input with schema: wrapped as ``struct{field: value}``
      (ExtendedHoistField.java:152-159).
  H7  output-map mutability (:76) — N/A under Spark's immutable columns.
  H8  Key/Value variants — the ``target`` parameter.

Scale: pure Catalyst expressions everywhere except the schema-free JSON
keep_in_root path (Arrow-batched pandas UDF slow path). No shuffle anywhere.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import MapType, StringType, StructField, StructType

from kafka_custom_transforms_spark.operators.drop_field import (
    json_object_or_raise,
    require_json_object,
)


def _hoisted_type(schema: StructType, field: str, keep: list[str]) -> StructType:
    root = [schema[f.name] for f in schema.fields if f.name in keep]
    inner = StructType([schema[f.name] for f in schema.fields if f.name not in keep])
    return StructType(root + [StructField(field, inner, True)])


def _struct_hoist(col: Column, schema: StructType, field: str, keep: list[str]) -> Column | None:
    """H3/H4/H5: build the hoisted struct, or None for the identity case."""
    root_fields = [f.name for f in schema.fields if f.name in keep]
    movable = [f.name for f in schema.fields if f.name not in keep]
    if not movable:
        return None  # H5 — nothing moves, transform is the identity
    # Field metadata (the Connect schema basics slot) rides the aliases
    # through the rebuild — SchemaUtil.copySchemaBasics parity.
    inner = F.struct(
        *[col.getField(n).alias(n, metadata=schema[n].metadata) for n in movable]
    )
    inner_type = StructType([schema[n] for n in movable])
    any_set: Column = col.getField(movable[0]).isNotNull()
    for n in movable[1:]:
        any_set = any_set | col.getField(n).isNotNull()
    members = [col.getField(n).alias(n, metadata=schema[n].metadata) for n in root_fields]
    members.append(
        F.when(any_set, inner).otherwise(F.lit(None).cast(inner_type)).alias(field)
    )
    return F.struct(*members)


def hoist_field(
    field: str,
    keep_in_root: Sequence[str] = (),
    target: str = "value",
    json_schema: object | None = None,
    string_is_json: bool = True,
) -> Callable[[DataFrame], DataFrame]:
    """Build a transform wrapping the ``target`` column under ``field``.

    Representation dispatch on the target's static dtype (SURVEY.md §1.4):
      - StructType  -> schema'd path (H3-H6)
      - MapType     -> schemaless map path (H1 only; a heterogeneous
                       root/inner split is not representable in a single
                       Spark MapType — use the JSON representation for H2)
      - StringType  -> JSON schemaless path when ``string_is_json`` (H1/H2);
                       otherwise treated as a bare primitive
      - any other   -> primitive wrap (H6)

    ``json_schema`` (DDL string or StructType): enables the JVM-only fast
    path for the JSON keep_in_root split; omit it to fall back to the exact
    pandas-UDF path for arbitrary shapes.
    """
    if not isinstance(field, str) or not field:
        raise ValueError("hoist_field: 'field' is required (reference NO_DEFAULT_VALUE)")
    keep = list(keep_in_root)

    def _transform(df: DataFrame) -> DataFrame:
        dtype = df.schema[target].dataType
        col = F.col(target)
        if isinstance(dtype, StructType):
            hoisted = _struct_hoist(col, dtype, field, keep)
            if hoisted is None:
                return df  # H5
            new_type = _hoisted_type(dtype, field, keep)
            new_col = F.when(col.isNotNull(), hoisted).otherwise(F.lit(None).cast(new_type))
        elif isinstance(dtype, MapType):
            if keep:
                raise ValueError(
                    "hoist_field: keep_in_root over a MapType column would need a "
                    "heterogeneous value type; use the JSON string representation "
                    "(SURVEY.md §1.4) for the H2 branch."
                )
            new_col = F.create_map(F.lit(field), col)  # H1 — wraps nulls too
        elif isinstance(dtype, StringType) and string_is_json:
            if not keep:
                # H1 for JSON text: splice the original document (or JSON null)
                # under the field — pure string concat, no parse needed. The
                # field name is JSON-escaped (quotes/backslashes in the name
                # must not break the literal); the payload itself must already
                # be JSON text per the representation contract (SURVEY.md
                # §1.4) — pass string_is_json=False for bare strings.
                new_col = F.concat(
                    F.lit("{" + json.dumps(field) + ":"),
                    F.coalesce(col, F.lit("null")),
                    F.lit("}"),
                )
            elif json_schema is not None:
                sch = (
                    json_schema
                    if isinstance(json_schema, StructType)
                    else StructType.fromDDL(json_schema)
                )
                parsed = F.from_json(col, sch)
                hoisted = _struct_hoist(parsed, sch, field, keep)
                # H2 omission for free: when every movable field is null the
                # inner struct is null and to_json drops the key entirely.
                new_col = json_object_or_raise(
                    col, col if hoisted is None else F.to_json(hoisted), "hoist_field"
                )
            else:
                keepset = set(keep)

                @F.pandas_udf("string")
                def _hoist(s: pd.Series) -> pd.Series:
                    def one(x):
                        if x is None:
                            # Divergence from the reference: getValueAsMap
                            # throws on null input (ExtendedHoistField.java:
                            # 52-60); we propagate null, consistent with the
                            # engine-wide null-passthrough convention (D1).
                            return None
                        # getValueAsMap parity (ExtendedHoistField.java:52-60)
                        obj = require_json_object(x, "hoist_field")
                        root = {k: v for k, v in obj.items() if k in keepset}
                        inner = {k: v for k, v in obj.items() if k not in keepset}
                        if inner:  # H2: omit the field when nothing moved
                            root[field] = inner
                        return json.dumps(root, separators=(",", ":"))

                    return s.map(one)

                new_col = _hoist(col)
        else:
            # H6 / H1-primitive: wrap a bare value.
            new_col = F.struct(col.alias(field))
        out = df.withColumn(target, new_col)
        # Envelope-level schema basics (target column metadata) survive the
        # hoist — copySchemaBasics parity (ExtendedHoistField.java:101-124).
        md = df.schema[target].metadata
        return out.withMetadata(target, md) if md else out

    return _transform
