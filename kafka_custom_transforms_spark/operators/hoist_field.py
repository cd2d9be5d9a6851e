"""hoist_field — wrap the target inside a named field, keeping chosen roots.

Parity target: reference ``ExtendedHoistField`` (ExtendedHoistField.java:71-162;
SURVEY.md §2.2). Config mirror: ``field`` is required (NO_DEFAULT_VALUE,
ExtendedHoistField.java:42-43); ``keep_in_root`` defaults empty (:44-45).

Behavior branches replicated:
  H1  schemaless wrap-all: anything (null and primitives included) becomes
      ``{field: original}`` (ExtendedHoistField.java:75-79); JSON text that
      does not parse raises ``schemaless.malformed_json``.
  H2  schemaless with keep_in_root: names in the keep list stay at root, the
      rest move under ``field``; when nothing moves, ``field`` is omitted
      entirely (ExtendedHoistField.java:80-97). A non-object raises as
      getValueAsMap does (:52-60) — the errors of ``schemaless``.
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

Scale: pure Catalyst expressions, written as Spark SQL text (``sqltext``),
everywhere except the schema-free JSON keep_in_root path
(``schemaless.arrow_step``). No shuffle anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql.types import DataType, MapType, StringType, StructType

from kafka_custom_transforms_spark.operators import schemaless
from kafka_custom_transforms_spark.operators.chain import Smt
from kafka_custom_transforms_spark.operators.sqltext import Expr, Struct, Value, is_null, lit, opened


def _hoisted(value: Value, field: str, keep: set[str]) -> Struct:
    """H3/H4: the hoisted struct. Field metadata (the Connect schema basics
    slot) rides each field's value through the rebuild —
    SchemaUtil.copySchemaBasics parity."""
    s = opened(value)
    moved = tuple((n, x) for n, x in s.fields if n not in keep)
    inner = Struct(" AND ".join(is_null(x) for _, x in moved), moved)
    return Struct(s.null, tuple((n, x) for n, x in s.fields if n in keep) + ((field, inner),), s.metadata)


def hoist_field(
    field: str,
    keep_in_root: Sequence[str] = (),
    target: str = "value",
    json_schema: object | None = None,
) -> Smt:
    """Build a transform wrapping the ``target`` column under ``field``.

    Representation dispatch on the target's static dtype (SURVEY.md §1.4):
      - StructType  -> schema'd path (H3-H6)
      - MapType     -> schemaless map path (H1 only; a heterogeneous
                       root/inner split is not representable in a single
                       Spark MapType — use the JSON representation for H2)
      - StringType  -> JSON schemaless path (H1/H2)
      - any other   -> primitive wrap (H6)

    ``json_schema`` (DDL or StructType) selects the JVM route for the JSON
    keep_in_root split, where a value that does not fit it raises
    ``schemaless.malformed_json``; without it, the exact Arrow-UDF route.
    """
    if not isinstance(field, str) or not field:
        raise ValueError("hoist_field: 'field' is required (reference NO_DEFAULT_VALUE)")
    keepset = set(keep_in_root)

    def _split(obj: dict) -> dict:
        root = {k: v for k, v in obj.items() if k in keepset}
        inner = {k: v for k, v in obj.items() if k not in keepset}
        if inner:  # H2: omit the field when nothing moved
            root[field] = inner
        return root

    def _rebuild(schema: StructType):
        """H5: None when nothing moves (the identity)."""
        if all(f.name in keepset for f in schema.fields):
            return None
        return lambda value: _hoisted(value, field, keepset)

    def _plan(dtype: DataType):
        if isinstance(dtype, StructType):
            return _rebuild(dtype)
        if isinstance(dtype, MapType):
            if keepset:
                raise ValueError(
                    "hoist_field: keep_in_root over a MapType column would need a "
                    "heterogeneous value type; use the JSON string representation "
                    "(SURVEY.md §1.4) for the H2 branch."
                )
            # H1 — wraps nulls too
            return lambda v: Expr(f"map({lit(field)}, {v.sql})", MapType(StringType(), v.dtype, v.nullable), False)
        if not isinstance(dtype, StringType):
            return lambda v: Struct(None, ((field, v),))  # H6 / H1-primitive: wrap a bare value
        if not keepset:
            return schemaless.Wrap("hoist_field", field)  # H1
        if json_schema is None:
            # Divergence: getValueAsMap throws on null (:52-60); null
            # passes through here, the engine-wide convention (D1).
            return schemaless.ArrowPlan("hoist_field", _split)
        # H2 omission for free: when every movable field is null the
        # inner struct is null and to_json drops the key entirely.
        schema = schemaless.as_struct_type(json_schema)
        return schemaless.JvmPlan("hoist_field", schema, _rebuild(schema))

    return Smt(target, _plan)
