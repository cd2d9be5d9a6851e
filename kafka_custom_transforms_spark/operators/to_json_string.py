"""to_json_string — serialize schemaless structured data to a JSON string.

Parity target: reference ``StructuredSchemalessToJsonString``
(StructuredSchemalessToJsonString.java:45-62; SURVEY.md §2.3). The reference
has no config beyond its Key/Value variants (``target`` here); its runtime
``schema == null && value instanceof Map`` dispatch maps onto static column
types (SURVEY.md §1.4): a MapType column is a schemaless Map; a JSON string
column is already serialized.

Branches:
  J1  schemaless Map -> JSON string (Jackson writeValueAsString, :49-54).
      Here: MapType column -> ``to_json``. Key order: the reference's is
      HashMap iteration order (nondeterministic); ours is map entry order —
      the driver's order-insensitive compare neutralizes this (SURVEY.md §5).
  J2  JsonProcessingException wrap — ``to_json`` cannot fail on supported
      types; non-issue.
  J3  passthrough: schema'd values and schemaless non-Map primitives are
      returned untouched (:61). Here: StructType (schema'd), JSON text and
      all other dtypes pass through as the same DataFrame; a caller who
      wants a struct rendered applies ``F.to_json`` itself.
  J4  Key/Value variants — the ``target`` parameter.

Scale: a single codegen-capable JVM expression; no shuffle, no Python.
"""

from __future__ import annotations

from pyspark.sql.types import DataType, MapType, StringType

from kafka_custom_transforms_spark.operators.chain import Smt
from kafka_custom_transforms_spark.operators.sqltext import Expr


def to_json_string(target: str = "value") -> Smt:
    """Build a transform serializing a MapType ``target`` column to JSON text;
    everything else passes through (J3) as the same DataFrame object, the
    reference's same-record passthrough."""

    def _plan(dtype: DataType):
        if isinstance(dtype, MapType):
            return lambda v: Expr(f"to_json({v.sql})", StringType(), v.nullable)
        return None

    return Smt(target, _plan)
