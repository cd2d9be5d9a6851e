"""Mixed-representation records — schema'd and schemaless in one stream.

Parity target: the reference transforms branch PER RECORD on
``schema == null`` (DropField.java:47-51, ExtendedHoistField.java:72-75), so
a single Kafka topic can interleave schema'd and schemaless payloads.
Spark's schema is static per DataFrame, so the per-record union is modeled
as TWO representation columns with an exclusivity invariant:

    {target}_struct : StructType — non-null iff the record is schema'd
    {target}_json   : StringType — non-null iff the record is schemaless

Every SMT in this package passes nulls through untouched (the reference's
D1 branch), so applying the struct-targeted instance AND the json-targeted
instance of the same transform executes exactly one of them per record —
the reference's runtime dispatch, expressed as two null-preserving Catalyst
expressions with zero per-record branching cost (each expression is a no-op
on the rows the other owns).

All helpers are pure column transforms: no shuffle, no UDF beyond what the
underlying SMT itself uses, identical in batch and Structured Streaming.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import StructType

from kafka_custom_transforms_spark.operators.chain import Transform, transform_chain
from kafka_custom_transforms_spark.operators.schemaless import PARSED, as_struct_type, read
from kafka_custom_transforms_spark.operators.sqltext import ident


def split_mixed(
    target: str = "value",
    is_structured: Column | None = None,
    schema: StructType | str | None = None,
) -> Transform:
    """Split a JSON-string column into the two-column mixed representation.

    ``is_structured`` marks records that carry a schema (the stand-in for a
    Connect record whose ``schema != null``); those are read with
    ``schema`` into ``{target}_struct`` by ``schemaless.read``, which
    raises ``not_json_object("split_mixed")`` for a value that is not an
    object and ``malformed_json("split_mixed")`` for text that does not
    parse or does not fit the schema. The rest keep their raw JSON text in
    ``{target}_json``, unread. SQL NULL passes through. The original
    column is replaced by the pair.
    """
    if is_structured is None:
        raise ValueError("split_mixed: is_structured predicate is required")
    if schema is None:
        raise ValueError("split_mixed: schema for the structured branch is required")
    parsed = f"{PARSED}0"
    parse, checked = read(ident(target), ident(parsed), "split_mixed", as_struct_type(schema), lambda v: v)

    def _transform(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(parsed, F.when(is_structured, F.expr(parse)))
            .withColumns(
                {
                    f"{target}_struct": F.when(is_structured, F.expr(checked)),
                    f"{target}_json": F.when(~is_structured, F.col(target)),
                }
            )
            .drop(target, parsed)
        )

    return _transform


def mixed_smt(
    factory: Callable[..., Transform],
    *args: object,
    target: str = "value",
    json_kwargs: dict | None = None,
    **common: object,
) -> Transform:
    """Instantiate one SMT factory for BOTH representation columns.

    ``factory(*args, target=f"{target}_struct", **common)`` chained with
    the ``_json`` twin: per record exactly one instance does work (the
    other sees null and passes it through, D1). JSON-only config
    (``json_schema``) goes in ``json_kwargs``.
    """
    t_struct = factory(*args, target=f"{target}_struct", **common)
    t_json = factory(*args, target=f"{target}_json", **{**common, **(json_kwargs or {})})
    return transform_chain(t_struct, t_json)


def merge_mixed(target: str = "value", keep_branch: str | None = None) -> Transform:
    """Collapse the two-column representation back to one JSON-string column
    (struct records rendered with ``to_json``, schemaless text verbatim).
    ``keep_branch`` optionally records which representation each record had
    ('structured' / 'schemaless') in a column of that name before the pair
    is dropped."""

    def _transform(df: DataFrame) -> DataFrame:
        s, j = F.col(f"{target}_struct"), F.col(f"{target}_json")
        if keep_branch:
            df = df.withColumn(
                keep_branch,
                F.when(s.isNotNull(), F.lit("structured")).otherwise(F.lit("schemaless")),
            )
        return df.withColumn(target, F.coalesce(F.to_json(s), j)).drop(
            f"{target}_struct", f"{target}_json"
        )

    return _transform
