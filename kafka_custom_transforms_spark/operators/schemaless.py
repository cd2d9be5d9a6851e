"""schemaless — the JSON-string representation of a schemaless record.

A schemaless Connect value (a Map) is JSON object text in a StringType
column (SURVEY.md §1.4). Only this module parses, checks and writes it
back, once per step; an SMT supplies a struct -> struct rebuild
(:func:`jvm_step`, schema declared) or a dict -> dict function
(:func:`arrow_step`). SQL NULL passes through (D1); a non-object raises
:func:`not_json_object` (requireMap / getValueAsMap); text that does not
parse, or on the JVM path does not fit the schema, :func:`malformed_json`.
A step that splices the text without parsing it (hoist_field's wrap-all)
checks its output with :func:`parsed_or_raise`.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import DataType, StringType, StructField, StructType

# Reserved names: a JVM step's parsed value, and its field that from_json
# fills with the raw text of a record it cannot parse into the schema.
PARSED = "__smt_parsed"
CORRUPT = "__smt_corrupt"

# jvm_step's object test in Python: Java regex whitespace (\s), then "{".
_OBJECT_PREFIX = re.compile(r"[ \t\n\x0b\f\r]*\{")


def not_json_object(transform: str) -> str:
    return f"{transform}: Bad record type. Should be a Map instance, got a JSON value that is not an object"


def malformed_json(transform: str) -> str:
    return f"{transform}: malformed JSON record"


def as_struct_type(schema: DataType | str) -> StructType:
    return schema if isinstance(schema, StructType) else StructType.fromDDL(schema)


def with_target(df: DataFrame, target: str, value: Column) -> DataFrame:
    """``df`` with ``target`` replaced by ``value``, keeping the target's own
    metadata — the envelope-level schema basics (Connect name/version/doc)
    that ``withColumn`` drops (SchemaUtil.copySchemaBasics parity)."""
    out = df.withColumn(target, value)
    md = df.schema[target].metadata
    return out.withMetadata(target, md) if md else out


Rebuild = Callable[[Column, StructType], Column | None]


def jvm_step(df: DataFrame, target: str, schema: DataType | str, rebuild: Rebuild, transform: str) -> DataFrame:
    """``to_json(rebuild(parsed, schema))`` over the JSON text in ``target``;
    a ``None`` rebuild keeps the text. The parse has its own projection, so
    the rebuild's fields share one ``from_json`` (inline, each gets its own
    pruned parse). The byte-prefix object test decides almost every record
    before the regex, which copies the string (1M-record noop-sink run, 4
    vCPUs: regex alone ~4% of a drop's wall time, prefix-first none)."""
    sch = as_struct_type(schema)
    text, parsed = F.col(target), F.col(PARSED)
    out = rebuild(parsed, sch)
    is_object = text.startswith("{") | text.rlike(r"^\s*\{")
    checked = (
        F.when(is_object & parsed[CORRUPT].isNotNull(), F.raise_error(F.lit(malformed_json(transform))))
        .when(is_object, text if out is None else F.to_json(out))
        .when(text.isNotNull(), F.raise_error(F.lit(not_json_object(transform))))
    )
    with_corrupt = StructType([*sch.fields, StructField(CORRUPT, StringType())])
    parse = F.from_json(text, with_corrupt, {"columnNameOfCorruptRecord": CORRUPT})
    return with_target(df.withColumn(PARSED, parse), target, checked).drop(PARSED)


def parsed_or_raise(doc: Column, transform: str) -> Column:
    """``doc`` (JSON text) when Spark's JSON reader parses it, else
    :func:`malformed_json` — one tokenizing pass, no Python. Duplicate keys
    and NaN/Infinity pass, as they do for ``json.loads``; like every Spark
    JSON read, text after a complete document is not checked."""
    only_corrupt = StructType([StructField(CORRUPT, StringType())])
    options = {"columnNameOfCorruptRecord": CORRUPT, "allowSingleQuotes": "false"}
    corrupt = F.from_json(doc, only_corrupt, options)[CORRUPT]
    return F.when(corrupt.isNull(), doc).otherwise(F.raise_error(F.lit(malformed_json(transform))))


def arrow_step(df: DataFrame, target: str, fn: Callable[[dict], dict], transform: str) -> DataFrame:
    """``fn`` over each JSON object in ``target`` in an Arrow-batched UDF;
    lossless (null entries and ``{}`` survive), the slow path."""

    @F.pandas_udf("string")
    def _step(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return None
            if not _OBJECT_PREFIX.match(x):
                raise ValueError(not_json_object(transform))
            try:
                obj = json.loads(x)
            except json.JSONDecodeError:
                raise ValueError(malformed_json(transform)) from None
            return json.dumps(fn(obj), separators=(",", ":"))

        return s.map(one)

    return with_target(df, target, _step(F.col(target)))
