"""schemaless — the JSON-string representation of a schemaless record.

A schemaless Connect value (a Map) is JSON object text in a StringType
column (SURVEY.md §1.4). Only this module parses, checks and writes it
back. An SMT supplies a :class:`Plan` for its step: a struct -> struct
rebuild under a declared schema (:class:`JvmPlan`), a dict -> dict
function (:class:`ArrowPlan`) or hoist_field's wrap-all (:class:`Wrap`).
:func:`apply` turns a run of plans on one column into one step, so a chain
parses and serializes once per run, as Kafka Connect's converter does
once per chain (PAPER.md §1.1): ``transform_chain`` groups the runs
(:func:`joins`), a step applied alone is a run of one. The JVM routes are
Spark SQL text (``sqltext``); only the Arrow route is a Column.

SQL NULL passes through (D1); a non-object raises :func:`not_json_object`
(requireMap / getValueAsMap); text that does not parse as one JSON
value, or on the JVM route does not fit the schema,
:func:`malformed_json` — always with the name of the run's first step,
since every later step sees only the objects it builds. Every JVM read of
such text goes through :func:`read`, under one set of parser options that
accepts what ``json.loads`` accepts: a JVM run, a wrap-all that starts a
run (any value, no schema; one that ends a run wraps the object the run
built, which needs no check) and ``mixed.split_mixed``.
"""

from __future__ import annotations

import functools
import json
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StringType, StructField, StructType

from kafka_custom_transforms_spark.operators.sqltext import Expr, Value, ddl, dtype, ident, lit, render

# Reserved names: the prefix of a read's parsed-value column, and its
# field that from_json fills with the raw text of a record it cannot parse
# into the schema.
PARSED = "__smt_parsed"
CORRUPT = "__smt_corrupt"
# The key :func:`read` parses a record's text under.
_SPLICED = "v"
# Spark's JSON reader options of every read: strings in double quotes
# only, as for json.loads; the corrupt-record field of a failed parse.
_OPTIONS = f"map('allowSingleQuotes', 'false', 'columnNameOfCorruptRecord', '{CORRUPT}')"

# :func:`read`'s object test, a Java regex, and the same test in Python:
# whitespace (\s), then "{".
_OBJECT_REGEX = r"^\s*\{"
_OBJECT_PREFIX = re.compile(r"[ \t\n\x0b\f\r]*\{")


def not_json_object(transform: str) -> str:
    return f"{transform}: Bad record type. Should be a Map instance, got a JSON value that is not an object"


def malformed_json(transform: str) -> str:
    return f"{transform}: malformed JSON record"


def as_struct_type(schema: DataType | str) -> StructType:
    return schema if isinstance(schema, StructType) else _from_ddl(schema)


@functools.cache
def _from_ddl(ddl: str) -> StructType:
    """A DDL string's struct type: one JVM round trip per distinct string,
    not one per ``plan()`` call."""
    return StructType.fromDDL(ddl)


Rebuild = Callable[[Value], Value]


@dataclass(frozen=True)
class JvmPlan:
    """``rebuild`` of the JSON parsed with ``schema`` (a ``None`` rebuild
    keeps the value)."""

    transform: str
    schema: StructType
    rebuild: Rebuild | None

    @property
    def out(self) -> DataType:
        """The rebuild's type, read off its SQL without asking Spark."""
        parsed = Expr("parsed", self.schema)
        return self.schema if self.rebuild is None else dtype(self.rebuild(parsed))


@dataclass(frozen=True)
class ArrowPlan:
    """``fn`` over the parsed JSON object, in an Arrow UDF."""

    transform: str
    fn: Callable[[dict], dict]


@dataclass(frozen=True)
class Wrap:
    """``{field: value}`` for any JSON value, SQL NULL as JSON null (H1)."""

    transform: str
    field: str


Plan = JvmPlan | ArrowPlan | Wrap


def _shape(t: DataType) -> DataType:
    """``t`` without nullability and metadata."""
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _shape(f.dataType)) for f in t.fields])
    if isinstance(t, ArrayType):
        return ArrayType(_shape(t.elementType))
    if isinstance(t, MapType):
        return MapType(_shape(t.keyType), _shape(t.valueType))
    return t


def joins(run: Sequence[Plan], plan: Plan) -> bool:
    """Whether ``plan`` can extend ``run``: a wrap ends any run; an Arrow
    step follows Arrow steps; a JVM step follows JVM steps whose output
    type is its declared schema, so reading the previous step's
    ``to_json`` back would give the value it has."""
    if isinstance(run[-1], Wrap):
        return False
    if isinstance(plan, Wrap):
        return not isinstance(run[-1], JvmPlan) or any(p.rebuild for p in run)
    if isinstance(plan, ArrowPlan):
        return isinstance(run[-1], ArrowPlan)
    return isinstance(run[-1], JvmPlan) and _shape(run[-1].out) == _shape(plan.schema)


def apply(run: Sequence[Plan], target: str, parsed: str) -> tuple[Column | None, Column]:
    """One step for a run of plans on column ``target`` (see :func:`joins`):
    its parse column, to be named ``parsed`` (None when it has none), and
    its value."""
    if isinstance(run[0], ArrowPlan):
        wrap = run[-1].field if isinstance(run[-1], Wrap) else None
        return None, arrow_step(run[:-1] if wrap is not None else run, ident(target), wrap)
    return tuple(F.expr(sql) for sql in jvm_step(run, ident(target), ident(parsed)))


def _opening(field: str) -> str:
    """The text of a JSON object up to the value of its one key ``field``."""
    return "{" + json.dumps(field) + ":"


def read(
    text: str, parsed: str, transform: str, schema: StructType | None, doc: Callable[[str], str], null: str = "NULL"
) -> tuple[str, str]:
    """The one JSON reader of the JVM routes, for ``text`` (SQL of a
    string): the parse, to be the column ``parsed`` (its own projection, so
    the fields read off it share one ``from_json``; inline, each gets its
    own pruned parse), and the checked value: ``null`` for SQL NULL, else
    ``doc`` of the parsed value's SQL. With a ``schema`` the text must be
    an object (:func:`not_json_object`) and is parsed with it; with none
    any JSON value passes. The byte-prefix object test decides almost
    every record before the regex, which copies the string (1M-record
    noop-sink run, 4 vCPUs: regex alone ~4% of a drop's wall time).

    The text is :func:`malformed_json` unless Spark's JSON reader, with
    :data:`_OPTIONS`, reads two splices: under a key, with the schema (a
    misfit sets the corrupt-record field), and in ``[...]`` as
    ``array<struct<>>`` for an object (which skips every field) or
    ``array<string>`` for any value. A reader stops at the end of the
    first value, so text after it is seen only by the splice it leaves
    unclosed: ``1}`` closes the object early but not the array, ``1]`` the
    array but not the object. What passes is what ``json.loads`` reads:
    no single quotes, while duplicate keys and NaN/Infinity pass."""
    fields = [StructField(_SPLICED, schema)] if schema is not None else []
    spliced = StructType([*fields, StructField(CORRUPT, StringType())])
    parse = f"from_json(concat({lit(_opening(_SPLICED))}, {text}, '}}'), {lit(ddl(spliced))}, {_OPTIONS})"
    items = "'array<string>'" if schema is None else "'array<struct<>>'"
    listed = f"from_json(concat('[', {text}, ']'), {items}, {_OPTIONS})"
    not_object = ""
    if schema is not None:
        is_object = f"(startswith({text}, '{{') OR {text} RLIKE {lit(_OBJECT_REGEX)})"
        not_object = f"WHEN NOT {is_object} THEN raise_error({lit(not_json_object(transform))}) "
    checked = (
        f"CASE WHEN {text} IS NULL THEN {null} {not_object}"
        f"WHEN {parsed}.{ident(CORRUPT)} IS NOT NULL OR {listed} IS NULL "
        f"THEN raise_error({lit(malformed_json(transform))}) "
        f"ELSE {doc(f'{parsed}.{ident(_SPLICED)}')} END"
    )
    return parse, checked


def jvm_step(run: Sequence[Plan], text: str, parsed: str) -> tuple[str, str]:
    """:func:`read` of the JSON ``text`` into the column ``parsed`` for a
    run of JVM plans, which an H1 wrap may end: ``to_json`` of the run's
    rebuilds over the value parsed once with the first plan's schema (a
    run of ``None`` rebuilds keeps the text), put under the wrap's field.
    A wrap alone reads any value with no schema and splices the text."""
    wrap = run[-1].field if isinstance(run[-1], Wrap) else None
    body = run[:-1] if wrap is not None else run
    schema = body[0].schema if body else None

    def doc(v: str) -> str:
        value = None
        for p in body:
            if p.rebuild is not None:
                value = p.rebuild(Expr(v, schema) if value is None else value)
        out = text if value is None else f"to_json({render(value)})"
        return out if wrap is None else f"concat({lit(_opening(wrap))}, {out}, '}}')"

    null = "NULL" if wrap is None else lit(_opening(wrap) + "null}")
    return read(text, parsed, run[0].transform, schema, doc, null)


def arrow_step(run: Sequence[ArrowPlan], text: str, wrap: str | None = None) -> Column:
    """The run's functions over each JSON object in ``text`` (a column
    reference) in one Arrow-batched UDF: one ``json.loads`` and one
    ``json.dumps`` per record, ``wrap`` putting the result under that
    field; lossless (null entries and ``{}`` survive), the slow path."""
    transform = run[0].transform
    fns = [p.fn for p in run]
    null = None if wrap is None else _opening(wrap) + "null}"

    @F.pandas_udf("string")
    def _step(s: pd.Series) -> pd.Series:
        def one(x):
            if x is None:
                return null
            if not _OBJECT_PREFIX.match(x):
                raise ValueError(not_json_object(transform))
            try:
                obj = json.loads(x)
            except json.JSONDecodeError:
                raise ValueError(malformed_json(transform)) from None
            for fn in fns:
                obj = fn(obj)
            return json.dumps(obj if wrap is None else {wrap: obj}, separators=(",", ":"))

        return s.map(one)

    return _step(F.col(text))
