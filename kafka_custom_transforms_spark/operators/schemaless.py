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
since every later step sees only the objects it builds. A wrap-all that
starts a run splices the text and checks its output with
:func:`parsed_or_raise`; one that ends a run wraps the object the run
built, which needs no check.
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

# Reserved names: the prefix of a JVM step's parsed-value column, and its
# field that from_json fills with the raw text of a record it cannot parse
# into the schema.
PARSED = "__smt_parsed"
CORRUPT = "__smt_corrupt"
# The key jvm_step parses a record's text under.
_SPLICED = "v"

# jvm_step's object test, a Java regex, and the same test in Python:
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
    wrap = run[-1].field if isinstance(run[-1], Wrap) else None
    body = run[:-1] if wrap is not None else run
    text = ident(target)
    if not body:
        spliced = f"concat({lit(_opening(wrap))}, coalesce({text}, 'null'), '}}')"
        return None, F.expr(parsed_or_raise(spliced, f"concat('[', {text}, ']')", run[0].transform))
    if isinstance(body[0], JvmPlan):
        return tuple(F.expr(sql) for sql in jvm_step(body, text, ident(parsed), wrap))
    return None, arrow_step(body, text, wrap)


def _opening(field: str) -> str:
    """The text of a JSON object up to the value of its one key ``field``."""
    return "{" + json.dumps(field) + ":"


def jvm_step(run: Sequence[JvmPlan], text: str, parsed: str, wrap: str | None = None) -> tuple[str, str]:
    """``to_json`` of the run's rebuilds over the JSON ``text``, parsed
    once with the first plan's schema into the column ``parsed``; a run of
    ``None`` rebuilds keeps the text. ``wrap`` puts the result under that
    field. The parse has its own projection, so the rebuilds' fields share
    one ``from_json`` (inline, each gets its own pruned parse). The
    byte-prefix object test decides almost every record before the regex,
    which copies the string (1M-record noop-sink run, 4 vCPUs: regex alone
    ~4% of a drop's wall time, prefix-first none).

    The text is parsed spliced under a key and checked spliced into
    ``[...]``, the two splices :func:`parsed_or_raise` checks for a wrap,
    so text after the object (``{"a":1}}``, ``{"a":1}]``, ``{"a":1},1``)
    is :func:`malformed_json`, as it is for ``json.loads``. The ``[...]``
    check reads ``array<struct<>>``, which skips every field, where
    ``array<string>`` would write each record back as text."""
    head = run[0]
    value = None
    for p in run:
        if p.rebuild is not None:
            value = p.rebuild(Expr(f"{parsed}.{ident(_SPLICED)}", head.schema) if value is None else value)
    doc = text if value is None else f"to_json({render(value)})"
    orelse = ""
    if wrap is not None:
        doc = f"concat({lit(_opening(wrap))}, {doc}, '}}')"
        orelse = f" ELSE {lit(_opening(wrap) + 'null}')}"
    is_object = f"(startswith({text}, '{{') OR {text} RLIKE {lit(_OBJECT_REGEX)})"
    listed = f"from_json(concat('[', {text}, ']'), 'array<struct<>>')"
    malformed = f"({parsed}.{ident(CORRUPT)} IS NOT NULL OR {listed} IS NULL)"
    checked = (
        f"CASE WHEN {is_object} AND {malformed} THEN raise_error({lit(malformed_json(head.transform))}) "
        f"WHEN {is_object} THEN {doc} "
        f"WHEN {text} IS NOT NULL THEN raise_error({lit(not_json_object(head.transform))}){orelse} END"
    )
    spliced = StructType([StructField(_SPLICED, head.schema), StructField(CORRUPT, StringType())])
    parse = (
        f"from_json(concat({lit(_opening(_SPLICED))}, {text}, '}}'), {lit(ddl(spliced))}, "
        f"map('columnNameOfCorruptRecord', {lit(CORRUPT)}))"
    )
    return parse, checked


def parsed_or_raise(doc: str, listed: str, transform: str) -> str:
    """``doc`` (JSON object text) when Spark's JSON reader parses both it
    and ``listed`` (the spliced value in ``[...]``), else
    :func:`malformed_json` — two tokenizing passes, no Python. A reader
    stops at the end of the first value, so text after it is seen only by
    the splice it leaves unclosed: ``1}`` closes the object early but not
    the array, ``1]`` the array but not the object. Duplicate keys and
    NaN/Infinity pass, as they do for ``json.loads``."""
    strict = "'allowSingleQuotes', 'false'"
    only_corrupt = lit(ddl(StructType([StructField(CORRUPT, StringType())])))
    options = f"map('columnNameOfCorruptRecord', {lit(CORRUPT)}, {strict})"
    corrupt = f"from_json({doc}, {only_corrupt}, {options}).{ident(CORRUPT)}"
    as_array = f"from_json({listed}, 'array<string>', map({strict}))"
    ok = f"{corrupt} IS NULL AND ({listed} IS NULL OR {as_array} IS NOT NULL)"
    return f"CASE WHEN {ok} THEN {doc} ELSE raise_error({lit(malformed_json(transform))}) END"


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
