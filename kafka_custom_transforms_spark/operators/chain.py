"""transform_chain — compose transforms like a Connect transform chain.

The reference is deployed as ``transforms=a,b,c`` in worker config
(README.md:13-15); each transform's output feeds the next. Spark equivalent:
composition over ``DataFrame -> DataFrame`` callables — identical code path
in batch and Structured Streaming (SURVEY.md §1.4, §3).

An :class:`Smt` reads and writes only its ``target`` column, so steps on
other columns commute. The chain reads the schema once and composes each
column's steps as SQL text (``sqltext``): struct, map and wrap steps into
one expression, consecutive schemaless JSON steps into one run
(``schemaless.joins``), parsed and written once, as Kafka Connect's
converter does once per chain (PAPER.md §1.1). It applies every column
with one ``withColumns`` per layer, one ``F.expr`` each, after one
projection for the runs' parse columns. A JSON step that cannot join its
column's pending steps, and any other callable (it may read any column),
applies the layer first. A nested chain is flattened; a step applied
alone is a chain of one. Building the chain starts no Spark job.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DataType, StringType, StructField

from kafka_custom_transforms_spark.operators import schemaless, sqltext

Transform = Callable[[DataFrame], DataFrame]
Rewrite = Callable[[sqltext.Value], sqltext.Value]
_JSON = (schemaless.JvmPlan, schemaless.ArrowPlan, schemaless.Wrap)


@dataclass(frozen=True)
class Smt:
    """A transform of the ``target`` column only: ``plan(dtype)`` is None
    for the identity, a schemaless plan for JSON text, else a rewrite of
    the column's SQL value."""

    target: str
    plan: Callable[[DataType], schemaless.Plan | Rewrite | None]

    def __call__(self, df: DataFrame) -> DataFrame:
        return _Chain((self,))(df)


class _Layer:
    """The steps pending on ``df``: per column a SQL value or a JSON run."""

    def __init__(self, df: DataFrame) -> None:
        self.df = df
        self.fields: dict[str, StructField] | None = None
        self.pending: dict[str, sqltext.Value | list[schemaless.Plan]] = {}

    def add(self, smt: Smt) -> None:
        if self.fields is None:
            self.fields = {f.name: f for f in self.df.schema.fields}
        field = self.fields[smt.target]
        value = self.pending.get(smt.target)
        run = isinstance(value, list)
        plan = smt.plan(field.dataType if value is None else StringType() if run else sqltext.dtype(value))
        if plan is None:
            return
        json = isinstance(plan, _JSON)
        if value is not None and (json != run or json and not schemaless.joins(value, plan)):
            self.flush()
            value = None
        if json:
            self.pending[smt.target] = (value or []) + [plan]
        else:
            column = sqltext.Expr(sqltext.ident(field.name), field.dataType, field.nullable, field.metadata)
            self.pending[smt.target] = plan(value or column)

    def flush(self) -> DataFrame:
        """Applies the pending steps: one projection for the JSON runs'
        parse columns, then one for every column."""
        parses, cols = {}, {}
        for target, value in self.pending.items():
            field = self.fields[target]
            if isinstance(value, list):
                name = f"{schemaless.PARSED}{len(parses)}"
                parse, col = schemaless.apply(value, target, name)
                parses.update({name: parse} if parse is not None else {})
                t, nullable = StringType(), True
            else:
                t, nullable = sqltext.dtype(value), sqltext.nullable(value)
                col = F.expr(sqltext.render(value))
                if sqltext.rebuilt_metadata(value):
                    col = col.cast(t)  # a struct copy that carries the metadata
            # The target keeps its own metadata, the envelope-level schema
            # basics (SchemaUtil.copySchemaBasics parity).
            cols[target] = col.alias(target, metadata=field.metadata) if field.metadata else col
            self.fields[target] = StructField(target, t, nullable, field.metadata)
        if parses:
            self.df = self.df.withColumns(parses)
        if cols:
            self.df = self.df.withColumns(cols)
        if parses:
            self.df = self.df.drop(*parses)
        self.pending = {}
        return self.df


@dataclass(frozen=True)
class _Chain:
    steps: tuple[Transform, ...]

    def __call__(self, df: DataFrame) -> DataFrame:
        layer = _Layer(df)
        for t in self.steps:
            if isinstance(t, Smt):
                layer.add(t)
            else:
                layer = _Layer(t(layer.flush()))
        return layer.flush()


def transform_chain(*transforms: Transform) -> Transform:
    """Compose transforms left-to-right: ``transform_chain(a, b)(df) == b(a(df))``."""
    return _Chain(tuple(s for t in transforms for s in (t.steps if isinstance(t, _Chain) else (t,))))
