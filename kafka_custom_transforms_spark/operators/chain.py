"""transform_chain — compose transforms like a Connect transform chain.

The reference is deployed as ``transforms=a,b,c`` in worker config
(README.md:13-15); each transform's output feeds the next. Spark equivalent:
composition over ``DataFrame -> DataFrame`` callables — identical code path
in batch and Structured Streaming (SURVEY.md §1.4, §3).

Kafka Connect's converter parses a record once per chain and every SMT
rebuilds the in-memory record (PAPER.md §1.1); here consecutive schemaless
JSON steps on one column are one step (``schemaless.apply``), so the text
is parsed and written once per run, not once per step. The rules:

- An :class:`Smt` reads and writes only its ``target`` column, so a pending
  run commutes past SMTs on other columns; an SMT on the same column that
  cannot join the run (``schemaless.joins``) flushes it first.
- Any other callable may read any column: it flushes every pending run.
- A nested chain is flattened into the outer one.

The grouping reads only static column types; it starts no Spark job, and a
step applied alone runs as a run of one.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType

from kafka_custom_transforms_spark.operators import schemaless

Transform = Callable[[DataFrame], DataFrame]


@dataclass(frozen=True)
class Smt:
    """A transform of the ``target`` column only: ``plan(dtype)`` is its
    schemaless JSON plan for a column of that type, else None and
    ``apply`` transforms the column."""

    target: str
    apply: Transform
    plan: Callable[[DataType], schemaless.Plan | None]

    def __call__(self, df: DataFrame) -> DataFrame:
        plan = self.plan(df.schema[self.target].dataType)
        return self.apply(df) if plan is None else schemaless.apply(df, self.target, [plan])


@dataclass(frozen=True)
class _Chain:
    steps: tuple[Transform, ...]

    def __call__(self, df: DataFrame) -> DataFrame:
        runs: dict[str, list[schemaless.Plan]] = {}

        def flush(target: str) -> None:
            nonlocal df
            df = schemaless.apply(df, target, runs.pop(target))

        for t in self.steps:
            if not isinstance(t, Smt):
                for target in list(runs):
                    flush(target)
                df = t(df)
                continue
            plan = t.plan(df.schema[t.target].dataType)
            run = runs.get(t.target)
            if run and (plan is None or not schemaless.joins(run, plan)):
                flush(t.target)
            if plan is None:
                df = t.apply(df)
                continue
            runs.setdefault(t.target, []).append(plan)
            if isinstance(plan, schemaless.Wrap):
                flush(t.target)
        for target in list(runs):
            flush(target)
        return df


def transform_chain(*transforms: Transform) -> Transform:
    """Compose transforms left-to-right: ``transform_chain(a, b)(df) == b(a(df))``."""
    return _Chain(tuple(s for t in transforms for s in (t.steps if isinstance(t, _Chain) else (t,))))
