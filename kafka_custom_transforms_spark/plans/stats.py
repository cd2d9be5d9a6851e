"""Plan-statistics reads for auto-dispatch decisions.

Operators that pick a plan from the input's size (AND vs OR banding, unroll
vs fold, exact vs IVF, window vs distributed ordinal, broadcast hint) read
Catalyst's estimate here, never with a Spark job. This is the one place
those reads happen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_bytes(df: DataFrame) -> int | None:
    """Catalyst ``optimizedPlan().stats().sizeInBytes`` as an int — no Spark
    job (for a parquet scan it is the file span to read). ``None`` when the
    statistics are unavailable or the UNKNOWN sentinel: Catalyst reports an
    unknown size as ``defaultSizeInBytes`` (Long.MaxValue), e.g. for
    mapInPandas- or RDD-backed plans, and that is not a size. Callers
    divide by their own assumed row width."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()  # noqa: SLF001
        # py4j returns scala BigInt as a JavaObject (str() it) or, on some
        # paths, an already-converted Python int — accept both.
        size = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:
        return None
    if size >= 1 << 62:
        return None
    return size
