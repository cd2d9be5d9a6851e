"""Skew mitigation helpers for hot-key aggregations and joins.

AQE's skew-join splitting handles most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled``, on by default in session.py); these
helpers cover the patterns AQE can't: skewed *aggregations* (AQE does not
split hot groupBy keys) and deliberate two-phase rollups.
"""

from __future__ import annotations

from collections.abc import Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase aggregation for skewed keys.

    Phase 1 groups by (keys..., salt) — the hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 merges the partials by the real keys.
    ``aggs`` maps output column -> (input column, fn) with fn in
    {sum, count, min, max} (the decomposable aggregates).

    Example::

        salted_agg(events, ["event_type"], {"total": ("value", "sum"),
                                            "n": ("event_id", "count")})
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    first_fn = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}
    for name, (_, fn) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"salted_agg: non-decomposable aggregate {fn!r} for {name!r}")
    # NOTE: this salt is nondeterministic across task retries (partition id
    # + row position both change on recompute). Safe HERE only because the
    # aggregates are decomposable — any salt assignment merges to the same
    # phase-2 result. Do NOT reuse this expression where salt determinism
    # matters (e.g. writing salted keys to storage).
    salted = df.withColumn("_salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salt_buckets)))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[first_fn[fn](F.col(src)).alias(name) for name, (src, fn) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[merge_fn[fn](F.col(name)).alias(name) for name, (_, fn) in aggs.items()]
    )


def salted_join_keys(df: DataFrame, key: str, salt_buckets: int, explode_side: bool) -> DataFrame:
    """Manual skew-join salting (for engines/paths where AQE is off):
    the skewed side gets a random salt in [0, n); the other side is exploded
    n ways so every salted key finds its match."""
    if explode_side:
        salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
        return df.withColumn("_salt", F.explode(salts))
    # NOTE: nondeterministic across task retries (see salted_agg). Safe
    # HERE only because the other side explodes ALL salt values, so every
    # possible re-assignment still finds its join partner.
    return df.withColumn(
        "_salt",
        F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(salt_buckets)),
    )


# Fan-out target cap for every small-input Python stage (Arrow gram passes,
# exact top-k scoring, hyperplane bucketing, multimodal synth+decode). Each
# extra task of a Python stage pays ~6 ms of SERIALIZED runner dispatch
# (worker spawn plus numpy/pandas import) and an AQE stage round, against
# only a few ms of per-task compute at local corpus sizes, so past this
# knee the dispatch costs more than the parallelism buys. Measured at sf0.1,
# idle medians: shingling 2.8 s at 32 parts vs 0.4 s at 8; exact top-k
# scoring 0.92 / 0.78 / 0.84 / 0.94 s at 8 / 16 / 24 / 32; png synth+decode
# 0.46 / 0.49 / 0.72 s and jpeg-420 1.20 / 0.77 / 0.87 s at 8 / 16 / 32.
# A cluster scan already exceeds the cap, so it only ever bounds how many
# partitions a fan-out ADDS to a small input.
PYTHON_FANOUT_CAP = 16


def ensure_min_partitions(df: DataFrame, n: int | None = None) -> DataFrame:
    """Fan out degenerate source parallelism before a compute-heavy per-row
    pipeline.

    A small parquet table is often ONE file with ONE row group -> Spark
    scans it as a single task, and everything narrow downstream (shingling,
    hashing, signature votes) serializes on one core no matter how many the
    session has. Repartitioning to ``n`` (default:
    ``sparkContext.defaultParallelism``) costs one shuffle of the raw rows —
    trivial exactly when the problem occurs (the input is small).

    At 100 TB this is a guaranteed NO-OP: the scan already has far more
    partitions than ``defaultParallelism``, so the guard below never fires
    and no full-table shuffle is ever introduced.
    """
    spark = df.sparkSession
    target = n or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


@contextmanager
def scoped_conf(spark, settings: dict[str, str]):
    """Set session confs for the duration of a block, restoring previous
    values (or unsetting keys that had none) on exit. For operators that
    must EXECUTE under specific runtime settings (AQE thresholds, runtime
    filter injection) without leaking them into the rest of the session."""
    old: dict[str, str | None] = {}
    try:
        # setting INSIDE the try: a failing set (read-only key, invalid
        # value) must still restore the keys already overridden
        for k, v in settings.items():
            try:
                old[k] = spark.conf.get(k)
            except Exception:
                old[k] = None
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def aqe_split_skew_join(
    spark,
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    threshold_bytes: int = 65536,
    advisory_bytes: int = 32768,
) -> DataFrame:
    """RUNTIME skew mitigation, complementing the manual salting above:
    a plain shuffle join executed under AQE skew-split settings, so the
    oversized partitions of a hot key are split into advisory-sized
    sub-partitions at runtime (each joins the same build rows; no salt
    column, no plan rewrite — semantics identical to the plain join).

    The join EXECUTES inside this call (localCheckpoint) because the
    thresholds are scoped session confs — AQE reads them at runtime, so
    they must hold while the job runs, not while the plan is built. The
    returned frame is the materialized result; the final adaptive plan
    that actually ran is attached as ``.aqe_executed_plan`` for plan
    pinning (it must contain the SortMergeJoin ``skew=true`` marker).

    The byte thresholds here are sized for test corpora; production keeps
    the session defaults (256 MB threshold) — only ratios matter to the
    mechanism. Broadcast is disabled for the demo join: a broadcast join
    never shuffles and so can never skew; AQE would otherwise pick it at
    test scale and the row would demonstrate nothing.

    Two STRUCTURAL prerequisites, measured the hard way (r9):

    - a skewed reduce partition can only split at MAP-OUTPUT boundaries,
      so the fact side must arrive from several map tasks — a one-file
      parquet scan (one map task) is unsplittable no matter the
      thresholds. At scale this is automatic; tiny inputs need a
      repartition first.
    - OptimizeSkewedJoin pattern-matches SMJ children as
      Sort(ShuffleQueryStage) EXACTLY: an aggregate (or anything else)
      between the dim's shuffle and its sort defeats the rule. Pass a
      materialized dim (e.g. localCheckpoint of the aggregate), not an
      inline aggregation."""
    settings = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": str(threshold_bytes),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(advisory_bytes),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1b",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
    }
    with scoped_conf(spark, settings):
        joined = fact.join(dim, key)
        out = joined.localCheckpoint(eager=True)
        plan = joined._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    out.aqe_executed_plan = plan
    return out
