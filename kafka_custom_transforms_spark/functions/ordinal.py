"""Scalable global ordinal assignment (the DataFrame ``zipWithIndex``).

``row_number() OVER (ORDER BY key)`` is the textbook way to number rows
by a global order — and the textbook anti-scale plan: an empty
``PARTITION BY`` collapses the whole table into ONE task, so the window
sort is single-threaded and single-machine whatever the cluster size.
At 100 TB that task simply never finishes.

:func:`global_ordinal` produces the same contiguous 1..n numbering with
no global single-partition stage:

1. ``repartitionByRange(n_parts, key)`` range-partitions the rows so
   partition *i* holds a contiguous key range below partition *i+1*
   (sampled boundaries; skew in the key only costs balance, not
   correctness).
2. The partitioned frame is pinned ONCE (``localCheckpoint``) so the
   two consumers below see the same partition assignment — without the
   pin, the count pass and the numbering pass would each re-execute the
   sampling-based partitioner, and any boundary drift between the two
   executions would corrupt the offsets.  (On a real cluster prefer
   ``persist(StorageLevel.DISK_ONLY)`` or a bucketed write for the pin;
   the semantics are identical.)
3. Per-partition row counts — ``n_parts`` rows, KBs — are cumulated
   into start offsets with a window over the TINY counts frame (its
   single-partition sort is over ``n_parts`` rows, bounded by cluster
   fan-out, not by data volume) and broadcast-joined back.
4. ``ordinal = offset + row_number() OVER (PARTITION BY pid ORDER BY
   key)`` — every window sort is partition-local.

Ordering contract: ordinals follow ``order_col`` ascending; ties within
a partition get arbitrary-but-consecutive ordinals (pass a unique key
for a deterministic result, as ``zipWithIndex`` users always did).
NULL keys sort first (Spark range-partitioner default) and are numbered
like any other value.

No reference counterpart (the reference is 3 Kafka Connect SMTs —
SURVEY.md §0); this extends the engine per the driver's
training-data-pipeline mandate (stable sample/shard ids, resumable
cursors over a corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from kafka_custom_transforms_spark.plans.stats import plan_bytes

__all__ = ["global_ordinal", "ORDINAL_WINDOW_MAX_BYTES"]

_PID = "_go_pid"
_OFF = "_go_offset"

# Measured crossover (r13, local[32], shuffled unique bigint keys): at
# 500k rows the plain single-partition window reads ~1.4 s vs ~7 s for
# the distributed plan (the checkpoint materialization isn't free); by
# 5M rows the ordering flips (~11 s vs ~6 s) and diverges from there —
# the window's one sort task gets ALL the data whatever the cluster
# size. Dispatch on the plan's estimated size: below this many bytes
# one task sorts the whole input in seconds on any hardware, so the
# window path is the cheaper plan EVEN on a cluster; above it, the
# distributed path. Same promote-the-measured-crossover move as
# dedup.AND_BAND_CROSSOVER / similarity.UNROLL_MIN_ROWS.
ORDINAL_WINDOW_MAX_BYTES = 64 << 20


def global_ordinal(
    df: DataFrame,
    order_col: str,
    n_parts: int | None = None,
    out_col: str = "ordinal",
) -> DataFrame:
    """Append ``out_col`` = the 1-based global rank of ``order_col``,
    computed without any whole-table single-partition window.

    With ``n_parts=None`` the input's estimated plan size dispatches:
    inputs under :data:`ORDINAL_WINDOW_MAX_BYTES` take the plain global
    window (one bounded sort task — cheaper than the distributed plan's
    checkpoint at that size, measured); larger or stats-less inputs take
    the distributed plan. Pass ``n_parts`` explicitly to pin the
    distributed plan regardless of size (what the registry row does, so
    its plan shape is the scale path)."""
    if n_parts is None:
        size = plan_bytes(df)
        if size is not None and size < ORDINAL_WINDOW_MAX_BYTES:
            return df.withColumn(
                out_col,
                F.row_number().over(Window.orderBy(order_col)).cast("long"),
            )
        n_parts = df.sparkSession.sparkContext.defaultParallelism
    part = (
        df.repartitionByRange(n_parts, F.col(order_col))
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint()
    )
    counts = part.groupBy(_PID).count()
    # Window over the counts frame only: n_parts rows, not data rows.
    offsets = counts.select(
        _PID,
        (
            F.coalesce(
                F.sum("count").over(
                    Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
        ).alias(_OFF),
    )
    numbered = part.join(F.broadcast(offsets), _PID).withColumn(
        out_col,
        (
            F.col(_OFF)
            + F.row_number().over(Window.partitionBy(_PID).orderBy(order_col))
        ).cast("long"),
    )
    return numbered.drop(_PID, _OFF)
