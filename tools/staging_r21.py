"""Implemented spares beyond the lift horizon (round 21 would lift this
module, but the run ends at round 20 — see the r15 queue reorder note in
tools/staging_r16.py). Everything here is implemented and oracle-tested
at sf0.001 like every staged module; the rows are available should a
registry slot free up, and their operators keep coverage elsewhere
regardless (grouping-sets provenance: the registered rollup/cube/
grouping-sets rows; outer-join state accounting: the registered
stream_full_outer_interval row plus tests/test_streaming.py; bitmap
merges: the registered bitmap_gsets_distinct and bitmap_distinct_users
rows; functions/ordinal.global_ordinal: the r19-staged rfm_segments row
and tests/test_ordinal.py).

Rows:
  - grouping_id_provenance — GROUPING SETS with BITMASK provenance:
    grouping_id() + per-column grouping() flags distinguish a real NULL
    group key from a rolled-up one (the provenance the existing
    rollup/cube/grouping-sets rows never exposed). Oracle reconstructs
    every grouping set as a plain GROUP BY UNION ALL with literal masks
    — ground truth, no grouping-sets machinery trusted.
  - stream_outer_eviction — state-EVICTION accounting for the
    stream-stream left-outer interval join: rows the watermark evicted
    unmatched emit exactly one NULL row each, so (n_purchases,
    n_matched_pairs, n_evicted) reconciles against the batch left join.
    The existing outer rows pin the joined ROWS; this row pins the state
    lifecycle arithmetic (matched + evicted = universe).
  - bitmap_retention — week-over-week retained users EXACTLY, from
    mergeable bitmap partials via inclusion-exclusion: |A∩B| = |A| +
    |B| - |A∪B|, where the union count OR-merges the same per-(week,
    bucket) bitmaps the per-week counts read — Spark has no bitmap AND,
    and this shape never needs one.  Oracle: plain distinct-user
    self-join between adjacent weeks.
  - ordinal_assign_docs — contiguous global 1..n numbering of documents
    by doc_id via functions/ordinal.global_ordinal: range-partition,
    pin, per-partition counts -> broadcast offsets, partition-local
    row_number.  The oracle is the single-partition window — exactly
    the plan the operator exists to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from kafka_custom_transforms_spark.sources.tables import load_table


def grouping_id_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three grouping sets in one pass over orders with full provenance:
    gid = grouping_id() (bit per GROUP BY column, status high bit) and the
    per-column grouping() flags. Cents stay integer-exact; one hash
    aggregate per set under the hood (Spark expands grouping sets into a
    single Expand + aggregate — one shuffle total)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    o.createOrReplaceTempView("kcts_gid_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               cast(grouping_id() AS bigint)            AS gid,
               cast(grouping(o_orderstatus) AS bigint)  AS g_status,
               cast(grouping(o_orderpriority) AS bigint) AS g_prio,
               cast(count(*) AS bigint)                 AS n,
               cast(sum(cents) AS bigint)               AS sum_cents
        FROM kcts_gid_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


def stream_outer_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """State-eviction accounting for the stream-stream LEFT OUTER interval
    join (purchases x clicks within 60 s): the watermark evicts each
    unmatched purchase exactly once as a NULL row, so matched + evicted
    reconciles to the purchase universe. Same sentinel/bucket machinery
    as the stream_outer_interval row (left side single-bucket so an
    unmatched purchase emits exactly ONE null row)."""
    from __spark_entry__ import _scratch_dir
    from kafka_custom_transforms_spark.streaming.sinks import write_parquet_stream

    d = _scratch_dir("kcts-ssevict-")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    sentinel = ev.agg(F.max("ts").alias("m")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("m") + F.expr("INTERVAL 6 HOURS")).alias("ts"),
        F.explode(F.array(F.lit("click"), F.lit("purchase"))).alias("event_type"),
    )
    ev.unionByName(sentinel).coalesce(1).write.parquet(d + "/staged")
    schema = "event_id long, ts timestamp, event_type string"
    grain = 60_000_000  # us; == window width, so a click covers <= 2 buckets
    p = (
        spark.readStream.schema(schema).parquet(d + "/staged")
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("p_id"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
        .withColumn("bucket", F.floor(F.unix_micros(F.col("p_ts")) / F.lit(grain)))
    )
    c_us = F.unix_micros(F.col("c_ts"))
    c = (
        spark.readStream.schema(schema).parquet(d + "/staged")
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("c_id"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
        .withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(c_us / F.lit(grain)),
                    F.floor((c_us + F.lit(grain)) / F.lit(grain)),
                )
            ),
        )
    )
    # No sentinel predicate in the join condition (it would be pushed below
    # the click-side watermark node and stall outer emission — see the
    # stream_outer_interval row); the sentinel pair drops with p_id < 0.
    j = p.join(
        c,
        (p["bucket"] == c["bucket"])
        & F.expr("c_ts between p_ts - interval 60 seconds and p_ts"),
        "leftOuter",
    )
    q = write_parquet_stream(j.drop("bucket"), d + "/sink", d + "/ckpt")
    q.awaitTermination()
    sink = spark.read.parquet(d + "/sink").filter(F.col("p_id") >= 0)
    return sink.agg(
        F.countDistinct("p_id").cast("long").alias("n_purchases"),
        F.sum(F.when(F.col("c_id").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_matched_pairs"),
        F.sum(F.when(F.col("c_id").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_evicted"),
    )


def bitmap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact adjacent-week retention from one bitmap-partial pass.
    Week w's bitmaps contribute to pair w (as the left week) and pair
    w-1 (as the right week); OR-merging a pair's bitmaps gives
    |A_w ∪ A_w+1| losslessly, and inclusion-exclusion closes the
    intersection without a bitmap AND.  The per-week counts frame is
    weeks-sized — broadcast both joins."""
    from kafka_custom_transforms_spark.functions.bitmap import (
        bucket_bitmaps,
        distinct_counts,
        merge_bitmaps,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("cast(datediff(to_date(ts), date'2024-01-01') as long) div 7").alias(
            "week"
        ),
    )
    bm = bucket_bitmaps(ev, "user_id", ["week"])
    wk = distinct_counts(bm, ["week"], alias="active")
    pairs = bm.withColumn(
        "pair", F.explode(F.array(F.col("week") - 1, F.col("week")))
    )
    union_cnt = distinct_counts(merge_bitmaps(pairs, ["pair"]), ["pair"], alias="u")
    left = wk.select(F.col("week").alias("week_idx"), F.col("active").alias("active_users"))
    right = wk.select((F.col("week") - 1).alias("week_idx"), F.col("active").alias("next_active"))
    return (
        union_cnt.withColumnRenamed("pair", "week_idx")
        .join(F.broadcast(left), "week_idx")
        .join(F.broadcast(right), "week_idx")
        .select(
            "week_idx",
            "active_users",
            (F.col("active_users") + F.col("next_active") - F.col("u"))
            .cast("long")
            .alias("retained_users"),
        )
    )



def ordinal_assign_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 1..n ordinals over documents by doc_id with no
    whole-table single-partition window — functions/ordinal.py has the
    full plan narrative; tests/test_ordinal.py pins that every window in
    the executed plan is either pid-partitioned or over the bounded
    counts frame."""
    from kafka_custom_transforms_spark.functions.ordinal import global_ordinal

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return global_ordinal(docs, "doc_id", n_parts=8)


STAGED = {
    "bitmap_retention": bitmap_retention,
    "ordinal_assign_docs": ordinal_assign_docs,
    "grouping_id_provenance": grouping_id_provenance,
    "stream_outer_eviction": stream_outer_eviction,
}


STAGED_ORACLES = {
    # Ground truth: each grouping set as a plain GROUP BY, masks literal.
    "grouping_id_provenance": """
        WITH o AS (
          SELECT o_orderstatus, o_orderpriority,
                 cast(round(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        )
        SELECT o_orderstatus, o_orderpriority,
               cast(0 AS BIGINT) AS gid, cast(0 AS BIGINT) AS g_status,
               cast(0 AS BIGINT) AS g_prio,
               cast(count(*) AS BIGINT) AS n,
               cast(sum(cents) AS BIGINT) AS sum_cents
        FROM o GROUP BY o_orderstatus, o_orderpriority
        UNION ALL
        SELECT o_orderstatus, NULL,
               cast(1 AS BIGINT), cast(0 AS BIGINT), cast(1 AS BIGINT),
               cast(count(*) AS BIGINT), cast(sum(cents) AS BIGINT)
        FROM o GROUP BY o_orderstatus
        UNION ALL
        SELECT NULL, NULL,
               cast(3 AS BIGINT), cast(1 AS BIGINT), cast(1 AS BIGINT),
               cast(count(*) AS BIGINT), cast(sum(cents) AS BIGINT)
        FROM o
    """,
    # matched + evicted reconcile against the batch left join.
    "stream_outer_eviction": """
        with p as (select event_id, ts from events where event_type = 'purchase'),
             c as (select event_id, ts from events where event_type = 'click'),
             j as (
               select p.event_id as p_id, c.event_id as c_id
               from p left join c
                 on c.ts between p.ts - interval 60 second and p.ts
             )
        select cast(count(distinct p_id) as bigint) as n_purchases,
               cast(sum(case when c_id is not null then 1 else 0 end) as bigint)
                 as n_matched_pairs,
               cast(sum(case when c_id is null then 1 else 0 end) as bigint)
                 as n_evicted
        from j
    """,
    # Ground truth: distinct-user self-join between adjacent weeks — no
    # bitmaps, no inclusion-exclusion on the oracle side.
    "bitmap_retention": """
        WITH wk AS (
          SELECT DISTINCT
                 date_diff('day', DATE '2024-01-01', cast(ts AS DATE)) // 7 AS w,
                 user_id
          FROM events
        ),
        cnt AS (SELECT w, cast(count(*) AS BIGINT) AS c FROM wk GROUP BY w),
        ret AS (
          SELECT a.w, cast(count(*) AS BIGINT) AS r
          FROM wk a JOIN wk b ON b.user_id = a.user_id AND b.w = a.w + 1
          GROUP BY a.w
        )
        SELECT cast(c0.w AS BIGINT) AS week_idx,
               c0.c AS active_users,
               cast(coalesce(r.r, 0) AS BIGINT) AS retained_users
        FROM cnt c0
        JOIN cnt c1 ON c1.w = c0.w + 1
        LEFT JOIN ret r ON r.w = c0.w
    """,
    # The oracle IS the anti-scale plan the operator replaces: a global
    # single-partition window — fine at sf0.01, fatal at 100 TB.
    "ordinal_assign_docs": """
        SELECT doc_id, n_chars,
               cast(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS ordinal
        FROM documents
    """,
}
