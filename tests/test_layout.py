"""Z-order layout expression tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_custom_transforms_spark.functions.layout import z_value


def _z(spark, a, b, bits=16):
    df = spark.createDataFrame([(a, b)], "a long, b long")
    return df.select(z_value(F.col("a"), F.col("b"), bits).alias("z")).collect()[0].z


def test_z_value_interleaves_bits(spark):
    # a=0b11 -> positions 0,2 ; b=0b01 -> position 1  => 0b0111 = 7
    assert _z(spark, 3, 1) == 7
    # a=0 keeps only odd positions: b=0b11 -> positions 1,3 => 0b1010 = 10
    assert _z(spark, 0, 3) == 10
    assert _z(spark, 0, 0) == 0


def test_z_value_is_monotone_in_each_dim_locally(spark):
    """Within a fixed other-coordinate, z grows with each input — the
    property that makes contiguous z-ranges cover small rectangles."""
    df = spark.createDataFrame([(a, 5) for a in range(16)], "a long, b long")
    zs = [r.z for r in df.select(z_value(F.col("a"), F.col("b"), 8).alias("z"))
          .orderBy("a").collect()]
    assert zs == sorted(zs)


def test_z_value_masks_high_bits(spark):
    # inputs wider than `bits` are masked, not overflowed (ANSI-safe)
    assert _z(spark, 1 << 40, 0, bits=4) == 0


def test_z_value_rejects_wide_bits(spark):
    with pytest.raises(ValueError, match="bits"):
        z_value(F.lit(1), F.lit(1), bits=32)


def test_zorder_layout_concentrates_matches_in_fewer_files(spark, tmp_path):
    """The point of the layout key, measured: write the same table (a) in
    arbitrary order and (b) range-partitioned+sorted by z — under a
    two-dimensional range predicate, the z-ordered layout puts every
    matching row in strictly fewer files, which is exactly what file-level
    min/max skipping prunes at scale."""

    from kafka_custom_transforms_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id", "user_id", F.expr("event_id % 128").alias("hb")
    )
    z = z_value(F.col("user_id"), F.col("hb"), bits=8)
    d = str(tmp_path)
    n_files = 16
    ev.repartition(n_files).write.parquet(d + "/plain")
    (
        ev.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.parquet(d + "/zord")
    )
    pred = (F.col("user_id") < 30) & (F.col("hb") < 32)

    def files_with_matches(path):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name().alias("f"))
            .distinct()
            .count()
        )

    plain, zord = files_with_matches(d + "/plain"), files_with_matches(d + "/zord")
    # round-robin scatters matches across ~every file; z-order confines them
    assert zord < plain, (zord, plain)
    assert zord <= n_files // 2, (zord, plain)


def test_z_value_stays_in_codegen(spark):
    from kafka_custom_transforms_spark.plans.explain import plan_str
    from kafka_custom_transforms_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    out = ev.select(z_value(F.col("user_id"), F.col("event_id"), 16).alias("z"))
    assert "* Project" in plan_str(out)
