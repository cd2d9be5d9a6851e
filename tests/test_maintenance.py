"""Small-file compaction and dynamic partition overwrite tests."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from kafka_custom_transforms_spark.sources.maintenance import (
    compact_to_target,
    overwrite_partitions,
)
from kafka_custom_transforms_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _parquet_files(path: str) -> list[str]:
    return glob.glob(path + "/**/*.parquet", recursive=True)


def test_compact_to_target_file_count(spark, tmp_path):
    docs = load_table(spark, SF, "documents")  # 500 rows
    d = str(tmp_path)
    n_files = compact_to_target(docs, d + "/out", target_rows_per_file=120)
    assert n_files == 5  # ceil(500/120)
    files = _parquet_files(d + "/out")
    assert len(files) == 5
    assert spark.read.parquet(d + "/out").count() == 500


def test_compact_single_file_floor(spark, tmp_path):
    docs = load_table(spark, SF, "documents").limit(10)
    d = str(tmp_path)
    assert compact_to_target(docs, d + "/out", target_rows_per_file=1000) == 1
    assert len(_parquet_files(d + "/out")) == 1


def test_dynamic_partition_overwrite_touches_only_written_partition(spark, tmp_path):
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type"
    )
    d = str(tmp_path)
    # seed a partitioned table over all event types
    ev.write.partitionBy("event_type").parquet(d + "/t")
    before = {p: set(_parquet_files(p)) for p in glob.glob(d + "/t/event_type=*")}
    assert len(before) > 1

    # rewrite exactly one partition with a reduced slice
    one_type = sorted(before)[0].rsplit("=", 1)[1]
    patch = ev.filter(F.col("event_type") == one_type).limit(5)
    overwrite_partitions(spark, patch, d + "/t", "event_type")

    after = {p: set(_parquet_files(p)) for p in glob.glob(d + "/t/event_type=*")}
    # untouched partitions keep their exact file sets
    for p in before:
        if p.endswith(f"={one_type}"):
            assert after[p] != before[p]
        else:
            assert after[p] == before[p], p
    # table still readable; patched partition has the patch row count
    got = (
        spark.read.parquet(d + "/t")
        .filter(F.col("event_type") == one_type)
        .count()
    )
    assert got == 5
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )
