"""Custom Python DataSource tests: schema, determinism, partition planning."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_custom_transforms_spark.sources.python_source import (
    register_envelope_source,
)


def _read(spark, parts=3, rows=10):
    register_envelope_source(spark)
    return (
        spark.read.format("kcts_envelope")
        .option("partitions", parts)
        .option("rows_per_partition", rows)
        .load()
    )


def test_schema_and_row_count(spark):
    df = _read(spark)
    assert df.columns == ["offset", "partition", "key", "value"]
    assert df.count() == 30


def test_rows_are_pure_function_of_offset(spark):
    rows = {r.offset: (r.partition, r.key, r.value) for r in _read(spark).collect()}
    assert rows[0] == (0, "user0", '{"k": 0}')
    assert rows[17] == (1, "user17", '{"k": 17}')
    assert rows[29] == (2, "user29", '{"k": 29}')
    # re-read is identical (deterministic source)
    assert rows == {
        r.offset: (r.partition, r.key, r.value) for r in _read(spark).collect()
    }


def test_partition_planning_gives_one_task_per_partition(spark):
    df = _read(spark, parts=5, rows=4)
    pids = df.select(F.spark_partition_id().alias("p")).distinct().count()
    assert pids == 5


def test_stream_reader_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """Kill-and-restart recovery: repeated availableNow runs against one
    checkpoint must drain the bounded stream with every offset delivered
    exactly once (the committed-offset contract)."""

    register_envelope_source(spark)
    d = str(tmp_path)
    env = (
        spark.readStream.format("kcts_envelope")
        .option("rows_per_batch", 37)
        .option("max_offset", 100)
        .load()
    )

    def run_once():
        q = (
            env.writeStream.format("parquet")
            .option("path", d + "/sink")
            .option("checkpointLocation", d + "/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(d + "/sink")

    counts = []
    for _ in range(8):
        counts.append(run_once().count())
        if len(counts) >= 2 and counts[-1] == counts[-2]:
            break
    sink = spark.read.parquet(d + "/sink")
    assert sink.count() == 100
    assert sink.select("offset").distinct().count() == 100  # exactly once
    assert counts[0] < 100  # genuinely resumed across restarts
