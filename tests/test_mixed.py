"""Mixed-representation (schema'd + schemaless interleaved) dispatch tests —
parity with the reference's per-record ``schema == null`` branch
(DropField.java:47-51)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F

from kafka_custom_transforms_spark import drop_fields, hoist_field, transform_chain
from kafka_custom_transforms_spark.operators.mixed import (
    merge_mixed,
    mixed_smt,
    split_mixed,
)
from kafka_custom_transforms_spark.operators.schemaless import malformed_json, not_json_object


def _chain():
    return transform_chain(
        split_mixed(
            target="value",
            is_structured=F.col("id") % 2 == 1,
            schema="k int, uid bigint",
        ),
        mixed_smt(drop_fields, ["k"], target="value",
                  json_kwargs={"json_schema": "k int, uid bigint"}),
        mixed_smt(hoist_field, "payload", target="value"),
        merge_mixed(target="value", keep_branch="branch"),
    )


def test_mixed_dispatch_per_record(spark):
    df = spark.createDataFrame(
        [(i, json.dumps({"k": i * 10, "uid": 100 + i})) for i in range(4)],
        "id long, value string",
    )
    rows = {r.id: (r.branch, r.value) for r in _chain()(df).collect()}
    assert rows == {
        0: ("schemaless", '{"payload":{"uid":100}}'),
        1: ("structured", '{"payload":{"uid":101}}'),
        2: ("schemaless", '{"payload":{"uid":102}}'),
        3: ("structured", '{"payload":{"uid":103}}'),
    }


def test_mixed_exclusivity_invariant(spark):
    """After split, exactly one representation column is non-null per row."""
    df = spark.createDataFrame(
        [(i, json.dumps({"k": i, "uid": i})) for i in range(6)],
        "id long, value string",
    )
    split = split_mixed(
        target="value", is_structured=F.col("id") % 2 == 1, schema="k int, uid bigint"
    )(df)
    bad = split.filter(
        F.col("value_struct").isNotNull() == F.col("value_json").isNotNull()
    ).count()
    assert bad == 0


def test_mixed_runs_on_stream(spark, tmp_path):
    """The mixed chain is pure column transforms — legal in an append-mode
    stream end to end."""
    df = spark.createDataFrame(
        [(i, json.dumps({"k": i, "uid": i})) for i in range(4)],
        "id long, value string",
    )
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = _chain()(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("mixed_stream_t")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.id: r.value for r in spark.sql("select * from mixed_stream_t").collect()}
    assert got == {i: '{"payload":{"uid":%d}}' % i for i in range(4)}


@pytest.mark.parametrize(
    "value, error",
    [
        ('{"k":1,', malformed_json),
        ("[1]", not_json_object),
        ("{'k':1}", malformed_json),
        ('{"k":"x","uid":5}', malformed_json),
    ],
)
def test_split_mixed_reads_structured_json_like_the_schemaless_branch(spark, value, error):
    """A structured record is read with the one checked JSON reader: text
    that does not parse, is not an object, uses single quotes or does not
    fit the schema raises the schemaless branch's error (it used to come
    out as ``{}`` or lose the misfit field). The same text on a schemaless
    row reaches ``_json`` unread, and SQL NULL passes through."""
    split = split_mixed(target="value", is_structured=F.col("id") % 2 == 1, schema="k int, uid bigint")
    with pytest.raises(Exception, match=re.escape(error("split_mixed"))):
        split(spark.createDataFrame([(1, value)], "id long, value string")).collect()
    rows = split(spark.createDataFrame([(0, value), (1, None), (0, None)], "id long, value string")).collect()
    assert [(r.value_struct, r.value_json) for r in rows] == [(None, value), (None, None), (None, None)]
