"""DropField parity tests — one test per behavior branch of SURVEY.md §2.1,
mirroring the reference's DropFieldTest.java fixtures
({k1:int32, parent:{child:{k2:string}}}, fields=parent.child.k2 / parent.child)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import Row, functions as F

from kafka_custom_transforms_spark import drop_fields, hoist_field, transform_chain
from kafka_custom_transforms_spark.operators.schemaless import malformed_json, not_json_object


def _nested_df(spark):
    return spark.createDataFrame(
        [(123, "123")], "k1 int, k2 string"
    ).select(
        "k1",
        F.struct(F.struct(F.col("k2")).alias("child")).alias("parent"),
    ).select(F.struct("k1", "parent").alias("value"))


def test_struct_drop_leaf_leaves_empty_struct(spark):
    """DropFieldTest.java:26-65 — dropping the only field of child yields an
    EMPTY struct, not a missing/null child."""
    out = drop_fields(["parent.child.k2"])( _nested_df(spark))
    row = out.collect()[0]
    assert row.value.k1 == 123
    assert row.value.parent.child is not None
    assert row.value.parent.child.asDict() == {}
    assert out.select(F.to_json("value")).collect()[0][0] == (
        '{"k1":123,"parent":{"child":{}}}'
    )


def test_struct_drop_subtree(spark):
    """DropFieldTest.java:68-103 — dropping parent.child removes the subtree."""
    out = drop_fields(["parent.child"])(_nested_df(spark))
    assert out.select(F.to_json("value")).collect()[0][0] == '{"k1":123,"parent":{}}'
    out2 = drop_fields(["parent"])(_nested_df(spark))
    assert out2.select(F.to_json("value")).collect()[0][0] == '{"k1":123}'


def test_null_value_passthrough(spark):
    """D1 (DropField.java:45-46): null target stays null."""
    nulls = spark.createDataFrame(
        [Row(value=None)],
        "value struct<k1: int, parent: struct<child: struct<k2: string>>>",
    )
    out = drop_fields(["parent.child.k2"])(nulls)
    assert out.collect()[0].value is None


_JSON_PATHS = {
    "drop_fields/json_schema": ("drop_fields", lambda: drop_fields(["a"], json_schema="a int, b int")),
    "drop_fields/udf": ("drop_fields", lambda: drop_fields(["a"])),
    "hoist_field/json_schema": (
        "hoist_field", lambda: hoist_field("f", ["a"], json_schema="a int, b int")
    ),
    "hoist_field/udf": ("hoist_field", lambda: hoist_field("f", ["a"])),
    # H1: wraps any JSON value, so only text that does not parse raises.
    "hoist_field/wrap": ("hoist_field", lambda: hoist_field("f")),
}


# Value -> the error it raises. The last one parses but does not fit the
# json_schema "a int, b int"; the UDF paths have no schema for it to misfit.
_MISFIT = '{"a":"x","b":2}'
_BAD_JSON = {
    "[1]": not_json_object,
    '"x"': not_json_object,
    "7": not_json_object,
    "null": not_json_object,
    "[1,": not_json_object,
    '{"a":1,': malformed_json,
    # Text after a complete object, which from_json alone stops before.
    '{"a":1}}': malformed_json,
    '{"a":1}]': malformed_json,
    '{"a":1},"x":1': malformed_json,
    '{"a":1},1': malformed_json,
    '{"a":1} 1': malformed_json,
    # Single quotes, which json.loads rejects, on every path.
    "{'a':1,'b':2}": malformed_json,
    '{"a":1,"b":\'x\'}': malformed_json,
    _MISFIT: malformed_json,
}


@pytest.mark.parametrize("value", list(_BAD_JSON))
@pytest.mark.parametrize("path", sorted(_JSON_PATHS))
def test_non_object_json_raises_on_every_json_path(spark, path, value):
    """The reference requires a Map for a schemaless value (DropField.java:56
    requireMap, ExtendedHoistField.java:52-60 getValueAsMap): every JSON
    path of both SMTs raises the same error naming the transform for a
    non-null value that is not a JSON object, and another named error for
    text that does not parse or, on the json_schema paths, does not fit the
    schema (a misfit field used to read null and vanish; malformed text
    gave ``{}`` there and a bare JSONDecodeError in the UDF worker). SQL
    NULL still passes through (D1), and an object with leading whitespace
    is still an object. The wrap-all hoist (H1) takes any JSON value, so it
    raises only for text that does not parse and wraps SQL NULL."""
    name, make = _JSON_PATHS[path]
    transform = make()
    bad = spark.createDataFrame([(value,)], "value string")
    wrap = path == "hoist_field/wrap"
    try:
        parsed = json.loads(value)
    except json.JSONDecodeError:
        parsed = malformed_json
    if wrap and parsed is not malformed_json:
        assert json.loads(transform(bad).collect()[0].value) == {"f": parsed}
    elif value == _MISFIT and path.endswith("/udf"):
        got = json.loads(transform(bad).collect()[0].value)
        assert got in ({"b": 2}, {"a": "x", "f": {"b": 2}})
    else:
        error = malformed_json if wrap else _BAD_JSON[value]
        with pytest.raises(Exception, match=re.escape(error(name))):
            transform(bad).collect()
    ok = spark.createDataFrame([(None,), (' \n{"a":1,"b":2}',)], "value string")
    got = [r.value for r in transform(ok).collect()]
    assert got[0] == ('{"f":null}' if wrap else None)
    assert json.loads(got[1]) in ({"b": 2}, {"a": 1, "f": {"b": 2}}, {"f": {"a": 1, "b": 2}})


@pytest.mark.parametrize("wrap", [False, True])
@pytest.mark.parametrize("schema", ["a int, b int", None])
def test_fused_chain_raises_with_first_step_name(spark, schema, wrap):
    """A chain runs the JSON steps on a column as one step, which raises
    with its first step's name: step by step the same name raises for
    every input, since later steps only see objects the first one wrote."""
    hoist = hoist_field("f") if wrap else hoist_field("f", ["a"], json_schema=schema and "b int")
    chain = transform_chain(drop_fields(["a"], json_schema=schema), hoist)
    for value, error in (("[1]", not_json_object), ('{"a":1,', malformed_json)):
        with pytest.raises(Exception, match=re.escape(error("drop_fields"))):
            chain(spark.createDataFrame([(value,)], "value string")).collect()


def test_unmatched_paths_silently_ignored(spark):
    """D2: exact-match predicate; unmatched paths are no-ops."""
    out = drop_fields(["nope", "parent.nope", "parent.child.k2.too.deep"])(_nested_df(spark))
    assert out.select(F.to_json("value")).collect()[0][0] == (
        '{"k1":123,"parent":{"child":{"k2":"123"}}}'
    )


def test_empty_config_is_identity(spark):
    df = _nested_df(spark)
    assert drop_fields([])(df) is df


def test_map_drop_top_level(spark):
    df = spark.sql("select map('k1', 123, 'k2', 7) as value")
    out = drop_fields(["k2"])(df)
    assert out.collect()[0].value == {"k1": 123}


def test_map_drop_nested(spark):
    """D3 over map-of-map: descends into map values, path = dotted keys."""
    df = spark.sql(
        "select map('parent', map('child', map('k2', '123')), 'other', map('x', map('y','z'))) as value"
    )
    out = drop_fields(["parent.child.k2"])(df)
    v = out.collect()[0].value
    assert v["parent"]["child"] == {}
    assert v["other"]["x"] == {"y": "z"}


def test_json_drop_udf_path(spark):
    """D3 exact parity on JSON strings: arrays opaque, null entries kept,
    empty objects preserved."""
    payload = json.dumps(
        {"k1": 123, "parent": {"child": {"k2": "123"}}, "arr": [{"k2": 1}], "n": None}
    )
    df = spark.createDataFrame([(payload,)], "value string")
    out = drop_fields(["parent.child.k2", "arr.k2"])(df)
    got = json.loads(out.collect()[0].value)
    assert got == {"k1": 123, "parent": {"child": {}}, "arr": [{"k2": 1}], "n": None}


def test_json_drop_schema_fast_path(spark):
    payload = '{"k1":123,"parent":{"child":{"k2":"123","k3":"x"}}}'
    df = spark.createDataFrame([(payload,), (None,)], "value string")
    out = drop_fields(
        ["parent.child.k2"],
        json_schema="k1 int, parent struct<child: struct<k2: string, k3: string>>",
    )(df)
    rows = out.collect()
    assert json.loads(rows[0].value) == {"k1": 123, "parent": {"child": {"k3": "x"}}}
    assert rows[1].value is None


def test_key_target(spark):
    """D6: operate on any envelope side via target=."""
    df = spark.sql("select map('a', 1, 'b', 2) as key, 'v' as value")
    out = drop_fields(["a"], target="key")(df)
    row = out.collect()[0]
    assert row.key == {"b": 2} and row.value == "v"


def test_schema_basics_metadata_survive_rebuild(spark):
    """Connect schema basics (name/version/doc — SchemaUtil.copySchemaBasics,
    DropField.java:107) ride StructField.metadata through drop and hoist
    rebuilds, at the envelope level and on kept nested fields."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    from kafka_custom_transforms_spark import hoist_field

    inner = StructType(
        [
            StructField("a", IntegerType(), True, {"doc": "field a"}),
            StructField("b", IntegerType(), True),
        ]
    )
    sch = StructType(
        [
            StructField(
                "value",
                inner,
                True,
                {"connect.name": "com.example.Rec", "connect.version": 3, "doc": "envelope"},
            )
        ]
    )
    df = spark.createDataFrame([((1, 2),)], sch)

    dropped = drop_fields(["b"])(df)
    vf = dropped.schema["value"]
    assert vf.metadata["connect.name"] == "com.example.Rec"
    assert vf.metadata["connect.version"] == 3
    assert vf.dataType["a"].metadata == {"doc": "field a"}

    hoisted = hoist_field("payload", keep_in_root=["a"])(df)
    hf = hoisted.schema["value"]
    assert hf.metadata["doc"] == "envelope"
    assert hf.dataType["a"].metadata == {"doc": "field a"}
    assert hf.dataType["payload"].dataType["b"].metadata == {}


def _has_cast(df) -> bool:
    return "cast(" in df._jdf.queryExecution().optimizedPlan().toString().lower()


def test_schema_basics_metadata_survive_fused_runs(spark):
    """A chain's struct run (drop then hoist, one expression) keeps field
    metadata two levels down, through a rebuilt and a moved struct, and a
    JSON run keeps its target's metadata. Spark gives a field the metadata
    of the field it references, so only the metadata of a rebuilt struct
    needs a cast to the static output type; without one the optimized
    plan holds no ``Cast``."""
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    def value_type(p_metadata: dict) -> StructType:
        p = StructType(
            [StructField("q", IntegerType(), True, {"doc": "field q"}), StructField("r", IntegerType())]
        )
        m = StructType([StructField("n", IntegerType(), True, {"doc": "field n"})])
        return StructType(
            [
                StructField("a", IntegerType(), True, {"doc": "field a"}),
                StructField("m", m, True, {"doc": "field m"}),
                StructField("p", p, True, p_metadata),
            ]
        )

    envelope = {"connect.name": "com.example.Rec", "doc": "envelope"}
    chain = transform_chain(drop_fields(["p.r"]), hoist_field("payload", keep_in_root=["a"]))
    for p_metadata in ({}, {"doc": "field p"}):
        schema = StructType([StructField("value", value_type(p_metadata), True, envelope)])
        out = chain(spark.createDataFrame([((1, (2,), (3, 4)),), (None,)], schema))
        vf = out.schema["value"]
        assert vf.metadata == envelope
        assert vf.dataType["a"].metadata == {"doc": "field a"}
        payload = vf.dataType["payload"]
        assert payload.metadata == {}
        assert payload.dataType["m"].metadata == {"doc": "field m"}
        assert payload.dataType["m"].dataType["n"].metadata == {"doc": "field n"}
        assert payload.dataType["p"].metadata == p_metadata
        assert payload.dataType["p"].dataType["q"].metadata == {"doc": "field q"}
        assert [r.value and r.value.asDict(recursive=True) for r in out.collect()] == [
            {"a": 1, "payload": {"m": {"n": 2}, "p": {"q": 3}}}, None
        ]
        assert _has_cast(out) == bool(p_metadata)

    text = StructType([StructField("value", StringType(), True, envelope)])
    js = spark.createDataFrame([('{"a":1,"b":2}',)], text)
    for chain in (
        transform_chain(drop_fields(["a"], json_schema="a int, b int"), hoist_field("f")),
        transform_chain(drop_fields(["a"]), hoist_field("f")),
    ):
        got = chain(js)
        assert got.schema["value"].metadata == envelope
        assert got.collect()[0].value == '{"f":{"b":2}}'


def test_json_udf_path_matches_schema_path_property(spark):
    """Hypothesis sweep (r10, verdict item 7): the Arrow step
    (schemaless.arrow_step running _prune_json_obj) and the JVM step
    (schemaless.jvm_step running _rebuild_struct) must agree on every
    schema-conforming nested JSON shape and every dropset over the path
    universe. The one DOCUMENTED difference is null handling — to_json
    omits null fields while the UDF copies them losslessly — so outputs
    are compared as parsed objects after recursively removing null-valued
    entries. Each example evaluates one small DataFrame through BOTH
    transforms in a single session (the r9 cosine-fold sweep is the
    template, adapted to Spark-in-the-loop with a bounded example
    count)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    schema = "a int, b struct<c int, d struct<e int, f string>, g string>, h string"
    paths_universe = [
        "a", "b", "h", "b.c", "b.d", "b.g", "b.d.e", "b.d.f", "x", "b.x",
    ]
    ints = st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1))
    strs = st.one_of(st.none(), st.text(max_size=8))

    def maybe(strategy):
        # None ~ JSON null; st.nothing-like omission is modeled by a
        # sentinel filtered out below
        return st.one_of(st.just("__omit__"), strategy)

    inner_d = st.one_of(
        st.none(),
        st.fixed_dictionaries({}, optional={"e": maybe(ints), "f": maybe(strs)}),
    )
    inner_b = st.one_of(
        st.none(),
        st.fixed_dictionaries(
            {}, optional={"c": maybe(ints), "d": maybe(inner_d), "g": maybe(strs)}
        ),
    )
    doc = st.fixed_dictionaries(
        {}, optional={"a": maybe(ints), "b": maybe(inner_b), "h": maybe(strs)}
    )

    def strip_omits(o):
        if isinstance(o, dict):
            return {k: strip_omits(v) for k, v in o.items() if v != "__omit__"}
        return o

    def drop_nulls(o):
        if isinstance(o, dict):
            return {k: drop_nulls(v) for k, v in o.items() if v is not None}
        return o

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(doc, min_size=1, max_size=5),
        st.sets(st.sampled_from(paths_universe), min_size=1, max_size=5),
    )
    def check(docs, dropset):
        rows = [(json.dumps(strip_omits(d)),) for d in docs]
        df = spark.createDataFrame(rows, "value string")
        paths = sorted(dropset)
        via_udf = drop_fields(paths)(df).collect()
        via_schema = drop_fields(paths, json_schema=schema)(df).collect()
        got_udf = [drop_nulls(json.loads(r.value)) for r in via_udf]
        got_schema = [json.loads(r.value) for r in via_schema]
        assert got_udf == got_schema

    check()
