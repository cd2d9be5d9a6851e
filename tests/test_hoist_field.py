"""ExtendedHoistField parity tests — one per branch of SURVEY.md §2.2,
mirroring ExtendedHoistFieldTest.java (field=magic,
keepInRootFieldNames=keepInRoot,keepInRoot2)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import Row, functions as F

from kafka_custom_transforms_spark import hoist_field
from kafka_custom_transforms_spark.operators.schemaless import malformed_json


def _flat_struct_df(spark, should=42, keep1=1, keep2=2):
    return spark.createDataFrame(
        [(should, keep1, keep2)],
        "shouldBeMoved int, keepInRoot int, keepInRoot2 int",
    ).select(F.struct("shouldBeMoved", "keepInRoot", "keepInRoot2").alias("value"))


def test_schema_partition(spark):
    """ExtendedHoistFieldTest.java:114-136 — movable fields go under magic,
    keep-list fields stay at root."""
    out = hoist_field("magic", ["keepInRoot", "keepInRoot2"])(_flat_struct_df(spark))
    row = out.collect()[0].value
    assert row.keepInRoot == 1 and row.keepInRoot2 == 2
    assert row.magic.shouldBeMoved == 42
    assert out.select(F.to_json("value")).collect()[0][0] == (
        '{"keepInRoot":1,"keepInRoot2":2,"magic":{"shouldBeMoved":42}}'
    )


def test_schema_all_kept_is_identity(spark):
    """H5 (ExtendedHoistFieldTest.java:139-158): nothing moves -> same df."""
    df = spark.createDataFrame([(1, 2)], "keepInRoot int, keepInRoot2 int").select(
        F.struct("keepInRoot", "keepInRoot2").alias("value")
    )
    out = hoist_field("magic", ["keepInRoot", "keepInRoot2"])(df)
    assert out is df


def test_schema_all_movable_null_gives_null_inner(spark):
    """H4 (ExtendedHoistFieldTest.java:161-182): every movable field null ->
    magic itself is null (omitted in the JSON rendering)."""
    df = spark.createDataFrame(
        [Row(shouldBeMoved=None, keepInRoot=1, keepInRoot2=2)],
        "shouldBeMoved int, keepInRoot int, keepInRoot2 int",
    ).select(F.struct("shouldBeMoved", "keepInRoot", "keepInRoot2").alias("value"))
    out = hoist_field("magic", ["keepInRoot", "keepInRoot2"])(df)
    row = out.collect()[0].value
    assert row.magic is None
    assert out.select(F.to_json("value")).collect()[0][0] == (
        '{"keepInRoot":1,"keepInRoot2":2}'
    )


def test_schema_primitive_wrap(spark):
    """H6 (ExtendedHoistFieldTest.java:185-194): bare typed value wrapped."""
    df = spark.createDataFrame([(42,)], "value int")
    out = hoist_field("magic")(df)
    assert out.collect()[0].value.asDict() == {"magic": 42}


def test_schemaless_map_wrap_all(spark):
    """H1 over MapType."""
    df = spark.sql("select map('a', 1) as value")
    out = hoist_field("magic")(df)
    assert out.collect()[0].value == {"magic": {"a": 1}}


def test_schemaless_map_keep_in_root_rejected(spark):
    df = spark.sql("select map('a', 1) as value")
    with pytest.raises(ValueError, match="JSON"):
        hoist_field("magic", ["a"])(df)


def test_json_wrap_all_including_null_and_primitive(spark):
    """H1 over JSON text (ExtendedHoistFieldTest.java:42-50 wraps 42): any
    text ``json.loads`` accepts is spliced as is — arrays, strings, JSON
    null, duplicate keys (which Spark's variant parser would reject), NaN."""
    texts = ["42", '{"a":1}', "[1,[2]]", '"x"', "null", '{"a":1,"a":2}', "NaN", " true "]
    df = spark.createDataFrame([(t,) for t in texts] + [(None,)], "value string")
    out = hoist_field("magic")(df)
    vals = [r.value for r in out.collect()]
    assert vals == ['{"magic":' + t + "}" for t in texts] + ['{"magic":null}']


# Text after a complete JSON value, which Spark's JSON reader does not
# read: each either closes the spliced object or the spliced array early,
# never both.
_WRAP_EDGE_TEXTS = ["1}", '{"a":1}}', "1]", '1,"x":1', "[]]", "1}]", '{"k":"]"}', ' {"a":1} ', "1 2", '"x"]']


@pytest.mark.parametrize("text", _WRAP_EDGE_TEXTS)
def test_json_wrap_checks_like_json_loads(spark, text):
    """H1 wraps exactly the texts ``json.loads`` accepts, spliced as is, and
    raises ``malformed_json`` for the rest."""
    df = spark.createDataFrame([(text,)], "value string")
    try:
        json.loads(text)
    except json.JSONDecodeError:
        with pytest.raises(Exception, match=re.escape(malformed_json("hoist_field"))):
            hoist_field("f")(df).collect()
    else:
        assert hoist_field("f")(df).collect()[0].value == '{"f":' + text + "}"


def test_json_wrap_escapes_field_name(spark):
    """A field name containing quotes/backslashes must still yield valid
    JSON (the H1 splice JSON-escapes the literal key)."""
    df = spark.createDataFrame([('{"a":1}',)], "value string")
    out = hoist_field('we"ird\\name')(df)
    got = json.loads(out.collect()[0].value)
    assert got == {'we"ird\\name': {"a": 1}}


def test_json_partition_udf_path(spark):
    """H2 (ExtendedHoistFieldTest.java:53-72): partition; 76-111: omit magic
    when nothing moves."""
    df = spark.createDataFrame(
        [('{"shouldBeMoved":42,"keepInRoot":1}',), ('{"keepInRoot":1}',)],
        "value string",
    )
    out = hoist_field("magic", ["keepInRoot", "keepInRoot2"])(df)
    vals = [json.loads(r.value) for r in out.collect()]
    assert vals[0] == {"keepInRoot": 1, "magic": {"shouldBeMoved": 42}}
    assert vals[1] == {"keepInRoot": 1}  # no magic key at all


def test_json_partition_schema_fast_path(spark):
    df = spark.createDataFrame(
        [('{"shouldBeMoved":42,"keepInRoot":1,"keepInRoot2":2}',), ('{"keepInRoot":1}',)],
        "value string",
    )
    out = hoist_field(
        "magic",
        ["keepInRoot", "keepInRoot2"],
        json_schema="shouldBeMoved int, keepInRoot int, keepInRoot2 int",
    )(df)
    vals = [json.loads(r.value) for r in out.collect()]
    assert vals[0] == {"keepInRoot": 1, "keepInRoot2": 2, "magic": {"shouldBeMoved": 42}}
    assert vals[1] == {"keepInRoot": 1}


def test_json_partition_non_object_raises(spark):
    """getValueAsMap parity (ExtendedHoistField.java:52-60)."""
    df = spark.createDataFrame([("42",)], "value string")
    out = hoist_field("magic", ["keepInRoot"])(df)
    with pytest.raises(Exception, match="Map instance"):
        out.collect()


def test_field_required(spark):
    with pytest.raises(ValueError, match="required"):
        hoist_field("")


def test_key_target(spark):
    df = spark.sql("select 7 as key, 'v' as value")
    out = hoist_field("magic", target="key")(df)
    row = out.collect()[0]
    assert row.key.asDict() == {"magic": 7} and row.value == "v"


def test_json_udf_path_matches_schema_path_property(spark):
    """Hypothesis sweep (r11, verdict item 8; the r10 drop_fields sweep is
    the template): the schemaless pandas-UDF partition path and the
    from_json fast path must agree on every schema-conforming JSON shape
    and every keep-set, AFTER normalizing the two DOCUMENTED semantic
    differences between the reference branches each path implements:

      - null rendering: the UDF copies null values losslessly (schemaless
        H2 moves keys regardless of value); from_json->to_json drops null
        fields (schema'd H4 null-skip) -> compare with nulls recursively
        removed;
      - field omission: schemaless H2 omits the hoist field when no KEY
        moves; schema'd H4 omits it when every moved VALUE is null -> an
        all-null inner map normalizes to omission on both sides (drop the
        hoist field when, nulls removed, it is {}).

    Anything else that diverges is a real bug in one of the paths."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    schema = "a int, b struct<c int, g string>, h string"
    ints = st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1))
    strs = st.one_of(st.none(), st.text(max_size=8))

    def maybe(strategy):
        return st.one_of(st.just("__omit__"), strategy)

    inner_b = st.one_of(
        st.none(),
        st.fixed_dictionaries({}, optional={"c": maybe(ints), "g": maybe(strs)}),
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

    def normalize(o, field):
        o = drop_nulls(o)
        if o.get(field) == {}:
            o.pop(field)
        return o

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(doc, min_size=1, max_size=5),
        st.sets(st.sampled_from(["a", "b", "h", "x"]), min_size=1, max_size=3),
    )
    def check(docs, keepset):
        rows = [(json.dumps(strip_omits(d)),) for d in docs]
        df = spark.createDataFrame(rows, "value string")
        keep = sorted(keepset)
        via_udf = hoist_field("magic", keep)(df).collect()
        via_schema = hoist_field("magic", keep, json_schema=schema)(df).collect()
        got_udf = [normalize(json.loads(r.value), "magic") for r in via_udf]
        got_schema = [normalize(json.loads(r.value), "magic") for r in via_schema]
        assert got_udf == got_schema

    check()
