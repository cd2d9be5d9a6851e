"""Property-based tests (hypothesis): the JSON schemaless paths of
drop_fields / hoist_field / to_json_string against independent pure-Python
models, over arbitrary nested JSON objects and typed maps."""

from __future__ import annotations

import json

from hypothesis import HealthCheck, given, settings, strategies as st

from kafka_custom_transforms_spark import (
    drop_fields,
    hoist_field,
    to_json_string,
    transform_chain,
)

KEYS = st.sampled_from(["k1", "k2", "parent", "child", "x"])
SCALARS = st.one_of(st.none(), st.integers(-1000, 1000), st.text(max_size=8))
JSON_OBJS = st.recursive(
    st.dictionaries(KEYS, SCALARS, max_size=3),
    lambda inner: st.dictionaries(KEYS, st.one_of(SCALARS, inner, st.lists(SCALARS, max_size=2)), max_size=3),
    max_leaves=6,
)
PATHS = st.lists(
    st.one_of(
        KEYS,
        st.tuples(KEYS, KEYS).map(".".join),
        st.tuples(KEYS, KEYS, KEYS).map(".".join),
    ),
    max_size=3,
)


def _model_drop(obj, prefix, dropset):
    if not isinstance(obj, dict):
        return obj
    out = {}
    for k, v in obj.items():
        p = prefix + k
        if p in dropset:
            continue
        out[k] = _model_drop(v, p + ".", dropset) if isinstance(v, dict) else v
    return out


def _model_hoist(obj, field, keep):
    root = {k: v for k, v in obj.items() if k in keep}
    inner = {k: v for k, v in obj.items() if k not in keep}
    if inner:
        root[field] = inner
    return root


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(objs=st.lists(JSON_OBJS, min_size=1, max_size=5), paths=PATHS)
def test_json_drop_matches_model(spark, objs, paths):
    df = spark.createDataFrame([(json.dumps(o),) for o in objs], "value string")
    got = [json.loads(r.value) for r in drop_fields(paths)(df).collect()]
    want = [_model_drop(o, "", set(paths)) for o in objs]
    assert got == want


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(objs=st.lists(JSON_OBJS, min_size=1, max_size=5))
def test_json_hoist_partition_matches_model(spark, objs):
    keep = ["k1", "parent"]
    df = spark.createDataFrame([(json.dumps(o),) for o in objs], "value string")
    got = [json.loads(r.value) for r in hoist_field("magic", keep)(df).collect()]
    want = [_model_hoist(o, "magic", set(keep)) for o in objs]
    assert got == want


# ---- to_json_string (J1/J3, StructuredSchemalessToJsonString.java:45-62) ----
# Model: Jackson writeValueAsString on a Map is round-trippable JSON of the
# same entries — so json.loads(Spark to_json(m)) must equal the input dict
# exactly (nulls preserved, unicode/control chars escaped losslessly).

MAP_KEYS = st.text(
    st.characters(codec="utf-8", exclude_characters="\x00"), min_size=1, max_size=6
)
STR_VALS = st.one_of(
    st.none(), st.text(st.characters(codec="utf-8", exclude_characters="\x00"), max_size=10)
)
LONG_LISTS = st.one_of(st.none(), st.lists(st.one_of(st.none(), st.integers(-(2**62), 2**62)), max_size=4))
INNER_MAPS = st.one_of(st.none(), st.dictionaries(MAP_KEYS, st.one_of(st.none(), st.integers(-(2**62), 2**62)), max_size=3))


def _roundtrip(spark, rows, ddl):
    df = spark.createDataFrame([(m,) for m in rows], f"value {ddl}")
    out = to_json_string()(df).collect()
    return [None if r.value is None else json.loads(r.value) for r in out]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(maps=st.lists(st.dictionaries(MAP_KEYS, STR_VALS, max_size=4), min_size=1, max_size=4))
def test_to_json_string_map_roundtrips_exactly(spark, maps):
    assert _roundtrip(spark, maps, "map<string,string>") == maps


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(maps=st.lists(st.dictionaries(MAP_KEYS, LONG_LISTS, max_size=3), min_size=1, max_size=3))
def test_to_json_string_array_values_roundtrip(spark, maps):
    assert _roundtrip(spark, maps, "map<string,array<bigint>>") == maps


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(maps=st.lists(st.dictionaries(MAP_KEYS, INNER_MAPS, max_size=3), min_size=1, max_size=3))
def test_to_json_string_nested_map_roundtrips(spark, maps):
    assert _roundtrip(spark, maps, "map<string,map<string,bigint>>") == maps


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=st.lists(st.one_of(st.none(), st.integers(-(2**62), 2**62)), min_size=1, max_size=5))
def test_to_json_string_non_map_passthrough_identity(spark, vals):
    # J3: schemaless non-Map values are returned untouched (:61)
    df = spark.createDataFrame([(v,) for v in vals], "value bigint")
    assert [r.value for r in to_json_string()(df).collect()] == vals


# ---- transform chain (Connect `transforms=a,b,c`, README.md:13-15) ----
# The deployed configuration is a CHAIN, not a single transform; pin that
# composing drop -> hoist -> to_json on the JSON path equals composing the
# pure-Python models (each operator must emit valid input for the next;
# to_json_string is the J3 passthrough on an already-string column).


@settings(max_examples=30, deadline=None, suppress_health_check=list(HealthCheck))
@given(objs=st.lists(JSON_OBJS, min_size=1, max_size=5), paths=PATHS)
def test_json_chain_matches_composed_models(spark, objs, paths):
    keep = ["k1", "parent"]
    chain = transform_chain(drop_fields(paths), hoist_field("magic", keep), to_json_string())
    df = spark.createDataFrame([(json.dumps(o),) for o in objs], "value string")
    got = [json.loads(r.value) for r in chain(df).collect()]
    want = [
        _model_hoist(_model_drop(o, "", set(paths)), "magic", set(keep)) for o in objs
    ]
    assert got == want


# ---- fused chain == step by step (byte for byte) ----
# transform_chain runs consecutive JSON steps on a column as one step: one
# parse, the rebuilds or dict functions in order, one serialization. Each
# step applied alone parses and writes its own text. The bytes must agree,
# for the split hoist (H2) and the wrap-all (H1) folded into the run.

JVM_VALUE = "a bigint, b double, c decimal(10,2), t timestamp, s string, n struct<x: bigint, y: struct<z: string>>"
JVM_DROPPED = "a bigint, b double, c decimal(10,2), t timestamp, n struct<x: bigint, y: struct<>>"
JVM_DROP = ["s", "n.y.z"]


def _nullable(strategy):
    return st.one_of(st.none(), strategy)


_TIMESTAMPS = st.builds(
    lambda secs, micros: f"{secs}.{micros:06d}",
    st.integers(-(10**10), 10**10),
    st.integers(0, 999_999),
)
JVM_DOCS = st.fixed_dictionaries(
    {},
    optional={
        "a": _nullable(st.integers(-(2**63), 2**63 - 1)),
        "b": _nullable(st.floats(allow_nan=False, allow_infinity=False)),
        "c": _nullable(st.integers(-(10**10) + 1, 10**10 - 1).map(lambda cents: cents / 100)),
        "s": _nullable(st.text(max_size=6)),
        "n": _nullable(st.fixed_dictionaries(
            {}, optional={"x": _nullable(st.integers(-5, 5)),
                          "y": _nullable(st.fixed_dictionaries({}, optional={"z": _nullable(st.text(max_size=3))}))},
        )),
        "t": _nullable(_TIMESTAMPS),
    },
)
ARROW_SCALARS = st.one_of(
    st.none(),
    st.sampled_from([1.0, -0.0, float("nan"), 10**39 + 7, -(10**40) + 1]),
    st.floats(),
    st.integers(),
    st.text(st.characters(codec="utf-8", exclude_characters="\x00"), max_size=5),
)
ARROW_DOCS = st.recursive(
    st.dictionaries(KEYS, ARROW_SCALARS, max_size=3),
    lambda inner: st.dictionaries(KEYS, st.one_of(ARROW_SCALARS, inner, st.lists(st.one_of(ARROW_SCALARS, st.lists(ARROW_SCALARS, max_size=2)), max_size=3)), max_size=3),
    max_leaves=8,
)


def _jvm_text(doc: dict) -> str:
    """``doc`` as JSON text; a timestamp is written from its epoch seconds
    with micros, in UTC."""
    from datetime import datetime, timedelta, timezone

    if doc.get("t") is not None:
        secs, micros = (int(x) for x in doc["t"].split("."))
        when = datetime(1970, 1, 1, tzinfo=timezone.utc) + timedelta(seconds=secs, microseconds=micros)
        doc = {**doc, "t": when.strftime("%Y-%m-%dT%H:%M:%S.%fZ")}
    return json.dumps(doc)


def _fused_and_stepwise(spark, texts, drop, hoist):
    df = spark.createDataFrame([(t,) for t in texts], "value string")
    fused = transform_chain(drop, hoist, to_json_string())(df)
    stepwise = to_json_string()(hoist(drop(df)))
    return [r.value for r in fused.collect()], [r.value for r in stepwise.collect()]


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(_nullable(JVM_DOCS), min_size=1, max_size=6), wrap=st.booleans())
def test_fused_jvm_chain_matches_stepwise_bytes(spark, docs, wrap):
    texts = [None if d is None else _jvm_text(d) for d in docs]
    drop = drop_fields(JVM_DROP, json_schema=JVM_VALUE)
    hoist = hoist_field("p") if wrap else hoist_field("p", ["a", "t"], json_schema=JVM_DROPPED)
    fused, stepwise = _fused_and_stepwise(spark, texts, drop, hoist)
    assert fused == stepwise


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(_nullable(ARROW_DOCS), min_size=1, max_size=6), paths=PATHS, wrap=st.booleans())
def test_fused_arrow_chain_matches_stepwise_bytes(spark, docs, paths, wrap):
    texts = [None if d is None else json.dumps(d, ensure_ascii=False) for d in docs]
    hoist = hoist_field("p") if wrap else hoist_field("p", ["k1", "parent"])
    fused, stepwise = _fused_and_stepwise(spark, texts, drop_fields(paths or ["x"]), hoist)
    assert fused == stepwise


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(drop=st.lists(st.sampled_from(["a", "s", "n", "n.x", "n.y", "n.y.z", "zz"]), max_size=3),
       keep=st.lists(st.sampled_from(["a", "b", "c", "t", "s", "n"]), max_size=6))
def test_jvm_plan_output_type_is_the_rebuilds(spark, drop, keep):
    """The chain decides JVM fusion from each plan's declared output type
    without asking Spark; it must be the type Spark gives the rebuild's
    SQL, nullability included."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from kafka_custom_transforms_spark.operators.sqltext import Expr, render

    df = spark.createDataFrame([("{}",)], "value string")
    for smt in (drop_fields(drop or ["zz"], json_schema=JVM_VALUE), hoist_field("p", keep or ["a"], json_schema=JVM_VALUE)):
        plan = smt.plan(StringType())
        parsed = df.select(F.from_json("value", plan.schema).alias("v"))
        built = parsed.select(F.expr(render(plan.rebuild(Expr("v", plan.schema))))) if plan.rebuild else parsed
        assert built.schema[0].dataType == plan.out
