"""Names and literals in the SMTs' SQL text (hypothesis).

Field names, drop paths, the hoist field and target column names are
drawn with backticks, quotes, backslashes, dots, ``%``, newlines, leading
spaces or digits and non-ASCII. The struct and map routes must equal dict
models of D2-D5/H1-H5, and the ``json_schema`` route the Arrow route;
each check runs twice, the second time with
``spark.sql.parser.escapedStringLiterals=true``, which the emitted
literals must not depend on. The map route's lambdas must not capture the
sibling columns ``k`` and ``v``.
"""

from __future__ import annotations

import contextlib
import json

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql.types import LongType, MapType, StringType, StructField, StructType

from kafka_custom_transforms_spark import drop_fields, hoist_field, to_json_string, transform_chain

NAMES = st.text(st.sampled_from(list("ab`'\"\\.% \n0é字")), min_size=1, max_size=4)
SETTINGS = settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))


@contextlib.contextmanager
def _escaped(spark, on: bool):
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, str(on).lower())
    try:
        yield
    finally:
        spark.conf.unset(key)


def _config(draw):
    """A value type (bigint fields and structs of bigints), its target
    column name, drop paths, and the hoist field and keep list."""
    names = draw(st.lists(NAMES, min_size=1, max_size=3, unique=True))
    fields, paths = [], []
    for n in names:
        paths.append(n)
        if draw(st.booleans()):
            sub = draw(st.lists(NAMES, min_size=1, max_size=2, unique=True))
            fields.append(StructField(n, StructType([StructField(s, LongType()) for s in sub])))
            paths += [f"{n}.{s}" for s in sub]
        else:
            fields.append(StructField(n, LongType()))
    target = draw(NAMES.filter(lambda t: t not in ("k", "v")))
    drop = draw(st.lists(st.one_of(st.sampled_from(paths), NAMES), min_size=1, max_size=3))
    field = draw(NAMES.filter(lambda f: f not in names))
    keep = draw(st.lists(st.sampled_from(names), max_size=len(names), unique=True))
    return StructType(fields), target, drop, field, keep


def _value(draw, t, nulls: bool):
    if nulls and draw(st.integers(0, 3)) == 0:
        return None
    if isinstance(t, StructType):
        return {f.name: _value(draw, f.dataType, nulls) for f in t.fields}
    return draw(st.integers(-(2**40), 2**40))


def _row(t, value):
    """A dict value as the tuple createDataFrame takes for struct type ``t``."""
    if not isinstance(t, StructType) or value is None:
        return value
    return tuple(_row(f.dataType, value[f.name]) for f in t.fields)


def _drop_model(obj, prefix: str, dropset: set[str]):
    if not isinstance(obj, dict):
        return obj
    out = {}
    for k, v in obj.items():
        if prefix + k not in dropset:
            out[k] = _drop_model(v, prefix + k + ".", dropset)
    return out


def _hoist_model(obj, field: str, keep: set[str]):
    """H3-H5: nothing moves -> unchanged; every moved value null -> null."""
    if obj is None:
        return None
    moved = {k: v for k, v in obj.items() if k not in keep}
    if not moved:
        return obj
    out = {k: v for k, v in obj.items() if k in keep}
    out[field] = moved if any(v is not None for v in moved.values()) else None
    return out


def _pairs(x):
    """Dicts and Rows as ordered (name, value) lists, so field order counts."""
    if hasattr(x, "asDict"):
        x = x.asDict()
    if isinstance(x, dict):
        return [(k, _pairs(v)) for k, v in x.items()]
    return x


def _frame(spark, target: str, t, values):
    schema = StructType([StructField(target, t), StructField("k", LongType()), StructField("v", LongType())])
    return spark.createDataFrame([(_row(t, v), 1, 2) for v in values], schema)


@SETTINGS
@given(data=st.data())
def test_struct_route_quotes_names(spark, data):
    schema, target, drop, field, keep = _config(data.draw)
    values = [_value(data.draw, schema, nulls=True) for _ in range(3)]
    df = _frame(spark, target, schema, values)
    chain = transform_chain(drop_fields(drop, target=target), hoist_field(field, keep, target=target))
    want = [_pairs(_hoist_model(_drop_model(v, "", set(drop)), field, set(keep))) for v in values]
    for on in (False, True):
        with _escaped(spark, on):
            got = [_pairs(r[target]) for r in chain(df).collect()]
        assert got == want, on


def _loads(df, target: str):
    return [json.loads(r[target], object_pairs_hook=list) for r in df.collect()]


@SETTINGS
@given(data=st.data())
def test_json_schema_route_equals_arrow_route(spark, data):
    schema, target, drop, field, keep = _config(data.draw)
    docs = [_value(data.draw, schema, nulls=False) for _ in range(3)]
    df = _frame(spark, target, StringType(), [json.dumps(d, ensure_ascii=False) for d in docs])
    jvm_drop = drop_fields(drop, target=target, json_schema=schema)
    dropped = jvm_drop.plan(StringType()).out
    pairs = [
        (jvm_drop, drop_fields(drop, target=target)),
        (hoist_field(field, keep, target=target, json_schema=schema), hoist_field(field, keep, target=target)),
        (
            transform_chain(jvm_drop, hoist_field(field, keep, target=target, json_schema=dropped)),
            transform_chain(drop_fields(drop, target=target), hoist_field(field, keep, target=target)),
        ),
    ]
    wrapped = [[(field, _pairs(d))] for d in docs]
    for on in (False, True):
        with _escaped(spark, on):
            for jvm, arrow in pairs:
                assert _loads(jvm(df), target) == _loads(arrow(df), target), on
            assert _loads(hoist_field(field, target=target)(df), target) == wrapped, on


@SETTINGS
@given(
    data=st.data(),
    maps=st.lists(
        st.dictionaries(NAMES, st.one_of(st.none(), st.dictionaries(NAMES, st.integers(-9, 9), max_size=2)), max_size=3),
        min_size=1, max_size=3,
    ),
)
def test_map_route_quotes_names_and_captures_no_column(spark, data, maps):
    target = data.draw(NAMES.filter(lambda t: t not in ("k", "v")))
    keys = sorted({k for m in maps for k in m} | {f"{k}.{kk}" for m in maps for k, v in m.items() for kk in v or {}})
    drop = data.draw(st.lists(st.one_of(st.sampled_from(keys), NAMES) if keys else NAMES, min_size=1, max_size=3))
    field = data.draw(NAMES)
    df = _frame(spark, target, MapType(StringType(), MapType(StringType(), LongType())), maps)
    chain = transform_chain(drop_fields(drop, target=target), hoist_field(field, target=target), to_json_string(target))
    want = [{field: _drop_model(m, "", set(drop))} for m in maps]
    for on in (False, True):
        with _escaped(spark, on):
            assert [json.loads(r[target]) for r in chain(df).collect()] == want, on


def test_variable_reference_in_a_name_is_refused(spark):
    """Spark SQL substitutes ``${...}`` anywhere in the text, identifiers
    included, so a name holding ``${`` raises instead of reading another
    column or field."""
    df = spark.createDataFrame([((1,),)], "`x${y}` struct<a: bigint>")
    with pytest.raises(ValueError, match=r"\$\{"):
        drop_fields(["a"], target="x${y}")(df)
