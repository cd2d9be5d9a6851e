"""StructuredSchemalessToJsonString parity tests — SURVEY.md §2.3,
mirroring StructuredSchemalessToJsonStringTest.java."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_custom_transforms_spark import to_json_string, transform_chain
from kafka_custom_transforms_spark.operators.drop_field import drop_fields
from kafka_custom_transforms_spark.operators.hoist_field import hoist_field


def test_map_to_json(spark):
    """J1 (StructuredSchemalessToJsonStringTest.java:36-44): {id:42} -> '{"id":42}'."""
    df = spark.sql("select map('id', 42) as value")
    out = to_json_string()(df)
    assert out.collect()[0].value == '{"id":42}'


def test_primitive_passthrough(spark):
    """J3 (:25-33): schemaless non-Map passes through unchanged."""
    df = spark.createDataFrame([(42,)], "value int")
    out = to_json_string()(df)
    assert out is df


def test_struct_passthrough_default_and_forced(spark):
    """J3 (:47-59): schema'd (struct) passes through."""
    df = spark.sql("select named_struct('id', 42) as value")
    assert to_json_string()(df) is df


def test_key_target(spark):
    df = spark.sql("select map('id', 1) as key, 2 as value")
    out = to_json_string(target="key")(df)
    row = out.collect()[0]
    assert row.key == '{"id":1}' and row.value == 2


def test_smt_chain_composition(spark):
    """The Connect transforms=a,b,c chain as function composition: drop a
    nested field, hoist metadata, then render the schema'd result as JSON
    (to_json_string passes structs through, J3)."""
    df = spark.sql(
        "select named_struct('k1', 123, 'parent', named_struct('child', "
        "named_struct('k2', 'x', 'k3', 'y')), 'meta', 'm') as value"
    )
    chain = transform_chain(
        drop_fields(["parent.child.k2"]),
        hoist_field("payload", keep_in_root=["meta"]),
        lambda d: d.withColumn("value", F.to_json("value")),
    )
    out = chain(df)
    assert out.collect()[0].value == (
        '{"meta":"m","payload":{"k1":123,"parent":{"child":{"k3":"y"}}}}'
    )


def test_version_and_config_def_introspection():
    """Versioned/ConfigDef parity surface (DropField.java:38-41, :23-28;
    ExtendedHoistField.java:42-45): the reference's config facts hold in
    the introspection table."""
    import kafka_custom_transforms_spark as ktx

    assert ktx.version() == ktx.__version__
    defs = ktx.CONFIG_DEFS
    assert set(defs) == {"drop_fields", "hoist_field", "to_json_string"}
    assert defs["hoist_field"]["field"]["required"]  # NO_DEFAULT_VALUE
    for name, key in (("drop_fields", "paths"), ("hoist_field", "keep_in_root")):
        assert not defs[name][key]["required"] and len(defs[name][key]["default"]) == 0
    for name in defs:
        assert defs[name]["target"] == {"default": "value", "required": False}
