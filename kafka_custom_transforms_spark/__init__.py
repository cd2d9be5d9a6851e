"""kafka_custom_transforms_spark — a PySpark-native record-transformation engine.

Re-expresses the capabilities of the reference Kafka Connect SMT library
(``ludovic-boutros/kafka-custom-transforms``) as composable, Catalyst-friendly
``DataFrame -> DataFrame`` transforms that run identically in batch and
Structured Streaming, plus LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) designed for 100 TB scale.

Reference parity surface (see SURVEY.md §2):
  - ``drop_fields``      <-> DropField            (reference DropField.java)
  - ``hoist_field``      <-> ExtendedHoistField   (reference ExtendedHoistField.java)
  - ``to_json_string``   <-> StructuredSchemalessToJsonString
                             (reference StructuredSchemalessToJsonString.java)

Design notes:
  - Every operator is a factory returning a ``DataFrame -> DataFrame`` callable
    (configure-once / apply-many, mirroring the Connect transform lifecycle,
    SURVEY.md §3). Chains compose with ``df.transform(t1).transform(t2)`` or
    :func:`transform_chain`, which also parses and writes a JSON column once
    for consecutive schemaless steps on it.
  - Schema'd data = struct columns; schemaless data = JSON string columns
    (or MapType for flat homogeneous maps). See SURVEY.md §1.4.
  - Everything is built-in Catalyst expressions unless genuinely impossible;
    Python touches rows only in clearly-marked slow paths.
"""

import inspect

from kafka_custom_transforms_spark.operators.chain import transform_chain
from kafka_custom_transforms_spark.operators.drop_field import drop_fields
from kafka_custom_transforms_spark.operators.hoist_field import hoist_field
from kafka_custom_transforms_spark.operators.to_json_string import to_json_string

__all__ = [
    "drop_fields",
    "hoist_field",
    "to_json_string",
    "transform_chain",
    "version",
    "CONFIG_DEFS",
]

__version__ = "0.2.0"


def version() -> str:
    """Library version — parity with the reference's ``Versioned`` interface
    (``version()`` via AppInfoParser, DropField.java:38-41)."""
    return __version__


# ConfigDef-style introspection (DropField.java:23-28,
# ExtendedHoistField.java:42-45), read off each factory's signature.
_EMPTY = inspect.Parameter.empty
CONFIG_DEFS = {
    f.__name__: {
        k: {"default": None if p.default is _EMPTY else p.default, "required": p.default is _EMPTY}
        for k, p in inspect.signature(f).parameters.items()
    }
    for f in (drop_fields, hoist_field, to_json_string)
}
