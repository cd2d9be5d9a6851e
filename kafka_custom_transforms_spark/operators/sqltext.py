"""sqltext — an SMT column's value as Spark SQL text.

A step rewrites its column's :data:`Value`, typed SQL text (:class:`Expr`)
or a struct rebuilt field by field (:class:`Struct`), reading the previous
step's fields rather than its text, so a fused run's text grows linearly.
One ``F.expr`` per column costs a few py4j round trips; composing Columns
costs 11-21 per node (mostly PySpark's call-site capture).

Names are backquoted. A literal with anything but printable ASCII other
than ``'``, ``\\`` and ``$`` is ``CAST(X'<utf-8 hex>' AS STRING)``: read the
same whatever ``spark.sql.parser.escapedStringLiterals`` says, untouched
by variable substitution, folded away. Spark substitutes ``${...}`` in
identifiers too, so :func:`ident` refuses such names. Lambda variables
are ``__smt_k<depth>`` and ``__smt_v<depth>``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def ident(name: str) -> str:
    if "${" in name:
        raise ValueError(f"name {name!r} contains '${{', which Spark SQL substitutes as a variable")
    return "`" + name.replace("`", "``") + "`"


def lit(s: str) -> str:
    if s.isascii() and s.isprintable() and not any(c in s for c in "'\\$"):
        return f"'{s}'"
    return f"CAST(X'{s.encode().hex().upper()}' AS STRING)"


def ddl(t: DataType) -> str:
    """``t`` as a type string for ``from_json``, names backquoted."""
    if isinstance(t, StructType):
        return "struct<" + ",".join("`" + f.name.replace("`", "``") + "`:" + ddl(f.dataType) for f in t.fields) + ">"
    if isinstance(t, ArrayType):
        return f"array<{ddl(t.elementType)}>"
    if isinstance(t, MapType):
        return f"map<{ddl(t.keyType)},{ddl(t.valueType)}>"
    return t.simpleString()


@dataclass(frozen=True)
class Expr:
    """SQL text of type ``dtype``, nullable as Spark infers it; ``metadata``
    is its field's ``StructField.metadata``. An Expr of struct type that
    is opened (:func:`opened`) must be a column or field reference."""

    sql: str
    dtype: DataType
    nullable: bool = True
    metadata: dict | None = None


@dataclass(frozen=True)
class Struct:
    """A struct built with ``named_struct`` from ``fields`` (name, value),
    NULL when the SQL condition ``null`` holds (never when it is None)."""

    null: str | None
    fields: tuple[tuple[str, Value], ...]
    metadata: dict | None = None


Value = Expr | Struct


def opened(v: Value) -> Struct:
    """``v`` as its fields; a NULL struct reference stays NULL."""
    if isinstance(v, Struct):
        return v
    fields = tuple(
        (f.name, Expr(f"{v.sql}.{ident(f.name)}", f.dataType, v.nullable or f.nullable, f.metadata))
        for f in v.dtype.fields
    )
    return Struct(f"{v.sql} IS NULL", fields, v.metadata)


def is_struct(v: Value) -> bool:
    return isinstance(v, Struct) or isinstance(v.dtype, StructType)


def is_null(v: Value) -> str:
    if isinstance(v, Expr):
        return f"{v.sql} IS NULL"
    return v.null or "false"


def render(v: Value) -> str:
    if isinstance(v, Expr):
        return v.sql
    body = ", ".join(f"{lit(name)}, {render(x)}" for name, x in v.fields)
    body = f"named_struct({body})" if body else "struct()"
    return body if v.null is None else f"IF({v.null}, NULL, {body})"


def dtype(v: Value) -> DataType:
    """``v``'s type with each field's nullability and metadata."""
    if isinstance(v, Expr):
        return v.dtype
    return StructType([StructField(name, dtype(x), nullable(x), x.metadata or {}) for name, x in v.fields])


def nullable(v: Value) -> bool:
    return v.nullable if isinstance(v, Expr) else v.null is not None


def rebuilt_metadata(v: Value) -> bool:
    """Whether a struct rebuilt inside ``v`` has metadata. Spark gives a
    ``named_struct`` field the metadata of a field or column reference,
    but none to a struct built in SQL."""
    return isinstance(v, Struct) and any(
        isinstance(x, Struct) and (bool(x.metadata) or rebuilt_metadata(x)) for _, x in v.fields
    )
