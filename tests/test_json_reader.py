"""One JSON reader: only ``operators/schemaless.py`` parses JSON text.

The engine's schemaless contract (a record's text is one JSON object, read
under one set of parser options, or the record fails) holds only while
every read goes through ``schemaless``. This walks the package source: no
``from_json`` call, no ``from_json(`` in a SQL string and no
``json.loads`` anywhere else.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

import kafka_custom_transforms_spark

PACKAGE = Path(kafka_custom_transforms_spark.__file__).parent
READER = PACKAGE / "operators" / "schemaless.py"
_SQL_FROM_JSON = re.compile(r"\bfrom_json\s*\(", re.IGNORECASE)


def _json_reads(tree: ast.AST) -> list[tuple[int, str]]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else f.id if isinstance(f, ast.Name) else None
            if name == "from_json":
                found.append((node.lineno, "from_json call"))
        elif isinstance(node, ast.Attribute) and node.attr == "loads":
            if isinstance(node.value, ast.Name) and node.value.id == "json":
                found.append((node.lineno, "json.loads"))
        elif isinstance(node, ast.ImportFrom) and node.module == "json":
            if any(a.name == "loads" for a in node.names):
                found.append((node.lineno, "from json import loads"))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _SQL_FROM_JSON.search(node.value):
                found.append((node.lineno, "from_json( in a string"))
    return found


def test_json_text_is_read_only_in_schemaless():
    offenders = [
        f"{path.relative_to(PACKAGE)}:{line}: {what}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != READER
        for line, what in _json_reads(ast.parse(path.read_text(), str(path)))
    ]
    assert not offenders, offenders


def test_the_guard_sees_each_kind_of_read():
    src = (
        "import json\nfrom json import loads\n"
        "F.from_json(c, s)\nfrom_json(c, s)\njson.loads(x)\n"
        "F.expr(f\"FROM_JSON({c}, 'a int')\")\n"
    )
    assert sorted(line for line, _ in _json_reads(ast.parse(src))) == [2, 3, 4, 5, 6]
    assert _json_reads(ast.parse(READER.read_text()))
