"""The engine's Python worker daemon (``kafka_custom_transforms_spark.daemon``)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from kafka_custom_transforms_spark import daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write(archive, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        for name, source in modules.items():
            z.writestr(name, source)


@pytest.mark.skipif(not hasattr(zipimport.zipimporter, "invalidate_caches"), reason="Python < 3.10")
def test_archive_directory_is_read_once_per_change(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` (PySpark calls it at every task's
    start) re-reads a zip's directory only after the archive changed."""
    archive = str(tmp_path / "mods.zip")
    _write(archive, {"kcts_zip_a.py": "X = 1\n"})
    reads: list[str] = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(sys, "path_hooks", list(sys.path_hooks))
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    for name in ("kcts_zip_a", "kcts_zip_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    daemon.install()

    assert importlib.import_module("kcts_zip_a").X == 1
    assert type(sys.path_importer_cache[archive]) is daemon.ArchiveFinder
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == 1

    _write(archive, {"kcts_zip_a.py": "X = 1\n", "kcts_zip_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert importlib.import_module("kcts_zip_b").Y == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 2


_WORKER_FINDERS = textwrap.dedent(
    """
    import json
    import pandas as pd
    from pyspark.sql import functions as F
    from kafka_custom_transforms_spark.session import get_spark

    spark = get_spark("kcts-daemon-test", cpus=2)

    @F.pandas_udf("string")
    def finders(s: pd.Series) -> pd.Series:
        import sys, zipimport
        kinds = sorted({f"{type(f).__module__}.{type(f).__qualname__}"
                        for f in sys.path_importer_cache.values() if isinstance(f, zipimport.zipimporter)})
        return s.map(lambda _: json.dumps(kinds))

    rows = spark.range(0, 8, 1, 4).select(finders(F.col("id").cast("string")).alias("k")).collect()
    print(json.dumps(sorted({r.k for r in rows})))
    spark.stop()
    """
)


def test_get_spark_workers_use_archive_finders():
    """In a ``get_spark`` session every zip finder of the Python workers
    (``pyspark.zip`` and its subpackages, the py4j zip, the spark-core jar)
    is the daemon's. Its own process: the daemon module is a SparkContext
    setting, and the suite's context is already running."""
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_FINDERS], cwd=ROOT, env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    kinds = json.loads(out.stdout.strip().splitlines()[-1])
    assert kinds == [json.dumps(["kafka_custom_transforms_spark.daemon.ArchiveFinder"])]
