"""PySpark's worker daemon with archive import caches kept across tasks.

``session.get_spark`` starts the daemon through this module
(``spark.python.daemon.module``). Every Python task starts with
``importlib.invalidate_caches()`` (PySpark's ``setup_spark_files``), and on
Python >= 3.10 that makes each ``zipimporter`` re-read its archive's whole
directory (the ``pyspark.zip`` subpackages, the py4j zip and the spark-core
jar on the workers' ``PYTHONPATH``): 122-547 ms per task, median 291 ms,
over 172 tasks of a benchmark drain on 4 vCPUs. :class:`ArchiveFinder`
re-reads an archive only when its size or mtime has changed; an archive
whose stat is unchanged holds the same files, so every import resolves as
before, and new ``addPyFile`` paths still get fresh finders. The workers
are forked from the daemon, so they inherit it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> (st_size, st_mtime_ns) when zipimport last read its directory.
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


class ArchiveFinder(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` skips an unchanged archive."""

    def __init__(self, path: str) -> None:
        super().__init__(path)
        self._stamp = _stamps.setdefault(self.archive, _stamp(self.archive))

    def invalidate_caches(self) -> None:
        stamp = _stamp(self.archive)
        if stamp is None or stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = _stamps[self.archive] = stamp


def install() -> None:
    """Build every archive finder from now on as an :class:`ArchiveFinder`.
    A no-op before Python 3.10, whose finders keep their caches anyway."""
    if not hasattr(zipimport.zipimporter, "invalidate_caches"):
        return
    sys.path_hooks[:] = [ArchiveFinder if h is zipimport.zipimporter else h for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


def main() -> None:
    install()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run the importable module, not this ``__main__`` copy, so the workers'
    # finders are ``kafka_custom_transforms_spark.daemon.ArchiveFinder``.
    from kafka_custom_transforms_spark.daemon import main as _main

    _main()
