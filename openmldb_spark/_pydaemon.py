"""PySpark worker daemon whose tasks do not re-read unchanged zip archives.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and Spark puts
``pyspark.zip`` and the py4j zip first on every worker's ``sys.path``. On
Python 3.11 ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
archive directory eagerly, once per importer: a worker holds 16 of them
(pyspark.zip, its imported subpackages, py4j), which cost 0.2-0.6 s of
every task on a 4-core host. CPython 3.12 made the refresh lazy
(gh-103200).

This module wraps ``invalidate_caches`` so that an archive is re-read only
when its ``(st_mtime_ns, st_size)`` changed since its last read; every
importer of an unchanged archive takes that read's directory. It stamps
the archives already imported from, then runs ``pyspark.daemon.manager()``,
so every forked worker — its first task too — starts with the stamps.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module.
Spark starts it as ``python -m openmldb_spark._pydaemon``, so the package
must be importable where the Python workers start; the package ``__init__``
resolves its exports lazily, so starting the daemon imports no more of the
engine than this file.
"""

from __future__ import annotations

import os
import sys
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) taken before its last read,
# the directory that read returned)
_dirs: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only if
    it changed since the last read. The stamp is taken before the read, so
    a change during the read is caught by the next call."""
    stamp = _stamp(self.archive)
    seen = _dirs.get(self.archive)
    if stamp is not None and seen is not None and seen[0] == stamp:
        self._files = seen[1]
        return
    _invalidate(self)
    if stamp is None:
        _dirs.pop(self.archive, None)
    else:
        _dirs[self.archive] = (stamp, self._files)


def install() -> None:
    """Wrap ``invalidate_caches`` and stamp every zip archive this process
    has imported from (one read per archive)."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
