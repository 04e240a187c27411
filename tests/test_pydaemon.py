"""The Python worker daemon (``openmldb_spark._pydaemon``): an unchanged zip
archive is not re-read when ``importlib.invalidate_caches()`` runs before a
task, a changed one is, and the test session's workers run the wrapper."""

import importlib
import os
import sys
import zipfile
import zipimport

from openmldb_spark import _pydaemon
from openmldb_spark.session import DAEMON_MODULE


def _write_zip(path, files: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)


def test_unchanged_archive_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"pyd_pkg/__init__.py": "", "pyd_pkg/a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or read_directory(path))
    # both restored after the test: install() patches the class
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(_pydaemon, "_dirs", {})
    monkeypatch.syspath_prepend(archive)
    try:
        import pyd_pkg.a
        assert pyd_pkg.a.X == 1
        # the archive root and the package directory: two importers
        importers = [f for p, f in sys.path_importer_cache.items()
                     if p.startswith(archive)]
        assert len(importers) == 2
        assert all(isinstance(f, zipimport.zipimporter) for f in importers)

        _pydaemon.install()               # stamps it: one read for both
        assert reads.count(archive) == 2  # the path hook's, and install's
        for _ in range(5):
            importlib.invalidate_caches()
        assert reads.count(archive) == 2

        _write_zip(archive, {"pyd_pkg/__init__.py": "", "pyd_pkg/a.py": "X = 1\n",
                             "pyd_pkg/b.py": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
        import pyd_pkg.b
        assert pyd_pkg.b.Y == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 3
    finally:
        for name in ("pyd_pkg.b", "pyd_pkg.a", "pyd_pkg"):
            sys.modules.pop(name, None)
        for p in [p for p in sys.path_importer_cache if p.startswith(archive)]:
            del sys.path_importer_cache[p]


def test_worker_runs_the_wrapper(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON_MODULE

    def probe(batches):  # nested, so it is pickled by value
        import pyarrow as pa
        daemon = sys.modules["__main__"]
        spec = getattr(daemon, "__spec__", None)
        wrapper = getattr(daemon, "_invalidate_caches", None)
        stamped = sorted(a.rsplit("/", 1)[-1] for a in getattr(daemon, "_dirs", {}))
        for b in batches:
            n = b.num_rows
            yield pa.RecordBatch.from_pydict({
                "id": b.column(0),
                "daemon": [spec.name if spec else None] * n,
                "wrapped": [zipimport.zipimporter.invalidate_caches is wrapper] * n,
                "stamped": [",".join(stamped)] * n,
            })

    rows = (spark.range(0, 200, numPartitions=4)
            .mapInArrow(probe, "id long, daemon string, wrapped boolean, stamped string")
            .collect())
    assert sorted(r.id for r in rows) == list(range(200))
    assert {r.daemon for r in rows} == {DAEMON_MODULE}
    assert all(r.wrapped for r in rows)
    assert all("pyspark.zip" in r.stamped.split(",") for r in rows)


def test_daemon_only_where_workers_import_the_engine(tmp_path, monkeypatch):
    """get_spark sets the daemon only when a worker can import this
    package at start-up; elsewhere (spark-submit --py-files, a cwd and
    PYTHONPATH without it, a cluster master) it keeps pyspark.daemon."""
    from openmldb_spark import session
    root = str(tmp_path.parent.parent)  # not the package root
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session.site, "getusersitepackages", lambda: "")
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", root)
    assert not session._workers_import_engine("local[4]")

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.setenv("PYTHONPATH", pkg_root)
    assert session._workers_import_engine("local[4]")
    assert session._workers_import_engine("local")
    assert not session._workers_import_engine("yarn")
    assert not session._workers_import_engine("local-cluster[2,1,1024]")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert not session._workers_import_engine("local[4]")

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT")
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(pkg_root)
    assert session._workers_import_engine("local[4]")
