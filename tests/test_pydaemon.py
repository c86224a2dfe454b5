"""The Python worker daemon (flinkproject_spark.pydaemon): zip archives are
re-read by ``importlib.invalidate_caches()`` only when they changed."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from flinkproject_spark import pydaemon

lazy_zip_reload = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython >= 3.12 re-reads archives lazily; no patch"
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path with a top-level module and a package, imported,
    so two zipimporters (archive and archive/pkg) share its directory;
    the patch installed; every `_read_directory` call recorded."""
    path = str(tmp_path / "lib.zip")
    _write_zip(path, {"zd_top.py": "X = 1\n", "zd_pkg/__init__.py": "", "zd_pkg/sub.py": "Y = 2\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_stamps", {})
    assert pydaemon.install()
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    monkeypatch.syspath_prepend(path)
    importlib.import_module("zd_top")
    importlib.import_module("zd_pkg.sub")
    importers = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter) and v.archive == path]
    assert len(importers) == 2
    reads.clear()  # the imports' own read
    yield path, reads
    for name in [m for m in sys.modules if m.split(".")[0] in ("zd_top", "zd_pkg", "zd_new")]:
        del sys.modules[name]
    for key in importers:
        sys.path_importer_cache.pop(key, None)
    zipimport._zip_directory_cache.pop(path, None)


@lazy_zip_reload
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # the first call reads once for both importers
    assert reads.count(path) == 1
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0


@lazy_zip_reload
def test_rewritten_archive_is_reread_for_every_importer(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, {
        "zd_top.py": "X = 1\n", "zd_new.py": "Z = 3\n",
        "zd_pkg/__init__.py": "", "zd_pkg/sub.py": "Y = 2\n", "zd_pkg/fresh.py": "W = 4\n",
    })
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    # a new module under each importer: the archive root and the package
    assert importlib.import_module("zd_new").Z == 3
    assert importlib.import_module("zd_pkg.fresh").W == 4


def test_get_spark_session_forks_python_workers_from_the_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == "flinkproject_spark.pydaemon"

    def where(batches):
        import sys
        import zipimport

        for pdf in batches:
            yield pdf.assign(
                daemon=sys.modules["__main__"].__spec__.name,
                patched=zipimport.zipimporter.invalidate_caches.__name__ == "_invalidate_caches",
            )

    rows = spark.range(4, numPartitions=2).mapInPandas(where, "id long, daemon string, patched boolean").collect()
    assert sorted(r.id for r in rows) == [0, 1, 2, 3]
    assert {r.daemon for r in rows} == {"flinkproject_spark.pydaemon"}
    assert {r.patched for r in rows} == {sys.version_info < (3, 12)}
