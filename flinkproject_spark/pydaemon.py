"""Python worker daemon for every Python UDF the engine runs.

:func:`flinkproject_spark.session.get_spark` sets
``spark.python.daemon.module`` to this module, so Spark starts it with
``python -m flinkproject_spark.pydaemon`` in place of ``pyspark.daemon``.

Why: each Python UDF task calls ``importlib.invalidate_caches()`` before
its first row (``pyspark.worker_util.setup_spark_files``). On CPython <
3.12 that makes every ``zipimporter`` re-parse its archive's whole
central directory. ``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB) has
14-16 importers, one per package path, so a task spent 130-300 ms there
before its first row. This daemon replaces
``zipimport.zipimporter.invalidate_caches`` before it forks any worker:
an archive is re-read only when its ``(st_mtime_ns, st_size)`` changed
since the last read, and otherwise the importer is rebound to the shared
``zipimport._zip_directory_cache`` entry. Forked workers inherit the
patch and the daemon's read stamps, so every task, the first one
included, skips the re-reads. On CPython >= 3.12 the re-read is already
lazy (gh-103200) and this module only starts ``pyspark.daemon``.

``spark.python.daemon.module`` is a static conf, read when the
SparkContext starts. :func:`flinkproject_spark.session.configure`, which
adjusts sessions built elsewhere, cannot set it; those sessions keep
pyspark's own daemon.

The daemon imports only the standard library and ``pyspark.daemon``
(``flinkproject_spark/__init__.py`` imports nothing), so it starts as fast
as pyspark's own.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) at its last directory read;
# process-wide, like the zipimport._zip_directory_cache it stamps
_stamps: dict[str, tuple[int, int]] = {}
_read_archive = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamped before the read: a rewrite racing the read is re-read next time
    _read_archive(self)
    if stamp is None:
        _stamps.pop(self.archive, None)
    else:
        _stamps[self.archive] = stamp


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` on CPython < 3.12; return
    whether the patch is in place."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    install()
    from pyspark import daemon

    # one read per archive, stamped here so that forked workers never re-read
    importlib.invalidate_caches()
    daemon.manager()
