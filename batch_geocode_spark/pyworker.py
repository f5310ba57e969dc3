"""Python-worker daemon for local masters: pyspark's daemon, minus the
per-task re-read of every zip import archive.

Before each task a pyspark worker calls ``importlib.invalidate_caches()``
so that files shipped with ``addPyFile`` import. That call reaches every
``zipimporter`` in ``sys.path_importer_cache``, and on Python 3.11 each
one re-parses its whole archive's central directory. Workers import
pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries)
through 16 such importers, so a warm 4-task identity ``mapInPandas``
spent most of its 1.1-1.2 CPU s of Python re-reading. Here an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from when that importer last read it (0.2 CPU s for the same
pass); directory finders are invalidated as before.

``session.get_spark`` names this module in ``spark.python.daemon.module``
(see :func:`session.python_daemon_module`); run as ``python -m`` it
installs the rule and then runs ``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _archive_stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stamp changed since this importer last read it; a failed
    ``stat`` always re-reads."""
    stamp = _archive_stamp(importer.archive)
    if stamp is None or stamp != getattr(importer, "_read_stamp", None):
        _reread(importer)
        importer._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and stamp the importers
    this process already holds: they read their archives as it imported
    pyspark moments ago, so the first task of each forked worker skips
    them too."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._read_stamp = _archive_stamp(finder.archive)


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    manager()
