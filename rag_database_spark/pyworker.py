"""Python daemon for the engine's UDF workers: ``pyspark.daemon`` behind a
stat-guarded ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``worker_util.setup_spark_files``). Before CPython 3.13 each
``zipimporter`` then re-parses its archive's whole central directory in
pure Python: with ``pyspark.zip`` on the workers' path that is 14-16
importers over 1,328 entries, about 0.15-0.2 s of worker CPU per Arrow
task. ``get_spark`` names this module in ``spark.python.daemon.module``,
so every forked worker inherits the guard: an importer re-reads its
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from
the stamp of its last read. A rewritten zip is still re-read, and files
that Spark adds arrive as new ``sys.path`` entries with new finders.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipped while the archive is the
    one this importer last read. The stamp is taken before the read, so an
    archive rewritten during it is read again on the next call."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


def install() -> None:
    """Guard every zipimporter, and stamp the ones that exist now so the
    workers forked after this call inherit importers that are current."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from pyspark import daemon

    # the package's copy, not ``__main__``'s: the guard then names its module
    from rag_database_spark import pyworker

    pyworker.install()
    daemon.manager()
