"""Python worker daemon that stops re-reading unchanged zip archives.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that call
makes each cached ``zipimporter`` re-read its archive's central directory,
so every task re-parses ``pyspark.zip`` once per importer. The wrapper
below re-reads an archive only when its ``(mtime, size)`` changed since
the last read; importers of an unchanged archive adopt the shared
directory instead. :func:`klogs_spark.session.get_spark` names this module
as ``spark.python.daemon.module``, so every forked worker inherits it.
"""

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_read_at: dict[str, tuple[int, int]] = {}  # archive -> (mtime_ns, size)


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)  # stat BEFORE reading: a racing rewrite
        key = (st.st_mtime_ns, st.st_size)  # then reads again next time
    except OSError:
        key = None
    if key is not None and _read_at.get(self.archive) == key:
        cached = zipimport._zip_directory_cache.get(self.archive)
        if cached is not None:
            self._files = cached
        return
    _stock_invalidate(self)
    if key is not None:
        _read_at[self.archive] = key


def install() -> None:
    # 3.13's stdlib only drops the cache and reads lazily: nothing to save
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # run as ``python -m``: install the copy imported under the package
    # name, so workers see ``klogs_spark.daemon.invalidate_caches``
    import importlib

    from klogs_spark import daemon
    from pyspark import daemon as pyspark_daemon

    daemon.install()
    importlib.invalidate_caches()  # read each archive once, before forking
    pyspark_daemon.manager()
