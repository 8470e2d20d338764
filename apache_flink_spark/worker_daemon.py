"""Python worker daemon for engine-built local sessions.

Every Python task calls ``importlib.invalidate_caches()``, and CPython's
``zipimporter.invalidate_caches`` re-parses its archive's whole central
directory: a worker's dozen importers over ``pyspark.zip``, py4j and
spark-core cost ~175 ms per task. The guard below re-reads an archive only
when its ``(st_mtime_ns, st_size)`` changed since this process last read it,
or when ``stat`` fails. ``session.get_spark`` selects this module through
``spark.python.daemon.module`` for local masters.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
#: archive path -> (st_mtime_ns, st_size) when this process last read it
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self):
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        self._files = files  # another importer over this archive re-read it
        return
    _reread(self)
    _read_at[self.archive] = stamp


def main():
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # read once here, so forked workers skip it
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # Run under the package name, so a UDF importing this module sees the
    # guard and its state rather than a second copy of the module.
    from apache_flink_spark.worker_daemon import main as _main

    _main()
