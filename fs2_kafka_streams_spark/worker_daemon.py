"""PySpark's worker daemon, with zip importers that re-read an archive only
when it changed.

Before every task a Python worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.13 each
``zipimporter`` then re-parses its whole archive directory: 16 importers
over ``pyspark.zip`` and the py4j zip. Here an importer re-reads its
archive only when the archive's ``(st_size, st_mtime_ns)`` differs from
the last read, so a rewritten or new zip is still picked up. Python 3.13 re-reads lazily; there the daemon
runs unchanged. Spark starts it as ``python -m <this module> <worker
module>`` (``spark.python.daemon.module``, set by ``session.get_spark``).
"""

import importlib
import os
import sys
import zipimport

_STAMPS: dict[str, tuple[int, int]] = {}
_read_archive = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)  # before the read: a later rewrite re-reads
    except OSError:
        return _read_archive(self)
    stamp = (st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _STAMPS.get(self.archive) == stamp:
        self._files = files  # another importer of the archive already re-read it
        return
    _read_archive(self)
    _STAMPS[self.archive] = stamp


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()  # stamp the importers every fork inherits
    from pyspark.daemon import manager  # reads sys.argv[1], the worker module

    manager()


if __name__ == "__main__":
    # run under the module's own name, so the installed hook names it too
    from fs2_kafka_streams_spark import worker_daemon

    worker_daemon.main()
