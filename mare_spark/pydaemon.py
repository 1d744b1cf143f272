"""Python-worker daemon for engine sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task, so that files added with ``addPyFile`` become importable. On
CPython 3.10-3.12 that re-reads the central directory of every cached
``zipimporter``: one per package imported from ``pyspark.zip``, 1,328
entries each time. This daemon installs a replacement that skips the zip
importers already in ``sys.path_importer_cache`` and refreshes everything
else, then runs PySpark's own daemon; forked workers inherit it. Spark
refuses to re-register a file name, so an archive already read cannot
change within an application.
"""

import importlib
import sys
import zipimport

_invalidate_caches = importlib.invalidate_caches


def invalidate_caches_keeping_read_zips() -> None:
    """``importlib.invalidate_caches`` without re-reading cached zips."""
    cache = sys.path_importer_cache
    zips = {p: f for p, f in cache.items() if isinstance(f, zipimport.zipimporter)}
    for path in zips:
        del cache[path]
    try:
        _invalidate_caches()
    finally:
        cache.update(zips)


if __name__ == "__main__":
    importlib.invalidate_caches = invalidate_caches_keeping_read_zips
    from pyspark import daemon

    daemon.manager()
