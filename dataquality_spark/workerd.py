"""Spark's Python worker daemon, minus a per-task re-read of Spark's archives.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task;
on Python 3.11/3.12 that re-reads every cached zipimporter's archive, which
measured about 140 ms of CPU per task for pyspark.zip and the spark-core jar.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import daemon


def drop_pythonpath_zip_finders() -> None:
    """Forget the zipimporters for archives on ``PYTHONPATH``: pyspark.zip,
    the py4j zip and the spark-core jar Spark puts there, plus a zipped
    engine. The daemon imported itself from them and they never change
    while it runs; a path entry without a finder gets a fresh one from
    zipimport's directory cache, so the next import from it still works."""
    fixed = {os.path.abspath(p) for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p}
    for entry, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and os.path.abspath(finder.archive) in fixed:
            del sys.path_importer_cache[entry]


def _worker_main(infile, outfile, main=daemon.worker_main):
    drop_pythonpath_zip_finders()
    return main(infile, outfile)


if __name__ == "__main__":
    daemon.worker_main = _worker_main
    daemon.manager()
