"""Spark's Python worker daemon, started warm.

Spark runs ``python -m dataquality_spark.workerd`` once per executor (in
local mode, once per session) and forks every Python worker from it. Run
so, it:

* takes PySpark and py4j from their installed packages when each one's
  ``version.py`` matches the archive Spark puts first on ``PYTHONPATH``.
  pyspark.zip holds no ``.pyc`` files, so importing ``pyspark.daemon``
  from it recompiled PySpark in every new daemon: 1.0-1.3 s, against
  0.22-0.37 s from the installed copy. Without a matching installed copy
  (a cluster without PySpark installed) it keeps the archives;
* imports the modules worker tasks use (``WARM_IMPORTS``) once, before
  the first fork, so each worker starts with them imported and shares
  their pages with the daemon, and freezes them out of the collector;
* drops, before every task, the zipimporters of the archives on
  ``PYTHONPATH``. PySpark's worker calls ``importlib.invalidate_caches()``
  before every task; on Python 3.11/3.12 that re-reads every cached
  zipimporter's archive, which measured about 140 ms of CPU per task for
  pyspark.zip and the spark-core jar.

Imported as a library it changes nothing.
"""

from __future__ import annotations

import gc
import importlib
import importlib.machinery
import os
import sys
import zipimport

# What a worker imports for a pipeline pass, both audio matchers and the
# clip generator, beyond pyspark.daemon (which brings PySpark's Arrow
# serializers through pyspark.worker): a worker's sys.modules after those
# tasks, less a fresh daemon's. tests/test_workerd.py keeps it complete.
WARM_IMPORTS = (
    "pandas",
    "pyarrow.compute",
    "pyarrow.pandas_compat",
    "pyarrow.vendored.version",
    "dataquality_spark.datagen.clips",
    "dataquality_spark.functions.audiofeat",
    "dataquality_spark.operators.enrich",
)


def _read(archive: str, name: str) -> bytes | None:
    # zipimport keeps each archive's directory from the daemon's own import
    try:
        return zipimport.zipimporter(archive).get_data(name)
    except (ImportError, OSError):
        return None


def installed_over_archives(path: list[str]) -> list[str]:
    """``path`` less each archive whose pyspark or py4j has the same
    ``version.py`` as the copy the directories on ``path`` provide."""
    dirs = [p for p in path if not os.path.isfile(p)]
    dropped = set()
    for pkg in ("pyspark", "py4j"):
        spec = importlib.machinery.PathFinder.find_spec(pkg, dirs)
        if spec is None or spec.origin is None:
            continue
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        dropped.update(p for p in path if os.path.isfile(p)
                       and _read(p, f"{pkg}/version.py") == installed)
    return [p for p in path if p not in dropped]


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


def warm() -> None:
    """The daemon's start: prefer the installed packages, then import
    ``pyspark.daemon`` and ``WARM_IMPORTS``."""
    sys.path[:] = installed_over_archives(sys.path)
    for name in ("pyspark.daemon",) + WARM_IMPORTS:
        importlib.import_module(name)


def main() -> None:
    warm()
    from pyspark import daemon

    worker_main = daemon.worker_main

    def _worker_main(infile, outfile):
        drop_pythonpath_zip_finders()
        return worker_main(infile, outfile)

    daemon.worker_main = _worker_main
    # What the daemon holds now outlives every worker: frozen, the full
    # gc.collect() PySpark runs in a worker after each task neither walks
    # it nor copies the pages the worker shares with the daemon.
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
