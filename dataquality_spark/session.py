"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same configs are what we'd set on a
real multi-executor cluster (AQE on, Arrow on, UTC, shuffle partitions sized
to the job rather than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The directory or zip this package was imported from.
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """Driver heap sized to the host: a quarter of RAM, clamped to
    1-8 GiB, so the default never asks for more heap than the host has."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{min(8192, max(1024, kb // 1024 // 4))}m"


def default_cores() -> int:
    """Cores a session uses when not told: ``$SPARK_GRAFT_CPUS``, else the
    host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "dataquality_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_cores()
    master = master or f"local[{cpus}]"
    # In local[N] the effective parallelism is N threads; default shuffle
    # partitions to that instead of Spark's 200 (pitfall: tiny-data
    # over-parallelization, huge-data under-parallelization).
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _driver_memory())
        .config("spark.ui.enabled", "false")
        # Generated classes are compiled once per JVM and cached by source;
        # the default cache holds 100. Counted at sf0.01 on 4 cores: a
        # flagship pass generates ~134 classes, one bench.py run 429, a
        # pipeline pass plus all 88 catalog queries 1,342. At 100, every
        # warm pass recompiled nearly all of its classes. A static conf:
        # only a JVM's first session sets it.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Python workers fork from this engine's daemon (workerd.py). It
        # starts before --py-files reach sys.path, so the engine root goes
        # on the workers' PYTHONPATH.
        .config("spark.python.daemon.module", "dataquality_spark.workerd")
        .config("spark.executorEnv.PYTHONPATH", _ENGINE_ROOT)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
