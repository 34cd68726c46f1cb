"""One timed run of the clips pipeline, shared by ``bench.py`` and the
spark-submit scaling job ``tools/scaling_job.py``.

Both time the same thing — read → enrich → dedup → policy → noop sinks,
with input generation left out — so the session shape and the sink pass
are declared here once.  Each caller runs one untimed ``timed_pass`` over
the frame it then times, so the timed passes start with the Python
workers up, the scorer models built and that frame's classes compiled.
The module sits inside the package because the scaling job ships only
``dataquality_spark/`` to ``--py-files``.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

from .caching import release_all
from .datagen.clips import DEFAULT_RUN_TS
from .pipeline import PipelineResult, run_pipeline
from .session import get_spark


def input_bytes(path: str) -> int:
    """On-disk size of a parquet directory, without Spark's ``_SUCCESS``
    and ``.crc`` side files (local FS here; on a cluster this is one
    FileSystem.getContentSummary call)."""
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            if not fn.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def timed_session(app_name: str, input_path: str, cores: int,
                  master: str | None = None) -> SparkSession:
    """``get_spark`` with one shuffle partition per core and scan splits
    sized to the input at ``cores``; ``master`` defaults to
    ``local[cores]``."""
    # Four splits per core, so the map-only enrich stage balances without
    # fragmenting: at sf0.1 the clips table is ~540 MB, and the 128m
    # default packs it into ~6 splits — an enrich stage capped at 6 of 32
    # cores. At 640k clips, fixed 16m splits cost ~33% of the enrich
    # stage's wall at 8 cores, so large inputs grow toward the 128m
    # default. Most of that per-task cost was the Python worker re-reading
    # pyspark.zip and the spark-core jar before each task, which
    # workerd.py removes; these sizes need re-measuring without it.
    # openCost is dropped so the sizing math is the file bytes themselves;
    # the 2m floor keeps tiny inputs from splitting per row group.
    split = max(2 << 20, min(128 << 20, input_bytes(input_path) // (4 * cores)))
    return get_spark(app_name=app_name, master=master or f"local[{cores}]",
                     shuffle_partitions=cores,
                     extra_conf={
                         "spark.sql.files.maxPartitionBytes": str(split),
                         "spark.sql.files.openCostInBytes": str(1 << 20),
                         # The scoring CASE trees make uncapped plan-string
                         # renders cost driver-seconds per AQE stage
                         # materialization (event-log measured); timed
                         # sessions never read explain output, so cap it.
                         "spark.sql.maxPlanStringLength": "8192",
                         # PySpark's call-site capture adds py4j round
                         # trips to every column expression: the median
                         # run_pipeline() build at 5,000 clips fell from
                         # 2.1-2.2 s to 1.0-1.6 s with it off. Off here
                         # only, as it drops call-site context from error
                         # messages. PySpark reads the flag once per
                         # process, at the first wrapped call, so it holds
                         # only when this is the process's first session
                         # (bench.py and the scaling job).
                         "spark.python.sql.dataFrameDebugging.enabled": "false",
                     })


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: a warm pass whose
    generated code is all cached adds (nearly) none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def force(df: DataFrame) -> None:
    """Fully execute a DataFrame without driver-side collection cost."""
    df.write.format("noop").mode("overwrite").save()


def sink_pass(res: PipelineResult) -> None:
    """Materialize the pipeline's sinks and re-raise the first failure."""
    # duplicate_pairs first: it materializes the dedup funnel into the
    # shared caches. The two remaining sinks then run concurrently — each
    # query's serial driver phases (AQE replan rounds between tiny stages,
    # the dominant fixed cost at sandbox sizes) overlap the other's task
    # execution. A failed sink must fail the run: a silently short wall
    # would inflate throughput.
    force(res.duplicate_pairs)
    with ThreadPoolExecutor(2) as pool:
        sinks = [pool.submit(force, df) for df in (res.results, res.run_metrics)]
    for s in sinks:
        s.result()


def timed_pass(clips: DataFrame) -> float:
    """Run the pipeline over ``clips`` through :func:`sink_pass`; returns
    the wall in seconds. The run's caches are released afterwards."""
    t0 = time.perf_counter()
    sink_pass(run_pipeline(clips, DEFAULT_RUN_TS, include_evidence=False))
    wall = time.perf_counter() - t0
    release_all()
    return wall

