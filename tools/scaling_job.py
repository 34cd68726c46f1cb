"""spark-submit job for the two-parallelism scaling evidence (north rule:
N vs 4N executors; sandbox stand-in is local[N] vs local[4N] on identical
input — same total work, 4x the cores).

Usage:
    python3 -c "from tools.scaling_job import build_zip; build_zip('dq.zip')"
    spark-submit --master local[N] --py-files dq.zip \
        tools/scaling_job.py <clips_parquet> <cores> <out_json>

Times ONLY the pipeline (read -> enrich -> dedup -> policy -> noop sinks)
through ``dataquality_spark.harness``, the same session, untimed warm-up
pass over the timed input and sink pass as bench.py; input
materialization is excluded.
"""

from __future__ import annotations

import json
import os
import sys
import time
import zipfile

from pyspark import SparkConf, SparkContext

from dataquality_spark import harness

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip(path: str) -> None:
    """Package the library for spark-submit --py-files (the deployment
    mode the north rule names)."""
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "dataquality_spark")
        for root, _, files in os.walk(pkg):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    z.write(full, os.path.relpath(full, REPO))


def main() -> None:
    clips_path, cores, out_json = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    # Keep the master spark-submit was given: get_spark otherwise sets
    # local[$SPARK_GRAFT_CPUS].
    SparkContext._ensure_initialized()
    master = SparkConf().get("spark.master")
    spark = harness.timed_session(f"scaling_{cores}", clips_path, cores, master)

    clips = spark.read.parquet(clips_path)
    n = clips.count()  # warm the input listing/footers; not part of timing
    harness.timed_pass(clips)  # untimed warm-up over the timed input

    t0 = time.time()
    wall = harness.timed_pass(clips)
    t1 = t0 + wall

    # t_task_start/end pin the TIMED span in the record itself (file
    # mtimes drift under copies); run_id ties the file to one invocation;
    # master and defaultParallelism show the cores the run got.
    out = {"cores": cores, "n_clips": n, "wall_sec": round(wall, 2),
           "clips_per_sec": round(n / wall, 1),
           "t_task_start": round(t0, 3), "t_task_end": round(t1, 3),
           "run_id": os.environ.get("SCALING_RUN_ID", ""),
           "master": spark.sparkContext.master,
           "defaultParallelism": spark.sparkContext.defaultParallelism}
    with open(out_json, "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
