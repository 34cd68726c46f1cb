"""The timed-run harness behind bench.py and the spark-submit scaling job:
a failed sink must fail the pass, a warmed, timed pass must report a
wall and leave no cached frame behind, a repeated pass must reuse the
code the first one generated, and the scaling job's record must keep its
task-span fields."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataquality_spark import harness
from dataquality_spark.caching import release_all
from dataquality_spark.datagen.clips import clips_df
from dataquality_spark.pipeline import PipelineResult

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_sink_pass_reraises_a_failed_concurrent_sink(spark):
    ok = spark.range(4)
    broken = spark.range(4).select(F.raise_error(F.lit("sink boom")).alias("x"))
    res = PipelineResult(results=broken, duplicate_pairs=ok,
                         similarity_pairs=ok, run_metrics=ok)
    with pytest.raises(Exception, match="sink boom"):
        harness.sink_pass(res)


def test_warm_up_then_timed_pass_releases_every_frame(spark):
    # bench.py and the scaling job warm up with one untimed pass over the
    # frame they then time
    clips = clips_df(spark, 64)
    harness.timed_pass(clips)
    wall = harness.timed_pass(clips)
    assert wall > 0
    assert release_all() == 0


def test_repeated_pass_reuses_generated_code(spark):
    # A pass generates ~134 classes; the session's codegen cache must hold
    # them, or every warm pass recompiles them (at the 100-class default a
    # second pass compiled 128-134). The first pass compiles what earlier
    # tests left uncached, so the bound is a quarter of a pass's classes,
    # not of the first pass's count; not zero, as a few plans differ from
    # pass to pass.
    clips = clips_df(spark, 200)
    compiled = []
    for _ in range(2):
        before = harness.codegen_compiles(spark)
        harness.timed_pass(clips)
        compiled.append(harness.codegen_compiles(spark) - before)
    assert compiled[1] < 134 / 4, compiled


def test_scaling_job_writes_its_task_span_fields():
    # Source-level check (running scaling_job needs spark-submit): the
    # job's record keeps the timed span and invocation id that the
    # archived scaling_r0*.jsonl records carry.
    job_src = open(os.path.join(REPO, "tools", "scaling_job.py")).read()
    for field in ("t_task_start", "t_task_end", "wall_sec", "run_id"):
        assert f'"{field}"' in job_src
    assert "SCALING_RUN_ID" in job_src
