"""The timed-run harness behind bench.py and the spark-submit scaling job:
a failed sink must fail the pass, and a warmed, timed pass must report a
wall and leave no cached frame behind."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataquality_spark import harness
from dataquality_spark.caching import release_all
from dataquality_spark.datagen.clips import clips_df
from dataquality_spark.pipeline import PipelineResult


def test_sink_pass_reraises_a_failed_concurrent_sink(spark):
    ok = spark.range(4)
    broken = spark.range(4).select(F.raise_error(F.lit("sink boom")).alias("x"))
    res = PipelineResult(results=broken, duplicate_pairs=ok,
                         similarity_pairs=ok, run_metrics=ok)
    with pytest.raises(Exception, match="sink boom"):
        harness.sink_pass(res)


def test_warm_up_then_timed_pass_releases_every_frame(spark):
    harness.warm_up(spark)
    wall = harness.timed_pass(clips_df(spark, 64))
    assert wall > 0
    assert release_all() == 0
