"""The stream scoring path: batch/stream parity, checkpoint resume, and
stream scoring followed by the periodic batch dedup."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
from dataquality_spark.streaming.pipeline import run_scoring_query, score_clips

N = 300


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    """Input dir with two parquet file-drops (simulating arrival order)."""
    root = tmp_path_factory.mktemp("stream")
    inp = str(root / "in")
    clips = clips_df(spark, N).cache()
    clips.where("clip_id < 'clip_000000000200'").coalesce(1).write.parquet(
        inp, mode="append"
    )
    first_files = set(os.listdir(inp))
    clips.where("clip_id >= 'clip_000000000200'").coalesce(1).write.parquet(
        inp, mode="append"
    )
    clips.unpersist()
    return {"input": inp, "root": root, "first_files": first_files}


def test_stream_batch_parity_and_resume(spark, stream_dirs):
    """availableNow over the file source produces bit-identical rows to the
    batch path, and a second run with the same checkpoint is a no-op."""
    out = str(stream_dirs["root"] / "out")
    ckpt = str(stream_dirs["root"] / "ckpt")
    run_scoring_query(spark, stream_dirs["input"], out, ckpt, DEFAULT_RUN_TS)

    got = (
        spark.read.parquet(out)
        .select("clip_id", "lang", "ppl", "overall_quality_score",
                "recommended_action", "keep", "scrubbed_transcript")
        .toPandas()
        .sort_values("clip_id", ignore_index=True)
    )
    want = (
        score_clips(clips_df(spark, N), DEFAULT_RUN_TS)
        .select("clip_id", "lang", "ppl", "overall_quality_score",
                "recommended_action", "keep", "scrubbed_transcript")
        .toPandas()
        .sort_values("clip_id", ignore_index=True)
    )
    assert len(got) == N
    pd.testing.assert_frame_equal(got, want)

    # resume: same checkpoint, no new input → no new rows
    run_scoring_query(spark, stream_dirs["input"], out, ckpt, DEFAULT_RUN_TS)
    assert spark.read.parquet(out).count() == N


def test_stream_incremental_only_new_files(spark, stream_dirs, tmp_path):
    """Checkpointed re-run processes only files that landed after the first
    pass (file-source offsets in the checkpoint)."""
    inp2 = str(tmp_path / "in2")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    clips = clips_df(spark, 120).cache()
    clips.where("clip_id < 'clip_000000000060'").coalesce(1).write.parquet(
        inp2, mode="append"
    )
    run_scoring_query(spark, inp2, out, ckpt, DEFAULT_RUN_TS)
    assert spark.read.parquet(out).count() == 60

    clips.where("clip_id >= 'clip_000000000060'").coalesce(1).write.parquet(
        inp2, mode="append"
    )
    clips.unpersist()
    run_scoring_query(spark, inp2, out, ckpt, DEFAULT_RUN_TS)
    got = spark.read.parquet(out).toPandas()
    assert len(got) == 120
    assert got["clip_id"].is_unique  # each clip scored exactly once


def test_hybrid_stream_scoring_then_batch_dedup(spark, tmp_path):
    """The hybrid pattern end-to-end: the stream scores clips on arrival
    (is_dup=False, dedup features persisted), then the periodic batch
    dedup runs over the ACCUMULATED results table and retro-flags —
    producing exactly the flags a from-scratch batch run computes."""
    from dataquality_spark.operators.dedup import dedup
    from dataquality_spark.pipeline import run_pipeline

    inp = str(tmp_path / "hyb_in")
    out = str(tmp_path / "hyb_out")
    ckpt = str(tmp_path / "hyb_ckpt")
    clips = clips_df(spark, 300).cache()
    clips.where("clip_id < 'clip_000000000150'").coalesce(1).write.parquet(
        inp, mode="append"
    )
    run_scoring_query(spark, inp, out, ckpt, DEFAULT_RUN_TS)
    clips.where("clip_id >= 'clip_000000000150'").coalesce(1).write.parquet(
        inp, mode="append"
    )
    run_scoring_query(spark, inp, out, ckpt, DEFAULT_RUN_TS)

    accumulated = spark.read.parquet(out)
    assert accumulated.count() == 300

    # periodic batch job: dedup over the streamed features, no re-enrich
    flags = dedup(accumulated).flags
    got = {r["clip_id"]: r["is_dup"] for r in flags.collect()}

    want = {
        r["clip_id"]: r["is_dup"]
        for r in run_pipeline(clips, DEFAULT_RUN_TS)
        .results.select("clip_id", "is_dup").collect()
    }
    clips.unpersist()
    assert got == want
