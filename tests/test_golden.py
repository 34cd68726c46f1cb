"""Golden end-to-end test: Spark pipeline vs pure-Python oracle.

The BASELINE.json gate: keep/drop F1 >= 0.99 vs reference-rule labels,
scrubbed-transcript equality per clip, plus full action/score agreement.
The oracle runs the O(n^2) reference dataflow; the pipeline runs the
LSH + native exact-verify DAG — agreement here is the whole point of the
build.
"""

import pandas as pd
import pytest

from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_pdf
from dataquality_spark.oracle.policy import label_frame
from dataquality_spark.pipeline import run_pipeline

N = 1000


@pytest.fixture(scope="module")
def frames(spark):
    pdf = clips_pdf(N)
    truth = label_frame(pdf, DEFAULT_RUN_TS).set_index("clip_id").sort_index()
    clips = spark.createDataFrame(pdf)
    res = run_pipeline(clips, DEFAULT_RUN_TS, include_evidence=True)
    got = (
        res.results.select(
            "clip_id", "is_dup", "overall_quality_score", "recommended_action",
            "keep", "scrubbed_transcript", "dimensions",
        )
        .toPandas()
        .set_index("clip_id")
        .sort_index()
    )
    return truth, got


def _f1(truth: pd.Series, got: pd.Series) -> float:
    tp = int((truth & got).sum())
    fp = int((~truth & got).sum())
    fn = int((truth & ~got).sum())
    if tp == 0:
        return 0.0
    p, r = tp / (tp + fp), tp / (tp + fn)
    return 2 * p * r / (p + r)


def test_row_alignment(frames):
    truth, got = frames
    assert len(got) == N
    assert list(truth.index) == list(got.index)


def test_keep_f1_at_least_099(frames):
    truth, got = frames
    f1_keep = _f1(truth["keep"], got["keep"])
    f1_drop = _f1(~truth["keep"], ~got["keep"])
    assert f1_keep >= 0.99, f"keep-side F1 {f1_keep}"
    assert f1_drop >= 0.99, f"drop-side F1 {f1_drop}"


def test_duplicate_flags_match_oracle(frames):
    truth, got = frames
    mism = (truth["is_dup"] != got["is_dup"]).sum()
    assert mism == 0, f"{mism} dup-flag mismatches"


def test_actions_and_scores_match(frames):
    truth, got = frames
    assert (truth["recommended_action"] == got["recommended_action"]).all()
    assert (truth["overall_quality_score"] == got["overall_quality_score"]).all()


def test_scrubbed_transcripts_equal(frames):
    truth, got = frames
    assert (truth["scrubbed_transcript"] == got["scrubbed_transcript"]).all()


def test_dimension_scores_match(frames):
    truth, got = frames
    from dataquality_spark.operators.scoring import DIMENSIONS

    for name in DIMENSIONS:
        spark_scores = got["dimensions"].map(lambda d, n=name: d[n]["score"])
        mism = (spark_scores != truth[f"score_{name}"]).sum()
        assert mism == 0, f"{mism} mismatches in dimension {name}"


def test_scores_closed_under_range(frames):
    _, got = frames
    assert got["overall_quality_score"].between(0, 100).all()
