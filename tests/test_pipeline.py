"""End-to-end ``run_pipeline`` properties: partition-count invariance of
``results`` and ``run_metrics``, and hostile inputs (empty run, null
transcript, null or malformed audio bytes, zero divisors) that must be
routed, never dropped."""

import pandas as pd

from dataquality_spark.caching import release_all
from dataquality_spark.datagen.clips import CLIPS_SCHEMA, DEFAULT_RUN_TS, clips_pdf
from dataquality_spark.oracle.policy import label_frame
from dataquality_spark.pipeline import run_pipeline


def _by_clip(df) -> pd.DataFrame:
    return df.toPandas().sort_values("clip_id", ignore_index=True)


def test_results_and_run_metrics_invariant_to_shuffle_partitions(spark):
    """``results`` and the one-row ``run_metrics`` record are identical at
    any shuffle partition count."""
    clips = spark.createDataFrame(clips_pdf(50), schema=CLIPS_SCHEMA)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    runs = []
    try:
        for n in (1, 4, 13):
            spark.conf.set(key, str(n))
            res = run_pipeline(clips, DEFAULT_RUN_TS)
            runs.append((_by_clip(res.results), res.run_metrics.toPandas()))
            release_all()
    finally:
        spark.conf.set(key, saved)
    results, metrics = runs[0]
    assert len(results) == 50 and len(metrics) == 1
    assert metrics["n_clips"][0] == 50
    assert metrics["n_duplicates"][0] == int(results["is_dup"].sum()) > 0
    for other_results, other_metrics in runs[1:]:
        pd.testing.assert_frame_equal(results, other_results, obj="results")
        pd.testing.assert_frame_equal(metrics, other_metrics, obj="run_metrics")


def test_empty_input_gives_empty_outputs_and_one_metrics_row(spark):
    res = run_pipeline(spark.createDataFrame([], schema=CLIPS_SCHEMA), DEFAULT_RUN_TS)
    assert res.results.count() == 0
    assert res.duplicate_pairs.count() == 0
    assert res.similarity_pairs.count() == 0
    rows = res.run_metrics.collect()
    assert len(rows) == 1
    m = rows[0]
    assert (m.n_clips, m.n_keep, m.n_drop, m.n_error, m.n_duplicates) == (0, 0, 0, 0, 0)


def test_null_transcript_and_null_bytes_are_routed(spark):
    """A null transcript decodes fine but has no language: success, "und".
    Null audio bytes fail decode: the row is kept with status "error".
    A zero declared duration and a WAV header saying 0 Hz are zero
    divisors in the score rules; a truncated RIFF and a data chunk longer
    than its payload fail decode. A header rate of 0xFFFFFFFF Hz is an
    unsigned 32-bit value and must not wrap negative. Every row is scored,
    and every row's score and action match the pure-Python oracle on the
    same input."""
    pdf = pd.concat([clips_pdf(20), clips_pdf(5, start=30)], ignore_index=True)
    no_text, no_audio = pdf["clip_id"][10], pdf["clip_id"][11]
    zero_dur, zero_sr, short_riff, long_data, max_sr = pdf["clip_id"][20:25]
    pdf.loc[10, "transcript"] = None
    pdf.loc[11, "bytes"] = None
    pdf.loc[20, "dur_ms"] = 0
    wav = pdf["bytes"][21]
    pdf.at[21, "bytes"] = wav[:24] + bytes(4) + wav[28:]  # fmt sample rate
    pdf.at[22, "bytes"] = pdf["bytes"][22][:12]
    pdf.at[23, "bytes"] = pdf["bytes"][23][:-100]
    wav = pdf["bytes"][24]
    pdf.at[24, "bytes"] = wav[:24] + b"\xff" * 4 + wav[28:]
    res = run_pipeline(spark.createDataFrame(pdf, schema=CLIPS_SCHEMA), DEFAULT_RUN_TS)
    got = _by_clip(res.results).set_index("clip_id")
    truth = label_frame(pdf, DEFAULT_RUN_TS).set_index("clip_id").sort_index()
    assert list(got.index) == list(truth.index)
    assert (got.loc[no_text, "status"], got.loc[no_text, "lang"],
            got.loc[no_text, "recommended_action"]) == ("success", "und", "QUARANTINE")
    assert (got.loc[no_audio, "status"],
            got.loc[no_audio, "recommended_action"]) == ("error", "QUARANTINE")
    errors = [no_audio, short_riff, long_data]
    assert (got.loc[errors, "status"] == "error").all()
    assert (got.drop(errors)["status"] == "success").all()
    assert got.loc[zero_dur, "dimensions"]["Completeness"]["score"] == 40
    assert got.loc[zero_sr, "dimensions"]["Integrity"]["score"] == 30
    integrity = got.loc[max_sr, "dimensions"]["Integrity"]
    assert integrity["score"] == 30
    assert integrity["evidence"].startswith("decoded_ms=0 "), integrity["evidence"]
    for col in ("overall_quality_score", "recommended_action", "keep"):
        assert (got[col] == truth[col]).all(), col
    m = res.run_metrics.collect()
    assert len(m) == 1 and (m[0].n_clips, m[0].n_error) == (25, 3)
