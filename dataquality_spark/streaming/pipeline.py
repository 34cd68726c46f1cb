"""Incremental (Structured Streaming) form of the quality-filter DAG.

The reference app is batch-only — one POST = one full re-scan
(``backend/app/api/routes.py:92-133``); its only "incremental" behavior is
re-reading every result file per dashboard request (``routes.py:43-82``).
At production scale clips land continuously, so this module re-expresses
the same enrich → 17-dimension score → keep/drop policy DAG over a file
source stream:

* **source**: ``spark.readStream.schema(...).parquet(dir)`` — each newly
  landed parquet file becomes part of the next micro-batch; at 100 TB this
  is the autoloader pattern (file-notification source / Iceberg
  incremental scan) with the identical downstream plan.
* **per-clip stages are engine-shared**: :func:`score_clips` calls the
  exact batch operators (``operators.enrich`` mapInPandas + the batch
  pipeline's native-expr ``score_rows``) — mapInPandas and
  WholeStageCodegen expression trees run unchanged under micro-batch
  execution, so batch and stream outputs are bit-identical per row
  (asserted in tests/test_streaming.py).
* **stateful ops**: exact-dup suppression via
  ``dropDuplicatesWithinWatermark`` on the transcript hash (state expires
  with the event-time watermark instead of growing forever — the
  streaming analog of the batch exact-dedup groupBy); watermarked
  tumbling-window quality trend (A3's daily trend, incremental); a
  per-language running-totals operator via ``applyInPandasWithState``
  (custom keyed state, the pattern for any bespoke accumulator Spark
  lacks).
* **exactly-once + resume**: the scoring query writes to a parquet sink
  with a checkpoint dir; re-running with the same checkpoint processes
  only unseen input files (test-verified). This is the streaming twin of
  the batch engine's partition-checkpoint table (checkpoint.py).

Near-dup LSH is deliberately NOT run per micro-batch: candidate
generation is a self-join over the full corpus, which streaming cannot
express incrementally without unbounded state. The deployment pattern is
the hybrid one the batch engine supports CONCRETELY: the stream persists
the slim dedup features (token hashes, packed MinHash/BoW blobs, band
hashes — no raw text or audio) alongside each scored row, and the
periodic batch job runs ``operators.dedup.dedup`` (or, for a new slice
only, ``dedup_increment``) directly over the accumulated results table
to retro-flag duplicates — same split Lambda/batch-refinement layout the
papers use for web-scale dedup. Demonstrated end-to-end in
tests/test_streaming.py::test_hybrid_stream_scoring_then_batch_dedup.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.enrich import enrich
from ..pipeline import score_rows

CLIPS_STREAM_DDL = (
    "clip_id string, bytes binary, sr_hz int, dur_ms int, "
    "codec string, transcript string, ingest_ts timestamp"
)

STREAM_RESULT_COLUMNS = [
    "clip_id", "status", "processed_at", "age_days", "lang", "lang_conf",
    "ppl", "pii_hits", "toxic_hits", "is_dup", "scrubbed_transcript",
    "overall_quality_score", "recommended_action", "keep", "t_hash",
    "ingest_ts",
    # slim dedup features (packed blobs + hashes, no raw text/audio): what
    # the periodic batch near-dup job consumes from the accumulated
    # results table — the hybrid pattern made concrete (module docstring;
    # demonstrated end-to-end in tests/test_streaming.py).
    # SCHEMA EVOLUTION NOTE: sinks populated before these columns existed
    # must be read with spark.read.option("mergeSchema", "true") and the
    # old rows backfilled (or dedup'd from a fresh sink) — parquet schema
    # inference from a file subset would otherwise surface the feature
    # columns as missing/null for pre-upgrade rows.
    "n_tokens", "tok_hashes", "bow", "bands", "minhash_sig",
]


def read_clip_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a directory of clips parquet files."""
    reader = spark.readStream.schema(CLIPS_STREAM_DDL)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(input_dir)


def score_clips(clips: DataFrame, run_ts: dt.datetime) -> DataFrame:
    """enrich → dimensions → policy, batch/stream agnostic.

    ``is_dup`` is False here (Uniqueness=100): near-dup needs corpus-wide
    joins (see module docstring); exact duplicates are handled by
    :func:`dedup_stream` upstream or the periodic batch dedup downstream.
    """
    scored = score_rows(
        enrich(clips, run_ts).withColumn("is_dup", F.lit(False)),
        run_ts, include_evidence=False,
    )
    return scored.select(*STREAM_RESULT_COLUMNS)


def dedup_stream(clips: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact-dedup: keep the first clip per transcript hash.

    ``dropDuplicatesWithinWatermark`` bounds the dedup state by event
    time — rows whose ``ingest_ts`` is older than the watermark are
    evicted from state, so memory is O(clips per watermark window), not
    O(corpus). The batch equivalent is the exact-group collapse in
    operators/dedup.py.
    """
    hashed = clips.withColumn("t_hash", F.xxhash64("transcript"))
    return hashed.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["t_hash"]
    )


def windowed_quality_trend(
    scored: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """A3's daily-trend aggregation as a watermarked tumbling window.

    Append-mode safe: a window closes (and emits exactly once) when the
    watermark passes its end — late clips within the allowed lateness
    still count; later ones are dropped, bounding state.
    """
    return (
        scored.withWatermark("ingest_ts", watermark)
        .groupBy(F.window("ingest_ts", window).alias("w"))
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.round(F.avg("overall_quality_score"), 4).alias("avg_quality"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_clips", "n_keep", "avg_quality",
        )
    )


_LANG_STATE_SCHEMA = "n_clips long, n_keep long"
_LANG_OUT_SCHEMA = "lang string, n_clips long, n_keep long"


def _lang_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    n_clips, n_keep = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n_clips += len(pdf)
        n_keep += int(pdf["keep"].sum())
    state.update((n_clips, n_keep))
    yield pd.DataFrame({"lang": [key[0]], "n_clips": [n_clips], "n_keep": [n_keep]})


def lang_running_totals(scored: DataFrame) -> DataFrame:
    """Custom keyed-state operator: running clip/keep totals per language.

    ``applyInPandasWithState`` is the escape hatch for stateful semantics
    Spark's built-ins lack (reference analog: the approvals counter state,
    routes.py:620-627, which mutates across requests). Each trigger
    re-emits the updated totals for the languages it saw.
    """
    return scored.groupBy("lang").applyInPandasWithState(
        _lang_totals_fn,
        outputStructType=_LANG_OUT_SCHEMA,
        stateStructType=_LANG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def session_quality_stats(
    scored: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (dynamic-gap): clips group into sessions per
    language, a session closing once no clip arrives within ``gap``.
    The streaming counterpart of the batch ``events_sessionization``
    catalog query — there the gap boundary is a lag() window; here Spark's
    ``session_window`` maintains and merges window state incrementally,
    emitting a session exactly once when the watermark passes its end."""
    return (
        scored.withWatermark("ingest_ts", watermark)
        .groupBy(F.session_window("ingest_ts", gap).alias("w"), F.col("lang"))
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
        .select(
            "lang",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_clips", "n_keep",
        )
    )


_APPR_STATE_SCHEMA = "dims_json string"
_APPR_OUT_SCHEMA = (
    "file_key string, approvals long, rejections long, promoted boolean"
)


def _approvals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import json

    # dim -> [status, event_ts_ns]: keeping the event time in state makes
    # latest-wins hold across ANY arrival order — a late-arriving file in
    # a later trigger (or a later Arrow chunk of the same trigger) with an
    # OLDER ts must not overwrite newer state.  Equal-ts ties break by
    # status DESC (rejected > approved lexically), the SAME rule as the
    # batch window (operators/approvals.py latest_dimension_state orders
    # desc(ts), desc(status)) — so batch and streaming agree even on a
    # same-timestamp reject-then-approve sequence, in any arrival order.
    dims: dict = json.loads(state.get[0]) if state.exists else {}
    # Vectorized latest-wins fold: stack prior state + every Arrow chunk,
    # stable-sort ascending by (ts_ns, status) and keep the LAST row per
    # dimension — per dimension that is the max ts, ties broken by max
    # status, exactly the (ts DESC, status DESC) comparator above.
    frames = [
        pd.DataFrame(
            {
                "dimension": list(dims),
                "status": [v[0] for v in dims.values()],
                "ts_ns": pd.array([v[1] for v in dims.values()], dtype="int64"),
            }
        )
    ] if dims else []
    for pdf in pdfs:
        if len(pdf):
            frames.append(
                pd.DataFrame(
                    {
                        "dimension": pdf["dimension"].astype(str),
                        "status": pdf["status"].astype(str),
                        "ts_ns": pd.to_datetime(pdf["ts"]).astype("int64"),
                    }
                )
            )
    if frames:
        stacked = pd.concat(frames, ignore_index=True)
        latest = stacked.sort_values(
            ["ts_ns", "status"], kind="mergesort"
        ).drop_duplicates("dimension", keep="last")
    else:
        latest = pd.DataFrame(columns=["dimension", "status", "ts_ns"])
    dims = {
        d: [s, int(t)]
        for d, s, t in zip(latest["dimension"], latest["status"], latest["ts_ns"])
    }
    state.update((json.dumps(dims, sort_keys=True),))
    approvals = int((latest["status"] == "approved").sum())
    rejections = int((latest["status"] == "rejected").sum())
    yield pd.DataFrame(
        {
            "file_key": [key[0]],
            "approvals": [approvals],
            "rejections": [rejections],
            "promoted": [approvals >= 7],
        }
    )


def approvals_running_state(events: DataFrame) -> DataFrame:
    """Streaming twin of operators/approvals.py (P7): per-file dimension
    approval state as keyed state — each trigger folds new approval
    events into the latest-wins dimension map and re-emits the counts +
    the >= 7 promotion flag (routes.py:620-638). State is one small map
    per file_key; production would add an event-time timeout to retire
    files whose review closed."""
    return events.groupBy("file_key").applyInPandasWithState(
        _approvals_fn,
        outputStructType=_APPR_OUT_SCHEMA,
        stateStructType=_APPR_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_scoring_query(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    run_ts: dt.datetime,
) -> None:
    """One availableNow pass: score every not-yet-processed input file into
    the parquet results sink, then stop. Re-invocation with the same
    checkpoint dir resumes — already-committed files are skipped (file
    source offsets live in the checkpoint), giving exactly-once results.
    """
    stream = read_clip_stream(spark, input_dir)
    q = (
        score_clips(stream, run_ts)
        .writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


CORRECTIONS_STREAM_DDL = (
    "corr_clip_id string, corrected_transcript string, corr_ts timestamp"
)


def read_correction_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream over a directory of transcript-correction
    parquet files (the human-review / ASR-retranscription feed)."""
    return spark.readStream.schema(CORRECTIONS_STREAM_DDL).parquet(input_dir)


def join_corrections(
    clips: DataFrame,
    corrections: DataFrame,
    watermark: str = "2 hours",
    max_lag_expr: str = "INTERVAL 1 HOUR",
) -> DataFrame:
    """Stream-stream inner join: pair each streaming clip with the
    re-transcription that arrives on a SEPARATE feed within
    ``max_lag_expr`` of ingest.

    Both inputs are watermarked and the join condition carries an
    explicit event-time range, which is what lets Spark bound the join
    state: a buffered clip can be evicted once the correction-side
    watermark passes ``ingest_ts + max_lag``, and vice versa — state is
    O(rows per lag window), not O(stream history).  Without the time
    bound the state store grows forever; that variant is refused by
    design here (the range predicate is part of the operator contract).

    Returns one row per (clip, correction) match with both event times
    and the corrected transcript alongside the original.
    """
    c = clips.withWatermark("ingest_ts", watermark)
    r = corrections.withWatermark("corr_ts", watermark)
    cond = F.expr(
        "clip_id = corr_clip_id AND "
        f"corr_ts >= ingest_ts AND corr_ts <= ingest_ts + {max_lag_expr}"
    )
    return c.join(r, cond, "inner").select(
        "clip_id", "transcript", "corrected_transcript",
        "ingest_ts", "corr_ts",
    )
