"""End-to-end quality-filter pipeline (reference's POST /extract-metadata,
``backend/app/api/routes.py:92-133`` -> ``metadata.py:245-714``, re-expressed
as a Spark DataFrame DAG — SURVEY §3.1).

Stages:
    clips --(salted repartition by clip_id hash)--> enrich (one fused
    mapInPandas: decode/langid/ppl/scrub/minhash) --> dedup (exact-group
    collapse + LSH banding + native exact verify) --> 17-dimension scoring +
    keep/drop policy (pure native exprs, WholeStageCodegen) --> results,
    duplicate_pairs, similarity_pairs, run_metrics.
"""

from __future__ import annotations

import datetime as dt
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .caching import cached
from .operators.dedup import dedup
from .operators.enrich import enrich
from .operators.scoring import with_dimensions, with_policy

RESULT_COLUMNS = [
    "clip_id", "status", "processed_at", "age_days", "lang", "lang_conf",
    "ppl", "pii_hits", "toxic_hits", "is_dup", "dup_of",
    "scrubbed_transcript", "dimensions", "overall_quality_score",
    "recommended_action", "keep", "minhash_sig",
]


class PipelineResult(NamedTuple):
    results: DataFrame
    duplicate_pairs: DataFrame
    similarity_pairs: DataFrame
    run_metrics: DataFrame


def score_rows(frame: DataFrame, run_ts: dt.datetime,
               include_evidence: bool) -> DataFrame:
    """status → 17 dimensions → keep/drop policy over enriched rows that
    already carry ``is_dup``. Batch, checkpointed and streaming runs all
    score through here."""
    # F2 error-row routing: decode failure is recorded, not dropped —
    # status column pattern (metadata.py:284-299).
    scored = frame.withColumns({
        "status": F.when(F.col("decode_ok"), "success").otherwise("error"),
        "processed_at": F.lit(run_ts),
    })
    return with_policy(with_dimensions(scored, include_evidence))


def score_and_report(enriched: DataFrame, run_ts: dt.datetime,
                     include_evidence: bool = True) -> PipelineResult:
    """dedup's flagged rows → :func:`score_rows` → results + run_metrics,
    over an already-enriched frame."""
    dd = dedup(enriched)
    scored = score_rows(dd.flagged, run_ts, include_evidence)
    results = scored.select(*RESULT_COLUMNS)

    # Run-level metrics (reference consolidated record, metadata.py:639-677):
    # A2 counters + keep/drop/dup rates as ONE row per run — a global agg,
    # so the record never depends on the partition count, and the counts
    # read 0 (not null) on an empty run.
    def n_true(cond: F.Column) -> F.Column:
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0).cast("long"))

    run_metrics = scored.agg(
        F.count("*").alias("n_clips"),
        n_true(F.col("keep")).alias("n_keep"),
        n_true(~F.col("keep")).alias("n_drop"),
        n_true(F.col("status") == "error").alias("n_error"),
        n_true(F.col("is_dup")).alias("n_duplicates"),
        F.avg("overall_quality_score").alias("avg_overall"),
    ).withColumn("run_ts", F.lit(run_ts))
    return PipelineResult(results, dd.duplicate_pairs, dd.similarity_pairs, run_metrics)


def run_pipeline(
    clips: DataFrame,
    run_ts: dt.datetime,
    include_evidence: bool = True,
) -> PipelineResult:
    partitions = int(clips.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    enriched = enrich(clips, run_ts)
    # Salted repartition by clip_id hash (north rule): spreads duplicate
    # clusters (co-located in input files) evenly before the dedup joins.
    # Deliberately AFTER enrich: the map-only enrich stage consumes `bytes`
    # in place on the scan partitions, so the audio payload — the dominant
    # volume at 100 TB — never enters a shuffle; only slim enriched columns
    # are redistributed.
    enriched = enriched.repartition(
        partitions, F.pmod(F.xxhash64("clip_id"), F.lit(partitions))
    )
    # Reused by the dedup joins AND the scoring/report path — persist once.
    # (registered: callers caching.release_all() after materializing sinks)
    return score_and_report(cached(enriched), run_ts, include_evidence)
