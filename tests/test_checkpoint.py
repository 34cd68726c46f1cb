"""Checkpoint/resume semantics: a crashed run resumes from the manifest
and produces results identical to an uninterrupted run."""

from __future__ import annotations

import pytest

from dataquality_spark.caching import cached
from dataquality_spark.checkpoint import run_checkpointed
from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
from dataquality_spark.io.tableio import Manifest

N = 300
N_BATCHES = 4


def _labels(res):
    return {
        r["clip_id"]: (r["recommended_action"], r["is_dup"])
        for r in res.results.select(
            "clip_id", "recommended_action", "is_dup"
        ).collect()
    }


def test_resume_after_crash_matches_clean_run(spark, tmp_path):
    clips = cached(clips_df(spark, N))

    clean = run_checkpointed(
        clips, DEFAULT_RUN_TS, str(tmp_path / "clean"), n_batches=N_BATCHES
    )
    assert sorted(clean.batches_run) == list(range(N_BATCHES))
    assert clean.result.results.count() == N

    # Crash after 2 committed batches...
    crash_dir = str(tmp_path / "crashy")
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_checkpointed(
            clips, DEFAULT_RUN_TS, crash_dir, n_batches=N_BATCHES,
            fail_after_batches=2,
        )
    m = Manifest(crash_dir + "/enriched")
    assert len(m.committed_batches()) == 2

    # ...resume: only the remaining batches run, output identical.
    resumed = run_checkpointed(
        clips, DEFAULT_RUN_TS, crash_dir, n_batches=N_BATCHES
    )
    assert len(resumed.batches_skipped) == 2
    assert len(resumed.batches_run) == 2
    assert _labels(resumed.result) == _labels(clean.result)

    # Lineage covers every batch with row counts that sum to N.
    lineage = resumed.lineage.collect()
    assert {r["batch_id"] for r in lineage} == set(range(N_BATCHES))
    assert sum(r["n_rows"] for r in lineage) == N


def test_rerun_is_fully_incremental(spark, tmp_path):
    clips = clips_df(spark, 120)
    d = str(tmp_path / "incr")
    first = run_checkpointed(clips, DEFAULT_RUN_TS, d, n_batches=3)
    second = run_checkpointed(clips, DEFAULT_RUN_TS, d, n_batches=3)
    assert first.batches_run and not second.batches_run
    assert len(second.batches_skipped) == 3
    assert second.result.results.count() == 120


def test_input_scanned_exactly_once(spark, tmp_path):
    """Scan-amplification guard: the enrich+checkpoint write must read the
    clips input exactly once for ALL batches (the old per-batch filter
    loop re-scanned it n_batches times). A counting passthrough wrapped
    around the input observes every row exactly once."""
    import pandas as pd

    from dataquality_spark.datagen.clips import CLIPS_SCHEMA

    n = 200
    acc = spark.sparkContext.accumulator(0)
    base = clips_df(spark, n)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = base.mapInPandas(counting, schema=CLIPS_SCHEMA)
    run = run_checkpointed(
        counted, DEFAULT_RUN_TS, str(tmp_path / "once"), n_batches=4
    )
    # Materialize the enrich write side only (it already ran eagerly inside
    # run_checkpointed); the accumulator counts input-scan row visits.
    assert sorted(run.batches_run) == [0, 1, 2, 3]
    assert acc.value == n, f"input scanned {acc.value / n:.1f}x (want 1x)"


def test_resume_scans_only_missing_batches(spark, tmp_path):
    """On resume, the input is filtered to the uncommitted batch ids —
    committed work is never re-read at row granularity beyond the single
    pruned pass."""
    import pandas as pd

    from dataquality_spark.datagen.clips import CLIPS_SCHEMA

    n = 200
    d = str(tmp_path / "resume_scan")
    clips = cached(clips_df(spark, n))
    clips.count()
    with pytest.raises(RuntimeError, match="simulated failure"):
        run_checkpointed(clips, DEFAULT_RUN_TS, d, n_batches=4,
                         fail_after_batches=2)

    acc = spark.sparkContext.accumulator(0)

    def counting(batches):
        for pdf in batches:
            acc.add(len(pdf))
            yield pdf

    counted = clips.mapInPandas(counting, schema=CLIPS_SCHEMA)
    resumed = run_checkpointed(counted, DEFAULT_RUN_TS, d, n_batches=4)
    assert len(resumed.batches_run) == 2
    # one pass over the input; at most the full row count is visited
    # (partition pruning happens post-scan here since the batch id is a
    # derived column, but the SCAN count stays 1x, not n_batches x)
    assert acc.value <= n
    assert resumed.result.results.count() == n


def test_empty_hash_buckets_do_not_poison_the_manifest(spark, tmp_path):
    """With fewer clips than hash buckets, some batch ids get zero rows;
    partitionBy writes no dir for them, yet the commit (n_rows=0) must
    not break read_table on this run or any resume."""
    clips = cached(clips_df(spark, 12))
    d = str(tmp_path / "sparse")
    first = run_checkpointed(clips, DEFAULT_RUN_TS, d, n_batches=16)
    assert first.result.results.count() == 12
    lineage = first.lineage.collect()
    assert {r["batch_id"] for r in lineage} == set(range(16))
    assert sum(r["n_rows"] for r in lineage) == 12
    assert any(r["n_rows"] == 0 for r in lineage)  # the empty-bucket case

    # resume over the committed (partly dir-less) table must also work
    second = run_checkpointed(clips, DEFAULT_RUN_TS, d, n_batches=16)
    assert not second.batches_run
    assert second.result.results.count() == 12


def test_time_travel_read_as_of_sequence(spark, tmp_path):
    """Snapshot time-travel (VERSION AS OF analog): reading at an earlier
    manifest sequence number sees exactly the rows committed by then, and
    the latest read is unchanged."""
    from dataquality_spark.io.tableio import read_table

    clips = cached(clips_df(spark, N))
    d = str(tmp_path / "tt")
    run_checkpointed(clips, DEFAULT_RUN_TS, d, n_batches=N_BATCHES)
    m = Manifest(d + "/enriched")
    entries = sorted(m.entries(), key=lambda e: e["sequence_number"])
    assert len(entries) == N_BATCHES

    full = read_table(spark, d + "/enriched", m)
    assert full.count() == N

    # as of the second commit: only the first two batches' rows
    seq = entries[1]["sequence_number"]
    early = read_table(spark, d + "/enriched", m, as_of_sequence=seq)
    expected = sum(e["n_rows"] for e in entries[:2])
    assert early.count() == expected
    early_batches = {r["batch_id"] for r in early.select("batch_id").distinct().collect()}
    assert early_batches <= {e["batch_id"] for e in entries[:2]}

    # before any commit -> error, same as an empty table
    with pytest.raises(ValueError, match="at sequence -1"):
        read_table(spark, d + "/enriched", m, as_of_sequence=-1)


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg add-column semantics: a later batch writes an extra
    column; the merged read surfaces it (null for pre-evolution rows),
    and time-travel to the pre-evolution snapshot shows the old
    schema's data untouched."""
    import os

    from dataquality_spark.io.tableio import read_table

    d = str(tmp_path / "evo")
    table = d + "/t"
    m = Manifest(table)

    os.makedirs(table, exist_ok=True)
    spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string") \
        .coalesce(1).write.parquet(table + "/batch_id=0")
    m.commit(0, {"n_rows": 2})
    spark.createDataFrame([(3, "c", 9.5)], "id bigint, v string, score double") \
        .coalesce(1).write.parquet(table + "/batch_id=1")
    m.commit(1, {"n_rows": 1})

    full = read_table(spark, table, m)
    assert set(full.columns) >= {"id", "v", "score"}
    rows = {r.id: r for r in full.collect()}
    assert rows[1].score is None and rows[3].score == 9.5

    # pre-evolution snapshot: old schema, no phantom column requirement
    seq0 = sorted(m.entries(), key=lambda e: e["sequence_number"])[0][
        "sequence_number"
    ]
    early = read_table(spark, table, m, as_of_sequence=seq0)
    assert early.count() == 2 and "score" not in early.columns

    # frozen-schema read path still works when evolution is off: the
    # inferred schema comes from one footer, so only assert row count
    assert read_table(spark, table, m, merge_schema=False).count() == 3
