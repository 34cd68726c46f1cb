"""Incremental dedup: flagging a new slice against the corpus must agree
with the full recompute on the new rows — without corpus x corpus work."""

from __future__ import annotations

from pyspark.sql import functions as F

from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
from dataquality_spark.operators.dedup import dedup, dedup_increment
from dataquality_spark.operators.enrich import enrich

N_TOTAL = 1000
N_OLD = 800  # boundary splits planted hot-cluster members across old/new


def _flags(df):
    return {
        r["clip_id"]: (r["is_dup"], r["dup_of"]) for r in df.collect()
    }


def test_incremental_matches_full_run_on_new_slice(spark):
    enriched = enrich(clips_df(spark, N_TOTAL), DEFAULT_RUN_TS).persist()
    boundary = f"clip_{N_OLD:012d}"
    new_ids = enriched.filter(F.col("clip_id") >= boundary).select("clip_id")

    full = dedup(enriched)
    want = {
        k: v
        for k, v in _flags(full.flags).items()
        if k >= boundary
    }

    inc = dedup_increment(enriched, new_ids)
    got = _flags(inc.flags)

    assert set(got) == set(want)          # exactly the new slice
    assert got == want                    # identical decisions
    # sanity: the slice contains both planted dup kinds
    assert sum(1 for d, _ in got.values() if d) > 0
    enriched.unpersist()


def test_incremental_pairs_touch_new_rows_only(spark):
    enriched = enrich(clips_df(spark, 600), DEFAULT_RUN_TS).persist()
    boundary = "clip_000000000400"
    new_ids = enriched.filter(F.col("clip_id") >= boundary).select("clip_id")
    inc = dedup_increment(enriched, new_ids)
    pairs = inc.duplicate_pairs.select("clip_1", "clip_2").collect()
    assert pairs, "expected pairs touching the new slice"
    for r in pairs:
        assert r["clip_1"] >= boundary or r["clip_2"] >= boundary

    # both pair outputs equal the full run's, restricted to pairs touching
    # a new row (the similarity report included: not the duplicate pairs)
    full = dedup(enriched)
    touches_new = (F.col("clip_1") >= boundary) | (F.col("clip_2") >= boundary)
    for name in ("duplicate_pairs", "similarity_pairs"):
        got = getattr(inc, name)
        want = getattr(full, name).filter(touches_new)
        assert want.count(), name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name
    enriched.unpersist()
