"""Dedup operator tests: planted clusters, symmetry, pair ordering (P5/P6,
J1-J5 analogs, A8)."""

import datetime as dt

import pandas as pd
import pytest

from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_pdf
from dataquality_spark.operators.dedup import dedup
from dataquality_spark.operators.enrich import enrich


@pytest.fixture(scope="module")
def dd(spark):
    pdf = clips_pdf(300)
    enriched = enrich(spark.createDataFrame(pdf), DEFAULT_RUN_TS).persist()
    res = dedup(enriched)
    flags = res.flags.toPandas().set_index("clip_id")
    dpairs = res.duplicate_pairs.toPandas()
    spairs = res.similarity_pairs.toPandas()
    return flags, dpairs, spairs


def test_hot_cluster_all_flagged(dd):
    flags, _, _ = dd
    hot = [i for i in range(300) if i % 100 < 5]
    for i in hot:
        assert flags.loc[f"clip_{i:012d}", "is_dup"], i


def test_near_dup_pairs_both_flagged(dd):
    # symmetric attachment — reference metadata.py:608-617
    flags, _, _ = dd
    for i in range(300):
        if i % 100 in (5, 6, 7, 8):
            assert flags.loc[f"clip_{i:012d}", "is_dup"], i


def test_normal_rows_not_flagged(dd):
    flags, _, _ = dd
    for i in range(300):
        if i % 100 >= 28:
            assert not flags.loc[f"clip_{i:012d}", "is_dup"], i


def test_empty_transcripts_never_duplicates(dd):
    # identical-empty rows must not pair up (gate needs non-empty tokens)
    flags, _, _ = dd
    for i in range(300):
        if i % 100 in (17, 18):
            assert not flags.loc[f"clip_{i:012d}", "is_dup"], i


def test_pairs_ordered_and_unique(dd):
    # A8: unordered-pair dedup via strict clip_1 < clip_2 (metadata.py:655-666)
    _, dpairs, spairs = dd
    for pairs in (dpairs, spairs):
        assert (pairs["clip_1"] < pairs["clip_2"]).all()
        assert not pairs.duplicated(["clip_1", "clip_2"]).any()


def test_duplicate_pairs_thresholds(dd):
    # P5: every reported duplicate satisfies gate >= 0.7 AND cos >= 0.95
    _, dpairs, _ = dd
    assert (dpairs["metadata_similarity"] >= 70.0).all()
    assert (dpairs["similarity"] >= 95.0).all()


def test_verified_pairs_are_in_the_similarity_report(dd):
    # every near-dup pair (not an exact-group star edge) is reported as a
    # duplicate with the same sims in similarity_pairs: both reports read
    # the one frame of decided pairs
    flags, dpairs, spairs = dd
    star = dpairs["clip_2"].map(flags["dup_of"]) == dpairs["clip_1"]
    near = dpairs[~star]
    assert len(near) > 0
    got = near.merge(spairs, on=["clip_1", "clip_2"], how="left",
                     suffixes=("", "_sim"))
    assert got["is_duplicate_sim"].eq(True).all()  # NaN where absent
    for col in ("metadata_similarity", "similarity"):
        assert (got[col] == got[f"{col}_sim"]).all(), col


def test_dup_of_points_to_representative(dd):
    flags, _, _ = dd
    hot = flags.loc[[f"clip_{i:012d}" for i in range(300) if i % 100 < 5]]
    reps = hot["dup_of"].dropna().unique()
    assert list(reps) == ["clip_000000000000"]


def test_connected_components_path_and_singleton(spark):
    """Min-label propagation: a 5-node path (diameter 4 — needs multiple
    propagation rounds), a separate triangle, and an isolated node must
    land in exactly the right components with min-id labels."""
    from dataquality_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14),   # path
         (20, 21), (21, 22), (20, 22)],            # triangle
        "id_a bigint, id_b bigint",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in [10, 11, 12, 13, 14, 20, 21, 22, 99]], "node bigint"
    )
    got = {r.node: r.component
           for r in connected_components(edges, nodes).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10,
                   20: 20, 21: 20, 22: 20, 99: 99}


def test_connected_components_raises_at_iteration_cap(spark):
    from dataquality_spark.operators.dedup import connected_components

    import pytest

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                                  "id_a bigint, id_b bigint")
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 4]], "node bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iters=1)


def test_funnel_invariant_to_shuffle_partitions(spark):
    """Band leaders (min clip_id), BUCKET_CAP windows and star edges are
    order-sensitive in principle: the full and incremental funnels must
    give identical flags and pairs at any shuffle partition count."""
    from pyspark.sql import functions as F

    from dataquality_spark.caching import release_all
    from dataquality_spark.operators.dedup import dedup_increment

    enriched = enrich(
        spark.createDataFrame(clips_pdf(300)), DEFAULT_RUN_TS
    ).persist()
    new_ids = enriched.filter(F.col("clip_id") >= "clip_000000000200").select(
        "clip_id"
    )

    def frames():
        full = dedup(enriched)
        inc = dedup_increment(enriched, new_ids)
        out = {
            "flags": full.flags,
            "duplicate_pairs": full.duplicate_pairs,
            "similarity_pairs": full.similarity_pairs,
            "increment_flags": inc.flags,
            "increment_pairs": inc.duplicate_pairs,
            "increment_similarity_pairs": inc.similarity_pairs,
        }
        got = {}
        for name, df in out.items():
            pdf = df.toPandas()
            got[name] = pdf.sort_values(list(pdf.columns), ignore_index=True)
        release_all()
        return got

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        runs = []
        for n in (1, 4, 13):
            spark.conf.set(key, str(n))
            runs.append(frames())
    finally:
        spark.conf.set(key, saved)
        enriched.unpersist()
    base = runs[0]
    assert base["flags"]["is_dup"].any() and len(base["duplicate_pairs"])
    assert base["increment_flags"]["is_dup"].any()
    for other in runs[1:]:
        for name, pdf in base.items():
            pd.testing.assert_frame_equal(pdf, other[name], obj=name)
