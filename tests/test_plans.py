"""Physical-plan guards for the 100 TB disciplines (SURVEY §4).

These assert the plan SHAPE, not results: filters reach the parquet scan,
projections prune columns, the audio `bytes` column never enters a
shuffle, and pair generation is never a cartesian. A refactor that
silently regresses one of these still passes every value-level test —
only the plan text betrays it."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from dataquality_spark.queries import CATALOG

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _outside_cache(plan: str) -> str:
    """Plan text minus the stored plan printed under each
    InMemoryRelation: a cache hit prints that plan but does not run it."""
    kept, depth = [], None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :+-"))
        if depth is not None and col > depth:
            continue
        depth = col if "InMemoryRelation" in line else None
        kept.append(line)
    return "\n".join(kept)


def test_tpch_q1_pushes_filter_to_scan(spark):
    plan = _plan(CATALOG["tpch_q1_pricing_summary"].run(spark, SF_DIR))
    # the l_shipdate predicate must reach the parquet reader
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_tpch_q1_prunes_columns(spark):
    plan = _plan(CATALOG["tpch_q1_pricing_summary"].run(spark, SF_DIR))
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, "no FileScan in plan"
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    # 7 needed columns, not the 16-column lineitem table
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_supplier_part_agg_pushes_dim_filter(spark):
    plan = _plan(CATALOG["supplier_part_agg"].run(spark, SF_DIR))
    assert "LessThanOrEqual(p_size,25)" in plan.replace(" ", "").replace(
        "LessThanOrEqual(p_size,25)", "LessThanOrEqual(p_size,25)"
    ) or "LessThanOrEqual(p_size" in plan


def test_pipeline_never_shuffles_audio_bytes(spark):
    """The column-pruning discipline that makes the 100 TB design work:
    the binary audio payload is consumed map-side by enrich and must not
    appear in ANY exchange (shuffle) of the pipeline plan. Checked
    against each Exchange operator's full input schema in the formatted
    explain (the raw tree header only shows partitioning keys)."""
    from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
    from dataquality_spark.pipeline import run_pipeline

    from dataquality_spark.plan_utils import exchange_inputs, formatted_plan

    res = run_pipeline(clips_df(spark, 50), DEFAULT_RUN_TS)
    plan = formatted_plan(res.results, execute=True)
    inputs = exchange_inputs(plan)
    assert inputs, "no Exchange operators found in formatted plan"
    for inp in inputs:
        assert not re.search(r"\bbytes#", inp), (
            f"audio bytes entered a shuffle: {inp[:120]}"
        )


def test_pipeline_results_branch_exchange_count(spark):
    """Shuffle rounds in the results branch at 200 clips, as
    tools/plan_report.py counts them for PLANS.md (initial and final
    plan). Dedup joins the exact groups once and scoring reads ``is_dup``
    from that join, with no flags join-back; the flag join broadcasts the
    near-duplicate ids by plan, so the rows are never shuffled on
    ``rep_id``, which leaves 14. Update the pin when a change moves it on
    purpose."""
    from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
    from dataquality_spark.pipeline import run_pipeline
    from dataquality_spark.plan_utils import formatted_plan
    from tools.plan_report import facts

    # a frame another test left persisted (the same clips_df input, say)
    # would be substituted into this plan and change its shape
    spark.catalog.clearCache()
    res = run_pipeline(clips_df(spark, 200), DEFAULT_RUN_TS)
    assert facts(formatted_plan(res.results, execute=True))["exchanges"] == 14


def test_pipeline_persists_four_frames(spark):
    """A build persists ``enriched`` plus dedup's exact groups, its
    representatives' features and its one frame of decided pairs; both
    pair reports and the flags read that frame, so nothing else is
    cached."""
    from dataquality_spark.caching import release_all
    from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
    from dataquality_spark.pipeline import run_pipeline

    release_all()
    run_pipeline(clips_df(spark, 50), DEFAULT_RUN_TS)
    assert release_all() == 4


def test_events_top_recent_is_take_ordered(spark):
    plan = _plan(CATALOG["events_top_recent"].run(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_no_global_single_partition_window_in_catalog_sql(spark):
    """No catalog query may move all rows to one partition for a window
    (the r1 emb_ivf_topk defect class). Window nodes must carry a
    partition key."""
    for name in ("emb_ivf_topk", "events_latest_per_user",
                 "events_top3_per_user", "events_sessionization",
                 "events_recent_results", "doc_approvals_promotion"):
        plan = _plan(CATALOG[name].run(spark, SF_DIR))
        for line in plan.splitlines():
            if "Window " in line or line.strip().startswith("Window"):
                assert "SinglePartition" not in line, (name, line)
    # and none of them may plan a cartesian product
        assert "CartesianProduct" not in plan, name


def test_audio_fingerprint_dedup_plan_shape(spark):
    """The audio dedup funnel must (a) never plan a cartesian or
    broadcast-nested-loop pair generation — candidates come from the
    banded equi-join — and (b) never let the binary audio payload enter
    a shuffle: only slim fingerprint rows move."""
    from dataquality_spark.datagen.clips import clips_df
    from dataquality_spark.operators.audiodedup import (
        audio_fingerprints,
        fingerprint_pairs,
    )
    from dataquality_spark.plan_utils import exchange_inputs, formatted_plan

    fp = audio_fingerprints(clips_df(spark, 60))
    pairs = fingerprint_pairs(fp)
    raw = _plan(pairs)
    assert "CartesianProduct" not in raw
    assert "BroadcastNestedLoopJoin" not in raw
    plan = formatted_plan(pairs, execute=True)
    for inp in exchange_inputs(plan):
        assert not re.search(r"\bbytes#", inp), (
            f"audio bytes entered a shuffle: {inp[:120]}"
        )


def test_audio_matchers_share_one_decode(spark):
    """With the chunk matcher's fingerprint frame persisted, the offset
    matcher must read that frame instead of decoding the audio again: its
    plan scans the in-memory relation, holds no Python map operator, and
    persists nothing of its own. A fingerprint map that stops being
    plan-equal across builds (e.g. a new closure variable changing its
    pickled bytes) fails here."""
    from dataquality_spark.caching import cached, release_all
    from dataquality_spark.datagen.clips import clips_df
    from dataquality_spark.operators.audiodedup import (
        audio_fingerprints,
        offset_align_pairs,
        offset_fingerprints,
    )

    clips = clips_df(spark, 60)
    cached(audio_fingerprints(clips))
    plan = _outside_cache(_plan(offset_align_pairs(offset_fingerprints(clips))))
    assert "InMemoryTableScan" in plan
    assert "MapInPandas" not in plan
    assert "PythonMapInArrow" not in plan
    assert release_all() == 1  # the one shared fingerprint frame


def test_exact_verify_is_jvm_native(spark):
    """The dedup funnel crosses into Python once: the exact set Jaccard
    runs natively in whole-stage codegen (array_intersect/size over the
    token hashes the one attach joined, no cogroup/applyInPandas
    round-trip) before the one mapInPandas pass (``est_cos``) computes the
    signature estimate and the cosine. So the duplicate pairs plan holds
    exactly one dedup Python-boundary operator (plus the datagen and
    enrich passes upstream) and no FlatMapCoGroupsInPandas anywhere."""
    import re as _re

    from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
    from dataquality_spark.pipeline import run_pipeline

    res = run_pipeline(clips_df(spark, 50), DEFAULT_RUN_TS)
    plan = _plan(res.duplicate_pairs)
    assert "FlatMapCoGroupsInPandas" not in plan
    # every Python boundary in the plan is one of the three known passes
    names = _re.findall(r"MapInPandas (\w+)\(", plan)
    assert set(names) <= {"gen", "run", "est_cos"}, names
    assert names.count("est_cos") == 1, names
