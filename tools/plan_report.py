"""Physical-plan audit: dumps the plan facts that matter at 100 TB for
every bench-tagged catalog query plus the flagship pipeline, to PLANS.md.

    python tools/plan_report.py

Facts per query (from the post-execution FORMATTED explain — the final
AQE plan, each operator listed once): exchange (shuffle) count,
whole-stage-codegen region count, parquet scans with pushed filters and
pruned read schemas, window partitioning, and join strategies. For the
clips pipeline: proof that the audio `bytes` column appears in
scan+enrich only, never in any Exchange's input schema.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.001"


def facts(plan: str) -> dict:
    from dataquality_spark.plan_utils import operator_blocks

    blocks = operator_blocks(plan)
    ops = [re.match(r"\(\d+\) (\S+)", b).group(1) for b in blocks]
    scans = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    pushed = [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p]
    return {
        "exchanges": sum(1 for o in ops if o == "Exchange"),
        "codegen_regions": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "scans": [
            sorted(c.split(":")[0] for c in s.rstrip(">").split(",") if ":" in c)
            for s in scans
        ],
        "pushed": pushed,
        "joins": sorted({
            o for o in ops
            if o in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                     "BroadcastNestedLoopJoin", "CartesianProduct")
        }),
        # bounded to each Window operator's OWN detail block — a following
        # operator's SinglePartition must not leak into the verdict
        "single_partition_window": any(
            b.startswith("(") and re.match(r"\(\d+\) Window\b", b)
            and "SinglePartition" in b
            for b in blocks
        ),
    }


def main() -> None:
    from dataquality_spark.caching import release_all
    from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
    from dataquality_spark.pipeline import run_pipeline
    from dataquality_spark.plan_utils import exchange_inputs, formatted_plan
    from dataquality_spark.queries import CATALOG
    from dataquality_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    # Provenance stamp: the audit is only evidence if it reproduces from
    # the committed tree, so record the exact commit (and whether the
    # worktree was dirty) it was generated from.
    import subprocess

    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True).stdout.strip()
    dirty = bool(subprocess.run(["git", "status", "--porcelain",
                                 "--", "*.py"],
                                capture_output=True, text=True).stdout)
    lines = [
        "# PLANS — physical-plan audit (generated by tools/plan_report.py)\n",
        f"\nGenerated at commit `{head}`"
        + (" **with uncommitted .py changes — regenerate from a clean "
           "tree before committing**" if dirty else " (clean tree)")
        + ".\n",
        "\nPer-query facts that decide 100 TB behavior, extracted from the "
        "post-execution FORMATTED explain (final AQE plan): shuffle count, "
        "codegen coverage, scan pruning/pushdown, join strategies, window "
        "partitioning. Regenerate after plan-affecting changes.\n",
    ]

    # flagship pipeline
    res = run_pipeline(clips_df(spark, 200), DEFAULT_RUN_TS)
    plan = formatted_plan(res.results, execute=True)
    bytes_in_exchange = any(
        re.search(r"\bbytes#", inp) for inp in exchange_inputs(plan)
    )
    f = facts(plan)
    lines += [
        "\n## clips_pipeline (results branch)\n",
        f"- exchanges: {f['exchanges']}, codegen regions: "
        f"{f['codegen_regions']}\n",
        f"- audio `bytes` in any exchange: **{bytes_in_exchange}** "
        "(must be False — consumed map-side by enrich)\n",
        f"- joins: {', '.join(f['joins']) or 'none'}\n",
    ]
    release_all()

    for name, q in CATALOG.items():
        if "bench" not in q.tags or name.startswith("clips_"):
            continue
        f = facts(formatted_plan(q.run(spark, SF_DIR), execute=True))
        lines += [
            f"\n## {name}\n",
            f"- exchanges: {f['exchanges']}, codegen regions: "
            f"{f['codegen_regions']}, joins: "
            f"{', '.join(f['joins']) or 'none'}\n",
        ]
        if f["pushed"]:
            lines.append(f"- pushed filters: {'; '.join(f['pushed'])}\n")
        for cols in f["scans"]:
            lines.append(f"- scan columns: {', '.join(cols)}\n")
        if f["single_partition_window"]:
            lines.append("- **WARNING: single-partition window**\n")
        release_all()

    with open("PLANS.md", "w") as fh:
        fh.writelines(lines)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
