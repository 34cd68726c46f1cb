"""The traced run: per-layer numbers, measured from outside the engine.

Layers are module names.  The run has three parts:

1. the normal passes without tracing, before and after part 2, for the
   untraced pass wall;
2. the same passes in a session that writes an uncompressed event log,
   which gives the driver, shuffle and JVM numbers of a pass; their wall
   minus the untraced wall is the tracing overhead;
3. in the same session, each layer's public function forced in turn over
   the previous layer's cached output, under
   ``sc.setJobDescription("<layer>")``, which gives each layer's wall,
   task and CPU time.

Jobs and stages are attributed to a pass or a layer by the time window
the harness recorded around it, so no code inside the engine is needed.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from dataquality_spark.caching import cached, release_all
from dataquality_spark.operators.audiodedup import (
    audio_fingerprints,
    fingerprint_pairs,
    offset_align_pairs,
    offset_fingerprints,
)
from dataquality_spark.operators.dedup import dedup, dedup_increment, exact_groups
from dataquality_spark.operators.enrich import enrich
from dataquality_spark.operators.scoring import with_dimensions, with_policy
from dataquality_spark.streaming.pipeline import run_scoring_query

from perfbench import hostenv, inputs, workloads
from perfbench.measure import Loop, session_for, set_up

SMALL_STAGE_S = 0.3
FUNCTION_ROWS = 4096
# layers whose walls make up each workload's pass
PASS_LAYERS = {
    "flagship": ("enrich", "dedup.groups", "dedup.pairs", "dedup.flags", "scoring"),
    "audio_dedup": ("audiodedup.fp", "audiodedup.fp_pairs",
                    "audiodedup.offset_fp", "audiodedup.offset_pairs"),
}


# ---------------------------------------------------------------- event log

def read_eventlog(path: str) -> tuple[list[dict], list[dict]]:
    """(stages, jobs) from an uncompressed event log."""
    stages: dict[tuple, dict] = {}
    jobs = []

    def stage(key):
        return stages.setdefault(key, {
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "fetch_ms": 0,
            "shw_bytes": 0, "tasks": 0})

    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                jobs.append({"sub": e["Submission Time"],
                             "desc": e.get("Properties", {}).get("spark.job.description")})
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    s = stage((si["Stage ID"], si["Stage Attempt ID"]))
                    s["sub"], s["comp"] = si["Submission Time"], si["Completion Time"]
            elif ev == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                s = stage((e["Stage ID"], e["Stage Attempt ID"]))
                s["tasks"] += 1
                s["run_ms"] += m.get("Executor Run Time", 0)
                s["cpu_ns"] += m.get("Executor CPU Time", 0)
                s["gc_ms"] += m.get("JVM GC Time", 0)
                s["fetch_ms"] += (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0)
                s["shw_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return [s for s in stages.values() if "sub" in s], jobs


def _covered(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def window(stages: list[dict], jobs: list[dict], t0: float, t1: float) -> dict:
    """Everything the event log holds for the stages and jobs submitted in
    [t0, t1] (epoch seconds)."""
    a, b = t0 * 1000, t1 * 1000
    ss = [s for s in stages if a <= s["sub"] <= b]
    clip = [(max(s["sub"], a), min(s["comp"], b)) for s in ss]
    big = [c for c, s in zip(clip, ss) if s["comp"] - s["sub"] >= SMALL_STAGE_S * 1000]
    return {
        "wall_s": t1 - t0,
        "jobs": sum(a <= j["sub"] <= b for j in jobs),
        "stages": len(ss),
        "small_stages": sum(s["comp"] - s["sub"] < SMALL_STAGE_S * 1000 for s in ss),
        "only_s": (b - a - _covered(clip)) / 1000,
        "fixed_s": (b - a - _covered(big)) / 1000,
        "task_s": sum(s["run_ms"] for s in ss) / 1000,
        "cpu_s": sum(s["cpu_ns"] for s in ss) / 1e9,
        "tasks": sum(s["tasks"] for s in ss),
        "gc_s": sum(s["gc_ms"] for s in ss) / 1000,
        "fetch_s": sum(s["fetch_ms"] for s in ss) / 1000,
        "shuffle_bytes": sum(s["shw_bytes"] for s in ss),
    }


# ---------------------------------------------------------------- functions

def functions_ms(clips_dir: str) -> dict:
    """ms per row of each scorer enrich_batch calls, single process, on
    the first FUNCTION_ROWS rows of the input (median of three calls)."""
    import pandas as pd

    from dataquality_spark.functions.audio import audio_stats_batch
    from dataquality_spark.functions.langid import get_model as get_langid
    from dataquality_spark.functions.minhash import signature_frame
    from dataquality_spark.functions.perplexity import get_model as get_charlm
    from dataquality_spark.functions.pii import scrub_batch

    frames, n = [], 0
    for fn in sorted(os.listdir(clips_dir)):
        frames.append(pq.read_table(os.path.join(clips_dir, fn)).to_pandas())
        n += len(frames[-1])
        if n >= FUNCTION_ROWS:
            break
    pdf = pd.concat(frames).head(FUNCTION_ROWS)
    texts, raws, codecs = (pdf["transcript"].tolist(), pdf["bytes"].tolist(),
                           pdf["codec"].tolist())
    langid, charlm = get_langid(), get_charlm()
    calls = {
        "audio": lambda: audio_stats_batch(raws, codecs),
        "langid": lambda: langid.predict_batch(texts),
        "perplexity": lambda: charlm.perplexity_batch(texts),
        "pii": lambda: scrub_batch(texts),
        "minhash": lambda: signature_frame(texts),
    }
    out = {}
    for name, call in calls.items():
        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            call()
            walls.append(time.perf_counter() - t0)
        out[f"functions.{name}_ms_per_row"] = statistics.median(walls) * 1000 / len(pdf)
    return out


# ------------------------------------------------------------------ layers

def force_layers(spark, name: str, inp: str) -> tuple[dict, dict]:
    """Force each layer in turn; returns (counts and sizes, windows)."""
    sc = spark.sparkContext
    spans: dict[str, tuple[float, float]] = {}
    vals: dict[str, float] = {}
    clips_dir = os.path.join(inp, "clips")
    clips = spark.read.parquet(clips_dir).select(*inputs.CLIP_FIELDS)
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def layer(label, fn):
        sc.setJobDescription(label)
        t0 = time.time()
        out = fn()
        spans[label] = (t0, time.time())
        return out

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # both hash every column, so both read every byte (a noop sink lets
    # the scan skip the binary payload); their difference is the crossing
    layer("io.scan", lambda: workloads.summarize(clips))
    layer("enrich.transfer", lambda: workloads.summarize(
        clips.mapInPandas(lambda it: it, clips.schema)))
    # enrich as the pipeline runs it: the fused pass, then the salted
    # repartition, persisted for every later layer
    enriched = cached(enrich(clips, inputs.run_ts()).repartition(
        n, F.pmod(F.xxhash64("clip_id"), F.lit(n))))
    layer("enrich", lambda: noop(enriched))

    groups = cached(exact_groups(enriched))
    vals["dedup.exact_groups"] = layer("dedup.groups", lambda: workloads.summarize(
        groups, multi=workloads._count(F.col("group_size") >= 2)))["multi"]
    dd = dedup(enriched)
    vals["dedup.dup_pairs"] = layer(
        "dedup.pairs", lambda: workloads.summarize(dd.duplicate_pairs))["n"]
    vals["dedup.similarity_pairs"] = layer(
        "dedup.similarity", lambda: workloads.summarize(dd.similarity_pairs))["n"]
    flags = cached(dd.flags)
    vals["dedup.dup_flags"] = layer("dedup.flags", lambda: workloads.summarize(
        flags, dups=workloads._count(F.col("is_dup"))))["dups"]
    # a tenth of the clips as the newly landed slice, against all of them
    inc = dedup_increment(enriched, enriched.select("clip_id").where(
        F.pmod(F.xxhash64("clip_id"), F.lit(10)) == 0))
    layer("dedup.increment", lambda: (workloads.summarize(inc.flags),
                                      workloads.summarize(inc.duplicate_pairs)))

    scored = (enriched.join(flags, "clip_id", "left").fillna({"is_dup": False})
              .withColumn("status", F.when(F.col("decode_ok"), "success")
                          .otherwise("error"))
              .withColumn("processed_at", F.lit(inputs.run_ts())))
    layer("scoring", lambda: workloads.summarize(
        with_policy(with_dimensions(scored, include_evidence=False))))

    stream = os.path.join(hostenv.WORK, "trace-stream")
    shutil.rmtree(stream, ignore_errors=True)
    layer("streaming", lambda: run_scoring_query(
        spark, clips_dir, os.path.join(stream, "out"), os.path.join(stream, "ckpt"),
        inputs.run_ts()))
    vals["streaming.sink_bytes"] = hostenv.dir_bytes(os.path.join(stream, "out"))

    audio = workloads.one_wave(clips)
    fp = cached(audio_fingerprints(audio))
    vals["audiodedup.fp_rows"] = layer("audiodedup.fp", fp.count)
    vals["audiodedup.fp_pairs"] = layer(
        "audiodedup.fp_pairs", lambda: workloads.summarize(fingerprint_pairs(fp)))["n"]
    ofp = cached(offset_fingerprints(audio))
    layer("audiodedup.offset_fp", ofp.count)
    vals["audiodedup.offset_pairs"] = layer(
        "audiodedup.offset_pairs", lambda: workloads.summarize(offset_align_pairs(ofp)))["n"]
    sc.setJobDescription(None)
    release_all()
    return vals, spans


# -------------------------------------------------------------------- run

def traced(name: str, inp: str, seconds: float) -> tuple[dict, dict]:
    kind = workloads.KINDS[name]
    log_dir = os.path.join(hostenv.WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    plain, logged = session_for(inp, None), session_for(inp, log_dir)
    spark = None
    untraced = []
    try:
        # untraced, traced, untraced: the passes keep speeding up as the
        # JVM compiles them, so the untraced wall is taken on both sides
        for conf in (plain, logged, plain):
            spark, _ = set_up(kind, conf, spark)
            loop = Loop(workloads.make(name, spark, inp), inp)
            if conf is plain:
                loop.run(seconds / 3, min_passes=1)
                untraced.append(loop)
            else:
                loop.run(seconds / 3, label=spark.sparkContext.setJobDescription,
                         min_passes=1)
                vals, spans = force_layers(spark, name, inp)
                traced_loop = loop
            loop.save()
    finally:
        if spark is not None:
            hostenv.stop_spark(spark)
    funcs = functions_ms(os.path.join(inp, "clips"))
    (log,) = os.listdir(log_dir)
    stages, jobs = read_eventlog(os.path.join(log_dir, log))
    loop, loops = traced_loop, [*untraced, traced_loop]
    passes = [window(stages, jobs, a, b) for a, b in loop.spans]
    win = {k: window(stages, jobs, a, b) for k, (a, b) in spans.items()}

    def med(key):
        return statistics.median(p[key] for p in passes)

    def wall(label):
        return win[label]["wall_s"]

    dedup_wins = [w for k, w in win.items() if k.startswith("dedup.")]
    layer_sum = sum(wall(k) for k in PASS_LAYERS[name])
    pass_s = loop.p50()
    untraced_walls = [w for u in untraced for w in u.walls]
    untraced_s = statistics.median(untraced_walls)
    m = {
        "io.scan_s": (wall("io.scan"), "s"),
        # the event log's bytes-read misses the binary column's pages, so
        # this is the size of the parquet files the scan reads
        "io.scan_bytes": (hostenv.dir_bytes(os.path.join(inp, "clips")), "bytes"),
        "enrich.transfer_s": (wall("enrich.transfer") - wall("io.scan"), "s"),
        "enrich.wall_s": (wall("enrich"), "s"),
        "enrich.task_s": (win["enrich"]["task_s"], "s"),
        "enrich.cpu_s": (win["enrich"]["cpu_s"], "s"),
        "enrich.tasks": (win["enrich"]["tasks"], "count"),
        **{k: (v, "ms/row") for k, v in funcs.items()},
        "shuffle.write_bytes": (med("shuffle_bytes"), "bytes"),
        "shuffle.fetch_wait_s": (med("fetch_s"), "s"),
        "dedup.groups_s": (wall("dedup.groups"), "s"),
        "dedup.pairs_s": (wall("dedup.pairs"), "s"),
        "dedup.similarity_s": (wall("dedup.similarity"), "s"),
        "dedup.flags_s": (wall("dedup.flags"), "s"),
        "dedup.increment_s": (wall("dedup.increment"), "s"),
        "dedup.task_s": (sum(w["task_s"] for w in dedup_wins), "s"),
        "dedup.stages": (sum(w["stages"] for w in dedup_wins), "count"),
        "dedup.exact_groups": (vals["dedup.exact_groups"], "count"),
        "dedup.dup_pairs": (vals["dedup.dup_pairs"], "count"),
        "dedup.similarity_pairs": (vals["dedup.similarity_pairs"], "count"),
        "dedup.dup_flags": (vals["dedup.dup_flags"], "count"),
        "dedup.dup_per_similarity": (
            vals["dedup.dup_pairs"] / max(1, vals["dedup.similarity_pairs"]), "ratio"),
        "scoring.wall_s": (wall("scoring"), "s"),
        "scoring.task_s": (win["scoring"]["task_s"], "s"),
        "streaming.score_s": (wall("streaming"), "s"),
        "streaming.sink_bytes": (vals["streaming.sink_bytes"], "bytes"),
        "audiodedup.fp_s": (wall("audiodedup.fp"), "s"),
        "audiodedup.fp_pairs_s": (wall("audiodedup.fp_pairs"), "s"),
        "audiodedup.offset_fp_s": (wall("audiodedup.offset_fp"), "s"),
        "audiodedup.offset_pairs_s": (wall("audiodedup.offset_pairs"), "s"),
        "audiodedup.fp_rows": (vals["audiodedup.fp_rows"], "count"),
        "audiodedup.fp_pairs": (vals["audiodedup.fp_pairs"], "count"),
        "audiodedup.offset_pairs": (vals["audiodedup.offset_pairs"], "count"),
        "caching.released": (statistics.median(loop.released), "count"),
        "driver.only_s": (med("only_s"), "s"),
        "driver.fixed_s": (med("fixed_s"), "s"),
        "driver.jobs": (med("jobs"), "count"),
        "driver.stages": (med("stages"), "count"),
        "driver.small_stages": (med("small_stages"), "count"),
        "jvm.gc_s": (med("gc_s"), "s"),
        "trace.pass_s": (pass_s, "s"),
        "trace.untraced_pass_s": (untraced_s, "s"),
        "trace.overhead_s": (pass_s - untraced_s, "s"),
        "trace.layer_sum_s": (layer_sum, "s"),
        "trace.layer_sum_over_pass": (layer_sum / pass_s, "ratio"),
    }
    detail = {
        "session": logged,
        "untraced_pass_s": untraced_walls, "pass_s": loop.walls,
        "pass_windows": passes, "layer_windows": win,
        "shares": {k: wall(k) / layer_sum for k in PASS_LAYERS[name]},
        "module_shares": {mod: sum(wall(k) for k in PASS_LAYERS[name]
                                   if k.split(".")[0] == mod) / layer_sum
                          for mod in {k.split(".")[0] for k in PASS_LAYERS[name]}},
        "fixed_share": med("fixed_s") / pass_s,
        "problems": [p for lp in loops for p in lp.problems],
    }
    return m, {"attempted": sum(lp.attempted for lp in loops),
               "failed": sum(lp.failed for lp in loops),
               "detail": detail}
