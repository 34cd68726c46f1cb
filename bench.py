"""Benchmark harness (driver contract): runs the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the host's CPU count) and prints
ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>, "clips_per_sec": ...}

The clips quality-filter pipeline (the engine's flagship) is measured as
throughput over a pre-materialized parquet clips table (generation cost
is excluded — it is input, not engine). Catalog queries tagged "bench"
cover the relational/dedup/ANN/text operator families.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataquality_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
N_CLIPS = int(os.environ.get("BENCH_N_CLIPS", "0")) or (
    20000 if "0.1" in SF_DIR else (5000 if "0.01" in SF_DIR else 2000)
)
# File count = the scan's hard parallelism ceiling (one ~row-group per
# file at this size), so generate 4 task-waves per core and name the cache
# by layout so a re-run with different CPUS regenerates.
N_FILES = 4 * CPUS
CLIPS_CACHE = os.environ.get(
    "BENCH_CLIPS_DIR", f"/tmp/bench_clips_{N_CLIPS}_{N_FILES}"
)


def _host_load() -> dict:
    """Snapshot host contention so a confounded run is self-evident in the
    artifact (the r4 bench was invalidated by a background job pinning
    cores — uniform 1.3-5.9x inflation with nothing in the JSON to show
    why).  Records /proc/loadavg plus the number of OTHER running
    (R-state) processes at bench start."""
    try:
        with open("/proc/loadavg") as f:
            la = f.read().split()
        load = [float(x) for x in la[:3]]
    except (OSError, ValueError):
        load = None
    running = 0
    try:
        me = os.getpid()
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == me:
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "R":
                        running += 1
            except OSError:
                continue
    except OSError:
        running = None
    return {"loadavg": load, "other_running_procs": running}


def main() -> None:
    from dataquality_spark import harness
    from dataquality_spark.caching import release_all
    from dataquality_spark.queries import CATALOG

    load_at_start = _host_load()

    # Materialize the clips input in a SUBPROCESS so datagen cost (and its
    # JVM heap/GC state — spark.stop() reuses the same py4j JVM) cannot
    # bleed into the timed measurements.
    if not os.path.exists(os.path.join(CLIPS_CACHE, "_SUCCESS")):
        shutil.rmtree(CLIPS_CACHE, ignore_errors=True)
        import subprocess
        code = (
            "import sys; sys.path.insert(0, %r); "
            "from dataquality_spark.session import get_spark; "
            "from dataquality_spark.datagen.clips import write_clips_parquet; "
            "s = get_spark(app_name='bench-datagen', master='local[%d]', "
            "shuffle_partitions=%d); "
            "write_clips_parquet(s, %r, %d, n_files=%d); s.stop()"
            % (os.path.dirname(os.path.abspath(__file__)), CPUS, CPUS,
               CLIPS_CACHE, N_CLIPS, N_FILES)
        )
        subprocess.run([sys.executable, "-c", code], check=True)

    spark = harness.timed_session("bench", CLIPS_CACHE, CPUS)
    split = spark.conf.get("spark.sql.files.maxPartitionBytes")

    timings: dict[str, float] = {}

    # --- flagship: clips quality-filter pipeline -------------------------
    # best-of-REPEATS: this virtualized host shows 2-3x wall variance from
    # hypervisor neighbors (see BENCH.md); best-of converges on the
    # machine's capability like the scaling harness does.  EVERY raw
    # repeat timing is recorded so best-vs-spread is auditable, not just
    # the headline.  Default 6, not 3: measured repeat walls at sf0.1 keep
    # declining past 3 (e.g. 11.7/9.8/9.2/9.0/8.8/8.2 — JVM tier-up plus
    # hypervisor-noise sampling), so best-of-3 systematically undersamples
    # the steady-state capability a long-running production job would see;
    # min over N is monotone in N, so extra repeats only cost bench wall.
    repeats = max(1, int(os.environ.get("BENCH_REPEATS", "6")))
    clips = spark.read.parquet(CLIPS_CACHE)
    # warm-up: one untimed pass over the timed input starts the Python
    # workers, builds the scorer models and compiles the pass's classes
    harness.timed_pass(clips)
    # Classes compiled during each repeat: near zero once the warm-up has
    # filled the codegen cache, so a thrashing cache shows here.
    repeat_secs, codegen_compiles = [], []
    for _ in range(repeats):
        before = harness.codegen_compiles(spark)
        repeat_secs.append(round(harness.timed_pass(clips), 3))
        codegen_compiles.append(harness.codegen_compiles(spark) - before)
    clip_sec = min(repeat_secs)
    timings["clips_pipeline"] = round(clip_sec, 3)
    clips_per_sec = round(N_CLIPS / clip_sec, 1)

    # --- audio-payload dedup: fingerprint + LSH + native hamming verify --
    # Decode -> FFT fingerprint -> banded join -> bit_count verify over the
    # SAME pre-materialized clips table as the flagship (throughput of the
    # audio-content dedup path; the corpus has no planted audio dups, so
    # this measures the full-funnel cost, not the pair count).
    from dataquality_spark.caching import cached
    from dataquality_spark.operators.audiodedup import (
        audio_fingerprints,
        fingerprint_pairs,
    )

    # Split sizing per stage shape: the flagship's fused enrich wants 4
    # task-waves per core (balancing), but the audio-dedup family's DSP is
    # one vectorized Arrow pass over the scan — per-task setup dominated at
    # 4 waves, and ONE wave of fat splits measured ~40% faster on the
    # offset matcher (A/B: 128/64/32-split ladder, both directions). Most
    # of that setup was the Python worker re-reading pyspark.zip and the
    # spark-core jar before each task, which workerd.py removes; this
    # sizing needs re-measuring without it.
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(2 << 20, harness.input_bytes(CLIPS_CACHE) // CPUS)))
    audio_clips = spark.read.parquet(CLIPS_CACHE)

    t0 = time.time()
    fp = cached(audio_fingerprints(audio_clips))
    harness.force(fingerprint_pairs(fp))
    timings["audio_fingerprint_dedup"] = round(time.time() - t0, 3)

    # --- offset-invariant audio dedup (time-shifted copy recovery) ------
    # Inverted-index offset voting + aligned-hamming verify over the same
    # table: the full-funnel cost of the matcher that catches
    # silence-leader shifted copies chunk hashing cannot.  It reads the
    # fingerprint frame above, still persisted (offset_fingerprints is
    # that frame, and offset_align_pairs' cached() resolves to it), so
    # this timing holds the bigram voting and verify, not a second decode.
    from dataquality_spark.operators.audiodedup import (
        offset_align_pairs,
        offset_fingerprints,
    )

    t0 = time.time()
    harness.force(offset_align_pairs(offset_fingerprints(audio_clips)))
    timings["audio_offset_align_dedup"] = round(time.time() - t0, 3)
    release_all()
    # restore the flagship/catalog split sizing
    spark.conf.set("spark.sql.files.maxPartitionBytes", split)

    # --- catalog headline queries ---------------------------------------
    for name, q in CATALOG.items():
        if "bench" not in q.tags or name.startswith("clips_"):
            continue
        t0 = time.time()
        harness.force(q.run(spark, SF_DIR))
        timings[name] = round(time.time() - t0, 3)
    release_all()

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "quality_filter_suite_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "clips_per_sec": clips_per_sec,
        "n_clips": N_CLIPS,
        "cpus": CPUS,
        "pipeline_repeats": repeats,
        "pipeline_repeat_secs": repeat_secs,
        "codegen_compiles": codegen_compiles,
        "host_load_at_start": load_at_start,
        "host_load_at_end": _host_load(),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
