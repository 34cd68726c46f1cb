"""Layered benchmark of the quality-filter engine.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 20 --trace 0

Builds (or reuses) the seed's cached input, sets a Spark session up
several times, then runs the workload's pass in a closed loop with one
caller for ``--seconds``, checking every output.  The last stdout line is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics from
a separate traced run (``--trace 1``).  The line before it is a report
with provenance, every raw timing and every failed check.

Workloads: flagship and audio_dedup (see ``workloads.py``).  Exit codes:
2 the engine is missing, 3 the host is contended, 4 the disk cannot hold
the input.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import hostenv, inputs  # noqa: E402

MAX_CACHED = 8      # cached inputs kept; the oldest beyond it are evicted
INPUT_MB = {"flagship": 140, "audio_dedup": 45}  # measured, at the default sizes


def fail(code: int, msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def ensure_input(name: str, seed: int) -> tuple[str, float]:
    """The cached input for (workload, seed), generated in a child process
    when missing; returns its directory and the generation seconds."""
    out = inputs.cache_dir(name, seed)
    if os.path.isdir(out):
        os.utime(out)
        return out, 0.0
    root = os.path.dirname(out)
    os.makedirs(root, exist_ok=True)
    cached = sorted((os.path.join(root, d) for d in os.listdir(root)),
                    key=os.path.getmtime)
    for old in cached[:max(0, len(cached) - MAX_CACHED + 1)]:
        shutil.rmtree(old, ignore_errors=True)
    st = os.statvfs(root)
    need = (2 * INPUT_MB[name] + 1024) << 20
    if st.f_bavail * st.f_frsize < need:
        fail(4, f"{need >> 20} MB free needed for the {name} input")
    t0 = time.perf_counter()
    subprocess.run([sys.executable, inputs.__file__, name, str(seed), out],
                   check=True, timeout=900)
    return out, time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(inputs.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "dataquality_spark")):
        fail(2, f"the engine package is not in {ROOT}")
    hostenv.prepare_process_env()
    why = hostenv.contention()
    if why:
        fail(3, f"refusing to record a contended run: {why}")
    load_start = hostenv.loadavg()

    inp, gen_s = ensure_input(args.workload, args.seed)
    if args.trace:
        from perfbench.tracing import traced as measure
    else:
        from perfbench.measure import timed as measure
    metrics, run = measure(args.workload, inp, args.seconds)

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": inp, "input_gen_s": gen_s,
        "input_cache_mb": hostenv.dir_bytes(os.path.dirname(inp)) / 2**20,
        "provenance": hostenv.provenance(run["detail"]["session"]),
        "loadavg_start": load_start, "loadavg_end": hostenv.loadavg(),
        **run["detail"],
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": run["failed"] == 0,
        "attempted": run["attempted"],
        "failed": run["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
