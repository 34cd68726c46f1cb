"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The expectation tests are pure Python.  The smoke test runs every
workload end to end on tiny inputs (PERFBENCH_TINY=1) in child processes,
timed and traced, and takes several minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from dataquality_spark.datagen.clips import row_for
from dataquality_spark.oracle.policy import label_frame
from perfbench import hostenv, inputs

ROOT = hostenv.ROOT
WORKLOADS = sorted(inputs.SIZES)


def _labels(rows):
    pdf = pd.DataFrame(rows, columns=list(inputs.CLIP_FIELDS))
    return label_frame(pdf, inputs.run_ts())


def test_flagship_expectation_matches_label_frame():
    """Two 200-row files labelled apart agree with the oracle run on both
    at once, and with the counts datagen.clips plants."""
    rows = [row_for(i, 3) for i in range(400)]
    whole = _labels(rows)
    parts = [inputs._oracle(rows[:200]), inputs._oracle(rows[200:])]
    merged = inputs._merge([{"o": p} for p in parts], "o")
    assert merged["is_dup"] == whole["is_dup"].tolist()
    assert merged["keep"] == whole["keep"].tolist()
    # hot cluster 5, near-dup pairs 4 and "the water" 1 per 100 rows
    assert sum(merged["is_dup"]) == 40
    exact, near = inputs._pair_count(merged, inputs._flagship_families(0, 400))
    assert (exact, near) == (19 + 3, 8)


def test_audio_expectation_counts_planted_copies():
    rows, fp, off = inputs._audio_rows(2, 0, 200)
    copies = [r["clip_id"] for r in rows if not r["clip_id"].startswith("clip_")]
    scaled = sum(c.startswith("dupc_") for c in copies)
    # silent (k=25) and undecodable (k=23) originals never match
    assert 0 < fp <= scaled and fp < off <= len(copies)
    assert all(int(r["clip_id"][5:]) % 100 != 26 for r in rows)


def test_unstolen_share():
    # user, nice, system, idle, iowait, irq, softirq, steal, guest, guest_nice
    before = [100, 0, 20, 500, 5, 0, 10, 0, 0, 0]
    after = [400, 0, 80, 900, 9, 0, 40, 130, 0, 0]
    assert hostenv.unstolen(before, after) == 390 / 520
    assert hostenv.unstolen(after, after) == 1.0


def _run(workload: str, trace: int, cwd: str = ROOT):
    env = dict(os.environ, PERFBENCH_TINY="1")
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "11", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _run(workload, trace)
        assert out.returncode == 0, out.stderr[-3000:]
        last = json.loads(out.stdout.strip().splitlines()[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert last["correct"] and last["failed"] == 0, out.stdout[-3000:]
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {k: v["unit"] for k, v in last["metrics"].items()}
        assert got == want


def test_refuses_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = _run("flagship", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
