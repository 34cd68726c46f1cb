"""The timed run: set-ups, then the closed loop of checked passes."""

from __future__ import annotations

import json
import os
import statistics
import time

from dataquality_spark.caching import release_all
from dataquality_spark.session import get_spark

from perfbench import hostenv, inputs, workloads

N_SETUPS = 3  # set-ups per run; setup_s is their median
# The first pass of a session also compiles the plan's code and is
# 1.5-2x slower than later ones, so a timed run checks it but leaves it
# out of the median (WARMUP_PASSES), and times at least MIN_PASSES more.
WARMUP_PASSES = 1
MIN_PASSES = 2


def session_for(inp: str, event_log: str | None) -> dict:
    return hostenv.session_conf(hostenv.dir_bytes(os.path.join(inp, "clips")),
                                inputs.N_FILES, event_log)


def set_up(kind, conf: dict, spark):
    """One set-up: (re)start the session, then warm it on a generated
    slice, which starts the Python workers and builds and broadcasts the
    scorer models."""
    t0 = time.perf_counter()
    if spark is not None:
        spark.stop()
    spark = get_spark(app_name="perfbench", **conf)
    kind.warm(spark)
    release_all()
    return spark, time.perf_counter() - t0


class Loop:
    """The closed loop: one checked pass at a time, its digest compared
    with every earlier pass and every earlier run on the same input.  The
    digests are kept apart from the cached input, so they outlive its
    eviction.  Only passes whose outputs pass every check count in
    ``walls``; a failed pass's wall is kept apart, so a fast failure
    cannot lower the median."""

    def __init__(self, wl, inp: str):
        self.wl = wl
        self.digest_file = os.path.join(hostenv.WORK, "digests",
                                        os.path.basename(inp) + ".json")
        self.seen = None
        if os.path.exists(self.digest_file):
            with open(self.digest_file) as f:
                self.seen = json.load(f)
        self.walls, self.failed_walls, self.spans = [], [], []
        self.warm_walls, self.unstolen = [], []
        self.problems, self.released = [], []
        self.attempted, self.clips = 0, 0

    @property
    def failed(self) -> int:
        return len(self.failed_walls)

    def p50(self) -> float:
        return statistics.median(self.walls or self.failed_walls)

    def p50_unstolen(self) -> float:
        """Median pass wall net of steal: each wall times the share of
        the vCPU time its pass wanted that the hypervisor did not give to
        other guests.  On a shared 4-vCPU VM, steal ranged from under 1%
        to 25% of that time from one pass to the next, and pass walls
        rose with it."""
        if not self.walls:
            return self.p50()
        return statistics.median(w * u for w, u in zip(self.walls, self.unstolen))

    def one(self, label=None) -> tuple[float, float] | None:
        """One checked pass; its wall and unstolen share (see
        ``hostenv.unstolen``), or None when it failed."""
        i = self.attempted
        self.attempted += 1
        if label:
            label(f"pass {i}")
        c0 = hostenv.cpu_times()
        t0 = time.perf_counter()
        try:
            n, digest, probs = self.wl.run_pass()
        except Exception as e:  # noqa: BLE001 - a failed pass is counted
            release_all()
            n, digest, probs = 0, None, [f"{type(e).__name__}: {str(e)[:400]}"]
        wall = time.perf_counter() - t0
        share = hostenv.unstolen(c0, hostenv.cpu_times())
        self.released.append(self.wl.released)
        if digest is not None:
            digest = [str(d) for d in digest]
            if self.seen is None:
                self.seen = digest
            elif digest != self.seen:
                probs.append(f"digest {digest} differs from {self.seen}")
        if probs:
            self.failed_walls.append(wall)
            self.problems.append({"pass": i, "problems": probs})
            return None
        self.clips = max(self.clips, n)
        return wall, share

    def run(self, seconds: float, label=None, min_passes: int = MIN_PASSES,
            warmup: int = 0) -> None:
        """Passes until ``seconds`` have passed and ``min_passes`` have
        succeeded after the first ``warmup`` successful ones, which are
        kept apart in ``warm_walls``."""
        start = time.perf_counter()
        while len(self.walls) < min_passes or time.perf_counter() - start < seconds:
            t0 = time.time()
            done = self.one(label)
            if done is not None and len(self.warm_walls) < warmup:
                self.warm_walls.append(done[0])
            elif done is not None:
                self.walls.append(done[0])
                self.unstolen.append(done[1])
                self.spans.append((t0, time.time()))
            elif time.perf_counter() - start >= seconds:
                break

    def save(self) -> None:
        os.makedirs(os.path.dirname(self.digest_file), exist_ok=True)
        with open(self.digest_file, "w") as f:
            json.dump(self.seen, f)


def timed(name: str, inp: str, seconds: float) -> tuple[dict, dict]:
    kind = workloads.KINDS[name]
    conf = session_for(inp, None)
    setups, spark = [], None
    with hostenv.RssSampler() as rss:
        try:
            for _ in range(N_SETUPS):
                spark, s = set_up(kind, conf, spark)
                setups.append(s)
            loop = Loop(workloads.make(name, spark, inp), inp)
            rss.arm()
            loop.run(seconds, warmup=WARMUP_PASSES)
            rss.disarm()
            loop.save()
        finally:
            if spark is not None:
                hostenv.stop_spark(spark)
    metrics = {
        "clips_per_s": (loop.clips / loop.p50_unstolen(), "clips/s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
    }
    detail = {
        "session": conf, "setup_s": setups, "warmup_pass_s": loop.warm_walls,
        "pass_s": loop.walls, "pass_unstolen": loop.unstolen,
        "clips_per_s_wall": loop.clips / loop.p50(),
        "failed_pass_s": loop.failed_walls,
        "clips_per_pass": loop.clips, "released": loop.released,
        "failed_frac": loop.failed / loop.attempted,
        "problems": loop.problems,
    }
    return metrics, {"attempted": loop.attempted, "failed": loop.failed,
                     "detail": detail}
