"""Host facts for the benchmark: the contention guard, provenance, the
session sized to this host, and a resident-memory sampler.

Everything here reads ``/proc`` directly; nothing starts Spark.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# Command-line fragments of jobs that must not share the host with a
# recorded run: another Spark driver, or the repository's scaling tools.
FOREIGN_JOBS = ("org.apache.spark.deploy.SparkSubmit", "run_scaling_sim",
                "scaling_job")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    """The host's aggregate CPU time counters from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def unstolen(before: list[int], after: list[int]) -> float:
    """Of the time the vCPUs wanted to run between two ``cpu_times``
    readings (user, nice, system, irq, softirq, steal), the share the
    hypervisor gave them rather than to other guests."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6]
    return busy / (busy + d[7]) if busy + d[7] else 1.0


def runnable_now(samples: int = 10, interval: float = 0.1) -> float:
    """Median count of runnable tasks other than this process, from the
    instantaneous ``running/total`` field of /proc/loadavg.  Unlike the
    1-minute average this does not still carry the load of a benchmark
    run that ended a second ago."""
    seen = []
    for _ in range(samples):
        with open("/proc/loadavg") as f:
            running = int(f.read().split()[3].split("/")[0])
        seen.append(max(0, running - 1))
        time.sleep(interval)
    return statistics.median(seen)


def _cmdline(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def foreign_jobs() -> list[str]:
    """Live Spark drivers or scaling jobs other than this process."""
    me = str(os.getpid())
    hits = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or pid == me:
            continue
        cmd = _cmdline(pid)
        if any(tag in cmd for tag in FOREIGN_JOBS):
            hits.append(f"{pid}: {cmd[:120]}")
    return hits


def contention() -> str | None:
    """Why a run must not be recorded now, or None when the host is quiet."""
    jobs = foreign_jobs()
    if jobs:
        return "another Spark or scaling job is live: " + "; ".join(jobs)
    n = cores()
    busy = runnable_now()
    if busy > n:
        return f"{busy} runnable tasks at start exceed the {n} cores"
    return None


def driver_memory() -> str:
    """Driver heap from /proc/meminfo: a quarter of RAM, 1-8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    mib = min(8192, max(1024, kb // 1024 // 4))
    return f"{mib}m"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            if not fn.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, fn))
    return total


def session_conf(input_bytes: int, n_files: int, event_log: str | None) -> dict:
    """The benchmark's own session: ``local[cores]`` with one shuffle
    partition per core, a heap sized to the host and touched at start (so
    peak memory does not hang on how far the heap has grown), and bench.py's
    plan-string cap and input-sized scan splits (so ``flagship`` stays
    comparable with bench.py's clips pipeline).  Every temporary file stays
    under WORK."""
    n = cores()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = driver_memory()
    split = max(2 << 20, min(128 << 20, input_bytes // max(1, n_files)))
    conf = {
        "spark.driver.memory": heap,
        "spark.sql.files.maxPartitionBytes": str(split),
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.sql.maxPlanStringLength": "8192",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return {"master": f"local[{n}]", "shuffle_partitions": n, "extra_conf": conf}


def prepare_process_env() -> None:
    """Environment the JVM and its Python workers inherit: the engine on
    the worker path and every temporary file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    path = os.environ.get("PYTHONPATH", "")
    if ROOT not in path.split(os.pathsep):
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _git(*args: str) -> str | None:
    try:
        out = subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def engine_digest() -> str:
    """sha1 over the engine's sources, for checkouts that are not git."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "dataquality_spark")
    for root, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(root, fn)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def provenance(session: dict) -> dict:
    import pyarrow
    import pyspark

    commit = _git("rev-parse", "HEAD")
    status = _git("status", "--porcelain", "--untracked-files=no")
    keys = ("spark.driver.memory", "spark.sql.files.maxPartitionBytes",
            "spark.sql.maxPlanStringLength", "spark.eventLog.enabled")
    return {
        "commit": commit,
        "dirty": None if status is None else bool(status),
        "engine_sha1": engine_digest(),
        "cores": cores(),
        "conf": {
            "master": session["master"],
            "spark.sql.shuffle.partitions": session["shuffle_partitions"],
            **{k: session["extra_conf"][k] for k in keys
               if k in session["extra_conf"]},
        },
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _pss_kb(pid: str) -> int:
    """Proportional resident set of one process: a page shared by n
    processes counts 1/n to each, so a Python worker forked from the
    worker daemon does not count the daemon's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            return next(int(line.split()[1]) for line in f
                        if line.startswith("Pss:"))
    except (OSError, ValueError, StopIteration):
        return 0


def _descendants(root: int) -> list[str]:
    children: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(int(c))
    return out


def stop_spark(spark) -> None:
    """Stop the session, then its JVM and Python workers, and wait for
    every process this one started to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(int(pid), 9)
        except OSError:
            pass


class RssSampler:
    """Peak summed resident memory (PSS) of this process's descendants
    (the driver JVM and its Python workers), sampled from /proc while
    armed."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            if self._armed.is_set():
                kb = sum(_pss_kb(p) for p in _descendants(me))
                self.peak_kb = max(self.peak_kb, kb)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
