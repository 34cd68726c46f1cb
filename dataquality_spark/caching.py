"""Persist/unpersist lifecycle for intermediate DataFrames.

Operators persist slim intermediates that feed multiple consumers (dedup
groups/feats/pairs, the shingle inverted index) — without a paired
``unpersist`` a long session running many queries accumulates cached
blocks until the executor store churns under eviction pressure.  Every
``persist`` in this engine goes through :func:`cached`, which registers
the frame; callers release a whole query's caches with
:func:`release_all` once its outputs are materialized.

Wire-up points:

* ``queries.QueryDef.run`` releases the previous query's caches before
  building the next one (the driver's run-collect-run-collect loop means
  the previous result has always been materialized by then).
* ``harness.timed_pass`` (behind ``bench.py`` and ``tools/scaling_job.py``)
  releases after each timed sink pass; ``bench.py`` also releases after
  its audio matchers and its catalog queries.
* pytest releases via an autouse fixture (``tests/conftest.py``).

Releasing early is safe — an unpersisted lazy frame recomputes instead of
failing — so this is a memory-lifecycle tool, never a correctness hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict[int, DataFrame] = {}


def cached(df: DataFrame) -> DataFrame:
    """persist() with registration; MEMORY_AND_DISK so big intermediates
    spill instead of evicting each other at scale.

    Idempotent per logical plan: a frame whose plan is semantically equal
    to one already live is returned as the registered frame instead of
    persisting again — Spark's CacheManager keys cache entries by plan, so
    a second persist of the same plan only produces the
    ``Asked to cache already cached data`` WARN without adding anything.
    A ``semanticHash`` collision merely skips a persist (the frame
    recomputes lazily); never a correctness hazard.
    """
    try:
        h = df.semanticHash()
    except Exception:  # pre-analysis failure etc. — fall back to identity
        h = id(df)
    live = _LIVE.get(h)
    if live is not None:
        return live
    # semanticHash can miss where CacheManager would still match: its
    # cache lookup runs extra plan normalization (e.g. temp-view wrappers
    # are stripped), so the same SQL resolved through a re-registered view
    # hashes differently here yet is "already cached" to the JVM. Ask the
    # CacheManager itself — a cached plan reports a real storage level —
    # and skip the duplicate persist (which would only WARN and no-op).
    try:
        lvl = df.storageLevel
        if lvl.useMemory or lvl.useDisk:
            _LIVE[h] = df
            return df
    except Exception:
        pass
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE[h] = df
    return df


def release_all() -> int:
    """Unpersist every registered frame; returns how many were released."""
    n = 0
    while _LIVE:
        _, df = _LIVE.popitem()
        try:
            df.unpersist()
            n += 1
        except Exception:  # session already stopped — nothing to release
            pass
    return n
