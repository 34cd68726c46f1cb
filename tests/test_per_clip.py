"""Every per-clip check (``oracle/clips_cache.PerClip``) gives the same
rows on the Spark executors (``queries._per_clip``) as in the local
oracle mirror, and its oracle frame's columns are the Spark DDL's names.
Each spec runs at 30 clips, which include the planted undecodable
(k=23, 24), silent (k=25) and clipped (k=26) rows, against a fresh cache
directory, so a stale cache cannot hide a mismatch."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from dataquality_spark import queries
from dataquality_spark.oracle import clips_cache

SPECS = {name: spec for name, spec in vars(clips_cache).items()
         if isinstance(spec, clips_cache.PerClip)}


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    def cell(v):
        return tuple(int(x) for x in v) if isinstance(v, (list, np.ndarray)) else v

    return sorted(tuple(cell(v) for v in r) for r in pdf.itertuples(index=False))


@pytest.mark.parametrize("name", sorted(SPECS))
def test_spark_rows_equal_oracle_rows(spark, tmp_path, monkeypatch, name):
    monkeypatch.setattr(clips_cache, "CACHE_DIR", str(tmp_path))
    spec = SPECS[name]._replace(n=30)
    if spec.stem:
        oracle = pd.read_parquet(clips_cache.ensure(spec))
    else:  # the query's oracle is closed-form SQL; check the local rows
        oracle = clips_cache.frame(spec)
    assert list(oracle.columns) == spec.columns
    got = queries._per_clip(spark, spec).toPandas()
    assert list(got.columns) == spec.columns
    assert len(oracle) > 0
    assert _rows(got) == _rows(oracle)
