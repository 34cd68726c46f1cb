"""The engine's Python worker daemon (dataquality_spark/workerd.py): the
session forks its workers from it, its purge leaves imports working, and
it starts under spark-submit --py-files with PYTHONPATH unset."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import textwrap

import pytest

from tools.scaling_job import build_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.environ.get("SPARK_SUBMIT", "/opt/spark/bin/spark-submit")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
SPARK_LIB = os.path.join(SPARK_HOME, "python", "lib")
SPARK_ZIPS = sorted(glob.glob(os.path.join(SPARK_LIB, "*.zip")))
SPARK_CORE_JAR = glob.glob(os.path.join(SPARK_HOME, "jars", "spark-core_*.jar"))


def test_python_workers_fork_from_the_engine_daemon(spark):
    def argv0(batches):
        import sys

        import pandas as pd
        for b in batches:
            yield pd.DataFrame({"argv0": [sys.argv[0]] * len(b)})

    rows = spark.range(1).mapInPandas(argv0, "argv0 string").collect()
    assert rows[0].argv0.endswith("dataquality_spark/workerd.py")


@pytest.mark.skipif(not SPARK_ZIPS, reason="no $SPARK_HOME/python/lib archives")
def test_purge_drops_spark_zip_finders_and_imports_still_work():
    # A fresh interpreter with the PYTHONPATH Spark gives its workers:
    # $SPARK_HOME's zips, the spark-core jar, then the engine.
    path = SPARK_ZIPS + SPARK_CORE_JAR + [REPO]
    script = textwrap.dedent(f"""
        import os, sys, zipimport
        import pyspark.sql
        from dataquality_spark import workerd

        def path_zip_finders():
            return [e for e, f in sys.path_importer_cache.items()
                    if isinstance(f, zipimport.zipimporter)
                    and f.archive in {path!r}]

        assert any(e.startswith({SPARK_LIB!r}) for e in path_zip_finders())
        workerd.drop_pythonpath_zip_finders()
        assert not path_zip_finders(), path_zip_finders()
        assert "pyspark.sql.avro" not in sys.modules
        import pyspark.sql.avro.functions as m
        assert m.__file__.startswith({SPARK_LIB!r}), m.__file__
    """)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=REPO,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr


def test_spark_submit_with_py_files_zip_runs_python_tasks(tmp_path):
    # The scaling job's deployment path: the package only as a --py-files
    # zip, submitted from outside the checkout with PYTHONPATH unset, so
    # the workers can start the daemon only through the session's
    # executor PYTHONPATH.
    zip_path = str(tmp_path / "dq.zip")
    build_zip(zip_path)
    (tmp_path / "job.py").write_text(textwrap.dedent("""
        import sys

        import pandas as pd

        from dataquality_spark.session import get_spark

        def argv0(batches):
            for b in batches:
                yield pd.DataFrame({"argv0": [sys.argv[0]] * len(b)})

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        print("ARGV0", spark.range(1).mapInPandas(argv0, "argv0 string").first()[0])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "1g",
         "--py-files", zip_path, "job.py"],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    assert f"ARGV0 {zip_path}/dataquality_spark/workerd.py" in out.stdout
