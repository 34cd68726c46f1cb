"""The engine's Python worker daemon (dataquality_spark/workerd.py): the
session forks its workers from it, they import the installed PySpark
when its version is the archive's and the archive otherwise, the daemon
pre-imports every module the engine's tasks import and freezes them
out of the collector, its purge leaves imports working, and it starts
under spark-submit --py-files with PYTHONPATH unset."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap
import zipfile

import pyspark
import pytest

from tools.scaling_job import build_zip

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.environ.get("SPARK_SUBMIT", "/opt/spark/bin/spark-submit")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
SPARK_LIB = os.path.join(SPARK_HOME, "python", "lib")
SPARK_ZIPS = sorted(glob.glob(os.path.join(SPARK_LIB, "*.zip")))
SPARK_CORE_JAR = glob.glob(os.path.join(SPARK_HOME, "jars", "spark-core_*.jar"))
SPARK_ZIP = os.path.join(SPARK_LIB, "pyspark.zip")


def _worker_pyspark() -> str:
    """The ``pyspark/__init__.py`` a worker should import: the installed
    package's when its version.py is the archive's, else the archive's."""
    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        installed = f.read()
    with zipfile.ZipFile(SPARK_ZIP) as z:
        if z.read("pyspark/version.py") == installed:
            return pyspark.__file__
    return os.path.join(SPARK_ZIP, "pyspark", "__init__.py")


def test_python_workers_fork_from_the_engine_daemon(spark):
    def worker(batches):
        import gc
        import sys

        import pandas as pd
        import pyspark

        for b in batches:
            yield pd.DataFrame({"argv0": [sys.argv[0]] * len(b),
                                "f": [pyspark.__file__] * len(b),
                                "frozen": [gc.get_freeze_count()] * len(b)})

    w = spark.range(1).mapInPandas(worker, "argv0 string, f string, frozen long").first()
    assert w.argv0.endswith("dataquality_spark/workerd.py"), w.argv0
    assert w.f == _worker_pyspark(), w.f
    # the daemon froze what it imported before forking this worker
    assert w.frozen > 0


def test_path_choice_keeps_the_archive_unless_its_version_is_installed(tmp_path):
    # A fresh interpreter with a stand-in archive first on its path, as
    # Spark puts pyspark.zip: the installed copy replaces it only when
    # the two version.py files are the same.
    archive = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__ = '9.9.9'\n")
    script = textwrap.dedent("""
        import sys
        from dataquality_spark import workerd
        sys.path[:] = workerd.installed_over_archives(sys.path)
        import pyspark
        print(pyspark.__file__)
    """)

    def worker_pyspark(installed_version, *flags):
        path = [archive, REPO]
        if installed_version is not None:
            pkg = tmp_path / installed_version / "pyspark"
            pkg.mkdir(parents=True)
            (pkg / "__init__.py").write_text("")
            (pkg / "version.py").write_text(f"__version__ = '{installed_version}'\n")
            path.append(str(pkg.parent))
        env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
        out = subprocess.run([sys.executable, *flags, "-c", script], env=env,
                             cwd=tmp_path, capture_output=True, text=True)
        assert out.returncode == 0, out.stderr
        return out.stdout.strip()

    in_archive = os.path.join(archive, "pyspark", "__init__.py")
    assert worker_pyspark("9.9.9") == str(tmp_path / "9.9.9" / "pyspark" / "__init__.py")
    assert worker_pyspark("1.0.0") == in_archive
    # -S leaves site-packages, and so any installed PySpark, off the path
    assert worker_pyspark(None, "-S") == in_archive


@pytest.mark.skipif(not SPARK_ZIPS, reason="no $SPARK_HOME/python/lib archives")
def test_importing_the_daemon_module_leaves_sys_path_alone():
    path = SPARK_ZIPS + SPARK_CORE_JAR + [REPO]
    script = textwrap.dedent("""
        import sys
        before = list(sys.path)
        import dataquality_spark.workerd
        assert sys.path == before, (before, sys.path)
        assert "pyspark" not in sys.modules
    """)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    out = subprocess.run([sys.executable, "-c", script], env=env, cwd=REPO,
                         capture_output=True, text=True)
    assert out.returncode == 0, out.stderr


def test_daemon_pre_imports_what_the_engine_tasks_import(tmp_path):
    # A fresh session runs a pipeline pass and both audio matchers; its
    # workers must then hold no pandas, pyarrow or engine module that a
    # daemon started by the same worker environment does not import.
    (tmp_path / "job.py").write_text(textwrap.dedent("""
        import json
        import subprocess
        import sys

        import pandas as pd

        from dataquality_spark import harness
        from dataquality_spark.caching import cached, release_all
        from dataquality_spark.datagen.clips import DEFAULT_RUN_TS, clips_df
        from dataquality_spark.operators.audiodedup import (
            audio_fingerprints, fingerprint_pairs, offset_align_pairs,
            offset_fingerprints)
        from dataquality_spark.pipeline import run_pipeline
        from dataquality_spark.session import get_spark

        WATCHED = ("pandas", "pyarrow", "dataquality_spark")
        # a fresh interpreter in the daemon's environment, started as the
        # daemon starts
        DAEMON = ("import json, sys; from dataquality_spark import workerd; "
                  "workerd.warm(); print(json.dumps("
                  "[m for m in sys.modules if m.split('.')[0] in %r]))" % (WATCHED,))

        def worker_modules(batches):
            mods = [m for m in sys.modules if m.split(".")[0] in WATCHED]
            for b in batches:
                yield pd.DataFrame({"m": [json.dumps(mods)] * len(b)})

        def daemon_modules(batches):
            out = subprocess.run([sys.executable, "-c", DAEMON],
                                 capture_output=True, text=True, check=True)
            for b in batches:
                yield pd.DataFrame({"m": [out.stdout] * len(b)})

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        clips = clips_df(spark, 50)
        harness.sink_pass(run_pipeline(clips, DEFAULT_RUN_TS))
        fp = cached(audio_fingerprints(clips))
        harness.force(fingerprint_pairs(fp))
        harness.force(offset_align_pairs(offset_fingerprints(clips)))
        release_all()
        seen = set()
        for r in spark.range(0, 8, 1, 8).mapInPandas(worker_modules, "m string").collect():
            seen.update(json.loads(r.m))
        daemon = spark.range(1).mapInPandas(daemon_modules, "m string").first().m
        print(json.dumps({"workers": sorted(seen), "daemon": json.loads(daemon)}))
        spark.stop()
    """))
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, "job.py"], env=env, cwd=tmp_path,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    mods = json.loads(out.stdout.strip().splitlines()[-1])
    assert "dataquality_spark.operators.enrich" in mods["workers"]
    assert not set(mods["workers"]) - set(mods["daemon"]), sorted(
        set(mods["workers"]) - set(mods["daemon"]))


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

        def pyspark_file(batches):
            import pyspark
            for b in batches:
                yield pd.DataFrame({"f": [pyspark.__file__] * len(b)})

        spark = get_spark(master="local[2]", shuffle_partitions=2)
        print("ARGV0", spark.range(1).mapInPandas(argv0, "argv0 string").first()[0])
        print("PYSPARK", spark.range(1).mapInPandas(pyspark_file, "f string").first()[0])
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]", "--driver-memory", "1g",
         "--py-files", zip_path, "job.py"],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    assert f"ARGV0 {zip_path}/dataquality_spark/workerd.py" in out.stdout
    assert f"PYSPARK {_worker_pyspark()}\n" in out.stdout, out.stdout
