"""The engine's PySpark daemon (goskyr_spark/spark/pydaemon.py): Python
workers keep a zip archive's directory across tasks while the archive
is unchanged, still reread it when it changed, and get_spark selects
the daemon for local masters only."""

import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from goskyr_spark.spark.session import session_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "goskyr_spark.spark.pydaemon"


@pytest.mark.parametrize("master", ["local", "local[1]", "local[4]",
                                    "local[*]", "local[4,2]"])
def test_local_masters_use_the_engine_daemon(master):
    assert session_conf(master, 4)["spark.python.daemon.module"] == DAEMON


@pytest.mark.parametrize("master", ["spark://h:7077", "yarn",
                                    "local-cluster[2,1,1024]",
                                    "k8s://https://h:443", "locally"])
def test_other_masters_keep_the_stock_daemon(master):
    assert "spark.python.daemon.module" not in session_conf(master, 4)


def test_task_keeps_unchanged_archive_directories():
    from goskyr_spark.spark.session import get_spark

    def same_after_invalidate(batches):
        """For every archive the worker holds, whether
        importlib.invalidate_caches() kept its cached directory."""
        import importlib
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        after = zipimport._zip_directory_cache
        yield pa.RecordBatch.from_pydict({
            "archive": list(before),
            "same": [after.get(a) is files for a, files in before.items()]})

    spark = get_spark(app="daemon-tests", master="local[2]",
                      shuffle_partitions=2)
    rows = spark.range(1, numPartitions=1).mapInArrow(
        same_after_invalidate, "archive string, same boolean").collect()
    held = {r.archive: r.same for r in rows}
    assert any(os.path.basename(a) == "pyspark.zip" for a in held), held
    assert all(held.values()), held


def test_changed_archive_is_reread(tmp_path):
    archive = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod_a.py", "X = 1\n")
    script = textwrap.dedent(f"""
        import importlib, sys, zipimport
        from goskyr_spark.spark import pydaemon
        pydaemon.install()
        sys.path.insert(0, {archive!r})
        import mod_a
        importlib.invalidate_caches()  # stamps an archive added after install
        files = zipimport._zip_directory_cache[{archive!r}]
        importlib.invalidate_caches()
        assert zipimport._zip_directory_cache[{archive!r}] is files
        import zipfile
        with zipfile.ZipFile({archive!r}, "w") as z:
            z.writestr("mod_a.py", "X = 1\\n")
            z.writestr("mod_b.py", "Y = 2\\n")
        importlib.invalidate_caches()
        import mod_b
        assert mod_b.Y == 2
        print("ok")
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        cwd=str(tmp_path), env=dict(os.environ, PYTHONPATH=REPO))
    assert out.returncode == 0 and out.stdout == "ok\n", out.stderr
