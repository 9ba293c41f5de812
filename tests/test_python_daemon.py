"""The Python-worker daemon (dumpty_spark/python_daemon.py) against the
session's real daemon: a reused worker's task re-reads no unchanged
archive directory and collects no preloaded heap, while a rewritten
archive and a zip shipped by ``addPyFile`` still import."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def daemon_spark(spark):
    if spark.conf.get("spark.python.daemon.module") != "dumpty_spark.python_daemon":
        pytest.skip("the session runs another Python-worker daemon")
    return spark


def _in_worker(spark, fn):
    """``fn()`` run inside one Python-worker task; its result through
    JSON. ``fn`` must be a builtin or a function defined in a test body
    (this module is not importable in the worker)."""
    import pandas as pd

    def task(batches):
        for _ in batches:
            pass
        yield pd.DataFrame({"out": [json.dumps(fn())]})

    (row,) = spark.range(0, 1, 1, 1).mapInPandas(task, "out string").collect()
    return json.loads(row["out"])


def test_reused_worker_rereads_no_unchanged_archive(daemon_spark):
    # defined here, not at module level: the test module is not
    # importable in the worker, so the function must pickle by value
    def _reread_count():
        import importlib
        import zipimport

        archives = {
            f.archive
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter)
        }
        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return {"archives": sorted(archives), "reads": reads}

    first = _in_worker(daemon_spark, _reread_count)
    if not first["archives"]:
        pytest.skip("no zip archive on the workers' sys.path (SPARK_HOME unset)")
    again = _in_worker(daemon_spark, _reread_count)
    assert first["reads"] == []
    assert again["reads"] == []


def test_worker_heap_is_frozen(daemon_spark):
    import gc

    assert _in_worker(daemon_spark, gc.get_freeze_count) > 0


def test_add_py_file_after_workers_started(daemon_spark, tmp_path):
    _in_worker(daemon_spark, os.getpid)  # workers are up before the zip ships
    mod = f"graft_shipped_{uuid.uuid4().hex}"
    shipped = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(shipped, "w") as z:
        z.writestr(f"{mod}.py", "VALUE = 42\n")
    daemon_spark.sparkContext.addPyFile(str(shipped))

    def read_value():
        import importlib

        return importlib.import_module(mod).VALUE

    assert _in_worker(daemon_spark, read_value) == 42


def test_rewritten_archive_is_reread(tmp_path):
    """An archive on sys.path that is rewritten with a new module makes
    that module importable after ``importlib.invalidate_caches()``."""
    archive = tmp_path / "lib.zip"
    script = textwrap.dedent(
        f"""
        import importlib, sys, zipfile
        import dumpty_spark.python_daemon  # applies the patch on import

        def write(modules):
            with zipfile.ZipFile({str(archive)!r}, "w") as z:
                for name, src in modules.items():
                    z.writestr(name + ".py", src)

        write({{"graft_old": "X = 1\\n"}})
        sys.path.insert(0, {str(archive)!r})
        import graft_old
        importlib.invalidate_caches()  # unchanged: keeps its directory
        write({{"graft_old": "X = 1\\n", "graft_new": "Y = 2\\n"}})
        importlib.invalidate_caches()
        import graft_new
        print(graft_old.X + graft_new.Y)
        """
    )
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "3"
