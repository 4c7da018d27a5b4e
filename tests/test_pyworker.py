"""jsmr_spark.pyworker: the Python worker daemon of get_spark sessions.

The zipimport checks run in a fresh interpreter so this process's own
zipimporter stays unpatched."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GATE_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    zp = os.path.join(sys.argv[1], "lib.zip")

    def write(files):
        with zipfile.ZipFile(zp, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)

    files = {"pkg/__init__.py": "", "pkg/a.py": "A = 1\\n"}
    write(files)
    sys.path.insert(0, zp)
    import pkg.a  # one root importer, one "pkg/" prefix importer

    stock = zipimport.zipimporter.invalidate_caches
    import jsmr_spark.pyworker  # noqa: F401
    if sys.version_info >= (3, 13):
        assert zipimport.zipimporter.invalidate_caches is stock
        print("ok untouched")
        sys.exit(0)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "jsmr_spark.pyworker"

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    importlib.invalidate_caches()  # stamps every importer
    reads.clear()
    importlib.invalidate_caches()
    assert reads == [], reads

    # Rewritten in place: both importers must see the new directory.
    write({**files, "pkg/b.py": "B = 2\\n", "top.py": "T = 3\\n"})
    importlib.invalidate_caches()
    assert reads.count(zp) == 2, reads
    import pkg.b
    import top

    assert (pkg.b.B, top.T) == (2, 3)
    print("ok gated")
    """
)


def test_zip_reread_gate(tmp_path):
    """A second invalidate_caches over an unchanged archive reads no zip
    directory; a rewritten archive is re-read by its root and prefix
    importers alike, so new modules import (addPyFile semantics)."""
    env = {**os.environ, "PYTHONPATH": ROOT}
    out = subprocess.run(
        [sys.executable, "-c", _GATE_SCRIPT, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    expect = "ok untouched" if sys.version_info >= (3, 13) else "ok gated"
    assert out.stdout.strip() == expect


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="wrapper only installed on CPython < 3.13")
def test_session_workers_run_pyworker(spark):
    """get_spark's Python workers are forked from jsmr_spark.pyworker."""
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == ["jsmr_spark.pyworker"]


_CWD_SCRIPT = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    from jsmr_spark import mr
    from jsmr_spark.session import get_spark

    spark = get_spark("pyworker_cwd")
    df = spark.createDataFrame([("a b",), ("b c",), ("c b",)], "text string")
    print(sorted((r.token, r.cnt) for r in mr.wordcount(df).collect()))
    spark.stop()
    """
)


def test_daemon_imports_outside_repo_root(tmp_path):
    """The workers find jsmr_spark through spark.executorEnv.PYTHONPATH,
    not through the driver's cwd or PYTHONPATH."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CWD_SCRIPT, ROOT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.strip().splitlines()[-1] == "[('a', 1), ('b', 3), ('c', 2)]"
