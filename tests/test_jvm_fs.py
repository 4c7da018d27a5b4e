"""The engine's local filesystem (``jsmr_spark/jvm/``): a ``get_spark``
session creates files without starting a process, and they get the
modes, bits and ``.crc`` checksums Hadoop's stock local filesystem
gives them.

Process starts are read from a JFR recording of ``jdk.ProcessStart``
events in the driver JVM, opened over py4j."""

from __future__ import annotations

import importlib.util
import os
import shutil
import stat
import zipfile
from contextlib import contextmanager

import pytest

from jsmr_spark import session
from jsmr_spark.registry import get_query
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hadoop_conf(spark):
    return spark._jsparkSession.sessionState().newHadoopConf()


def _engine_fs(spark):
    """The ``file:`` filesystem every Spark writer of the session gets."""
    return spark._jvm.org.apache.hadoop.fs.Path("file:///").getFileSystem(_hadoop_conf(spark))


def _stock_fs(spark):
    """Hadoop's own checksummed local filesystem over the stock raw one."""
    fs = spark._jvm.org.apache.hadoop.fs.LocalFileSystem()
    fs.initialize(spark._jvm.java.net.URI("file:///"), _hadoop_conf(spark))
    return fs


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(f"file://{p}")


def _perm(spark, octal: str):
    return spark._jvm.org.apache.hadoop.fs.permission.FsPermission(octal)


def _mode(p) -> int:
    return stat.S_IMODE(os.stat(p).st_mode)


@contextmanager
def _chmod_starts(spark, tmp_path):
    """Yield a list that, after the block, holds the command line of every
    ``chmod`` process the driver JVM started inside it."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    starts: list[str] = []
    dump = jvm.java.io.File(str(tmp_path / "starts.jfr")).toPath()
    rec.start()
    try:
        yield starts
    finally:
        rec.stop()
        rec.dump(dump)
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    commands = (events.get(i).getString("command") for i in range(events.size()))
    starts.extend(c for c in commands if c.startswith("chmod "))


def test_get_spark_pins_engine_local_filesystem(spark):
    assert spark.conf.get("spark.hadoop.fs.file.impl") == session.LOCAL_FS_CLASS
    assert _engine_fs(spark).getClass().getName() == session.LOCAL_FS_CLASS
    assert _engine_fs(spark).getRaw().getClass().getName() == f"{session.LOCAL_FS_CLASS}$Raw"


def test_created_file_and_dir_get_stock_modes(spark, tmp_path):
    modes = {}
    for name, fs in (("engine", _engine_fs(spark)), ("stock", _stock_fs(spark))):
        base = tmp_path / name
        base.mkdir()
        assert fs.mkdirs(_path(spark, base / "dir"))
        fs.create(_path(spark, base / "f")).close()
        assert (base / ".f.crc").exists()
        modes[name] = {p: _mode(base / p) for p in ("dir", "f", ".f.crc")}
    assert modes["engine"] == modes["stock"]


def test_explicit_permission_reaches_the_file(spark, tmp_path):
    fs = _engine_fs(spark)
    fs.create(_path(spark, tmp_path / "f")).close()
    fs.setPermission(_path(spark, tmp_path / "f"), _perm(spark, "640"))
    assert _mode(tmp_path / "f") == 0o640
    assert fs.getFileStatus(_path(spark, tmp_path / "f")).getPermission().toShort() == 0o640


def test_sticky_bit_takes_the_inherited_path(spark, tmp_path):
    """NIO cannot set the sticky bit, so such a mode goes to Hadoop's
    own ``chmod`` process and keeps every bit."""
    d = tmp_path / "sticky"
    d.mkdir()
    with _chmod_starts(spark, tmp_path) as starts:
        _engine_fs(spark).setPermission(_path(spark, d), _perm(spark, "1777"))
    assert stat.S_IMODE(os.stat(d).st_mode) == 0o1777
    assert len(starts) == 1 and starts[0].endswith(str(d))


def test_sink_parquet_starts_no_chmod(spark, tmp_path):
    """The stock filesystem starts one ``chmod`` per file and directory
    the write and its commit create (18 on a first ``sink_parquet``).
    The sticky-bit call is the control: the recording does see a
    ``chmod`` start when one happens."""
    control = tmp_path / "control"
    control.mkdir()
    with _chmod_starts(spark, tmp_path) as starts:
        assert get_query("sink_parquet").fn(spark, SF_DIR).count() > 0
        _engine_fs(spark).setPermission(_path(spark, control), _perm(spark, "1755"))
    assert len(starts) == 1 and starts[0].endswith(str(control))


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH to compile the sources")
def test_committed_jar_matches_sources(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "build_jar", os.path.join(ROOT, "tools", "build_jar.py")
    )
    build_jar = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build_jar)
    build_jar.compile_classes(str(tmp_path))
    compiled = {
        os.path.relpath(os.path.join(d, f), tmp_path): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(tmp_path)
        for f in files
    }
    with zipfile.ZipFile(session.LOCAL_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert compiled and committed == compiled
