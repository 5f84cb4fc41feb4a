"""Pins for the fork-free local file system
(``mini_pandas_spark/jvm/NioLocalFileSystem.java``) and its build in
``session.local_fs_confs``.

- through the session's Hadoop file system, ``mkdirs``/``create`` with
  an explicit permission leave the same modes on disk (checksum files
  included) as Hadoop's stock local file system; a sticky-bit
  ``setPermission`` takes the stock path;
- a build with the jar cache warm runs no javac, and the confs reach
  the builder with a caller's ``spark.driver.extraClassPath`` kept;
- without javac, with javac failing or timing out, or with an
  unwritable cache, the helper returns no confs and ``get_spark`` builds
  the session exactly as without it (Spark-free).
"""

from __future__ import annotations

import os
import shutil
import stat

import pytest

from mini_pandas_spark import session
from mini_pandas_spark.session import NIO_FS_CLASS

needs_javac = pytest.mark.skipif(shutil.which("javac") is None, reason="no javac on PATH")


@needs_javac
def test_nio_fs_sets_the_modes_the_stock_fs_sets(spark, tmp_path):
    jvm = spark._jvm
    hadoop_fs = jvm.org.apache.hadoop.fs
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert spark.conf.get("spark.hadoop.fs.file.impl", None) == NIO_FS_CLASS
    nio = hadoop_fs.FileSystem.getLocal(conf)
    assert nio.getClass().getName() == NIO_FS_CLASS
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.unset("fs.file.impl")
    stock = hadoop_fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), stock_conf)
    assert stock.getClass().getName() != NIO_FS_CLASS
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission

    modes = {}
    for name, fs in (("nio", nio), ("stock", stock)):
        root = tmp_path / name
        assert fs.mkdirs(hadoop_fs.Path(str(root / "d")), perm(0o750))
        out = fs.create(
            hadoop_fs.Path(str(root / "f")), perm(0o640), True, 4096, 1, 1 << 20, None
        )
        out.write(b"x")
        out.close()
        # mkdirs drops the sticky bit with the umask; setPermission keeps
        # it, through the stock fork, since NIO cannot set it
        sticky = hadoop_fs.Path(str(root / "sticky"))
        assert fs.mkdirs(sticky, perm(0o750))
        fs.setPermission(sticky, perm(0o1750))
        modes[name] = {p.name: stat.S_IMODE(os.stat(p).st_mode) for p in root.iterdir()}
    stock.close()
    assert modes["nio"] == modes["stock"], modes
    assert modes["nio"]["d"] == 0o750
    assert modes["nio"]["f"] == 0o640
    assert modes["nio"]["sticky"] == 0o1750


class _Built(Exception):
    """Raised by the stub builder's ``getOrCreate`` with every conf set."""


class _StubSession:
    """Stands in for ``SparkSession``: records the builder's confs."""

    class _Builder:
        def __init__(self):
            self.confs = {}

        def master(self, _):
            return self

        def appName(self, _):
            return self

        def config(self, k, v):
            self.confs[k] = v
            return self

        def getOrCreate(self):
            raise _Built(self.confs)

    @property
    def builder(self):
        return self._Builder()


def _builder_confs(monkeypatch, **kw) -> dict:
    monkeypatch.setattr(session, "SparkSession", _StubSession())
    with pytest.raises(_Built) as built:
        session.get_spark("stub", cpus=1, **kw)
    return built.value.args[0]


@needs_javac
def test_warm_cache_build_runs_no_javac(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "JAR_CACHE", str(tmp_path / "cache"))
    cold = session.local_fs_confs()
    assert cold["spark.hadoop.fs.file.impl"] == NIO_FS_CLASS
    assert os.path.dirname(cold["spark.driver.extraClassPath"]) == str(tmp_path / "cache")
    assert os.listdir(tmp_path / "cache") == [os.path.basename(cold["spark.driver.extraClassPath"])]

    def no_javac(*a, **k):
        raise AssertionError(f"javac ran with the cache warm: {a}")

    monkeypatch.setattr(session.subprocess, "run", no_javac)
    confs = _builder_confs(monkeypatch, extra_confs={"spark.driver.extraClassPath": "/x.jar"})
    assert confs["spark.hadoop.fs.file.impl"] == NIO_FS_CLASS
    assert confs["spark.driver.extraClassPath"] == (
        "/x.jar" + os.pathsep + cold["spark.driver.extraClassPath"]
    )


def _fake_javac(tmp_path, body: str) -> str:
    bin_dir = tmp_path / "bin"
    bin_dir.mkdir()
    javac = bin_dir / "javac"
    javac.write_text("#!/bin/sh\n" + body + "\n")
    javac.chmod(0o755)
    return str(bin_dir)


@pytest.mark.parametrize("case", ["no javac", "javac fails", "javac times out", "unwritable"])
def test_no_jar_means_no_fs_confs(monkeypatch, tmp_path, case):
    monkeypatch.setattr(session, "JAR_CACHE", str(tmp_path / "cache"))
    if case == "no javac":
        monkeypatch.setenv("PATH", str(tmp_path))
    elif case == "javac fails":
        monkeypatch.setenv("PATH", _fake_javac(tmp_path, "exit 1"))
    elif case == "javac times out":
        monkeypatch.setenv("PATH", _fake_javac(tmp_path, "exec sleep 30"))
        monkeypatch.setattr(session, "JAVAC_TIMEOUT_S", 0.5)
    else:
        if shutil.which("javac") is None:
            pytest.skip("no javac on PATH")
        (tmp_path / "file").write_text("")
        monkeypatch.setattr(session, "JAR_CACHE", str(tmp_path / "file" / "cache"))
    assert session.local_fs_confs() == {}
    confs = _builder_confs(monkeypatch, extra_confs={"spark.driver.extraClassPath": "/x.jar"})
    assert "spark.hadoop.fs.file.impl" not in confs
    assert confs["spark.driver.extraClassPath"] == "/x.jar"
    assert not os.path.exists(tmp_path / "cache") or os.listdir(tmp_path / "cache") == []
