"""The ``file:`` FileSystem of a JVM that ``get_session`` launches
(``jvm/NoForkLocalFileSystem.java``): the same files, modes and rename rule
as Spark's stock local FileSystem, with no ``chmod`` process per path; and a
session that existed before ``get_session`` keeps the stock FileSystem."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile

import pytest

from synth_timeseries_data_spark import session
from synth_timeseries_data_spark.__main__ import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="no javac: get_session keeps the stock FileSystem",
)


def _run(script: str, *args: str, env: dict | None = None) -> dict:
    """Run ``script`` in a fresh interpreter (so a fresh JVM) and return the
    JSON object it prints last."""
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script), *args],
        cwd=REPO,
        env={
            **os.environ,
            "PYTHONPATH": REPO,
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_DRIVER_MEM": "1g",
            **(env or {}),
        },
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _file_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )


@needs_javac
def test_shared_session_writes_through_fork_free_fs(spark):
    raw = _file_fs(spark).getRawFileSystem()
    assert raw.getClass().getName() == session._FS_CLASS + "$Raw"


@needs_javac
def test_fork_free_fs_is_one_jar(spark):
    """The compiled FileSystem reaches the driver classpath as one jar, not a
    class directory: HotSpot records no class-data-sharing archive for a
    classpath that holds a non-empty directory."""
    jar = spark.conf.get("spark.driver.extraClassPath")
    assert jar == session._fork_free_fs_jar()
    with zipfile.ZipFile(jar) as zf:
        names = set(zf.namelist())
    cls = session._FS_CLASS.replace(".", "/")
    assert {cls + ".class", cls + "$Raw.class"} <= names


def test_generate_output_modes_match_stock_chmod(spark, tmp_path):
    """Stock chmod sets 0666 & ~umask on files and 0777 & ~umask on
    directories (Hadoop's umask, fs.permissions.umask-mode)."""
    out = str(tmp_path / "gen")
    argv = ["generate", "--families", "d1,c2", "--out", out, "--format", "parquet"]
    assert main(argv) == 0
    jvm = spark._jvm
    umask = jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).toShort()
    n = 0
    for root, dirs, files in os.walk(out):
        for name, want in [(d, 0o777) for d in dirs] + [(f, 0o666) for f in files]:
            path = os.path.join(root, name)
            assert stat.S_IMODE(os.stat(path).st_mode) == want & ~umask, path
            n += 1
    assert n > 100


def test_permission_and_rename_match_stock_fs(spark, tmp_path):
    """Mode by mode (the sticky bit takes the stock fork path, the rest
    NIO) and for rename onto an existing file, the session's FileSystem
    leaves the same state as a stock FileSystem instance."""
    jvm = spark._jvm
    hfs = jvm.org.apache.hadoop.fs
    stock = hfs.FileSystem.getFileSystemClass(
        "file", jvm.org.apache.hadoop.conf.Configuration()
    ).newInstance()
    stock.initialize(
        jvm.java.net.URI("file:///"), spark.sparkContext._jsc.hadoopConfiguration()
    )
    try:
        sides = {"stock": stock, "session": _file_fs(spark)}
        for mode in ("1777", "0750", "0700", "0644"):
            got = {}
            for name, fs in sides.items():
                d = tmp_path / f"{name}_{mode}"
                d.mkdir()
                fs.setPermission(
                    hfs.Path(str(d)), hfs.permission.FsPermission(mode)
                )
                got[name] = stat.S_IMODE(os.stat(d).st_mode)
            assert got == {"stock": int(mode, 8), "session": int(mode, 8)}, mode
        for name, fs in sides.items():
            src, dst = tmp_path / f"{name}_src", tmp_path / f"{name}_dst"
            src.write_text("src")
            dst.write_text("dst")
            assert not fs.rename(hfs.Path(str(src)), hfs.Path(str(dst))), name
            assert (src.read_text(), dst.read_text()) == ("src", "dst"), name
            moved = tmp_path / f"{name}_moved"
            assert fs.rename(hfs.Path(str(src)), hfs.Path(str(moved))), name
            assert moved.read_text() == "src" and not src.exists(), name
    finally:
        stock.close()


@needs_javac
def test_generate_starts_no_chmod_process(tmp_path):
    """A `chmod` shim first on PATH logs every chmod the JVM starts. A
    fresh get_session JVM runs `generate --families c2` with none (the stock
    FileSystem starts 81 at local[2]); the stock RawLocalFileSystem
    afterwards logs one, which shows the shim is the chmod that JVM starts."""
    shim = tmp_path / "bin"
    shim.mkdir()
    (shim / "chmod").write_text(
        '#!/bin/sh\necho "$@" >> "$CHMOD_LOG"\nexec /bin/chmod "$@"\n'
    )
    (shim / "chmod").chmod(0o755)
    log = tmp_path / "chmod.log"
    got = _run(
        """
        import json, os, sys
        from synth_timeseries_data_spark.session import get_session
        from synth_timeseries_data_spark.__main__ import main

        def logged():
            try:
                with open(os.environ["CHMOD_LOG"]) as fh:
                    return len(fh.readlines())
            except FileNotFoundError:
                return 0

        spark = get_session("chmod-count")
        out = sys.argv[1]
        assert main(["generate", "--families", "c2", "--out", out,
                     "--format", "parquet"]) == 0
        generate = logged()
        hfs = spark._jvm.org.apache.hadoop.fs
        raw = hfs.RawLocalFileSystem()
        raw.initialize(spark._jvm.java.net.URI("file:///"),
                       spark.sparkContext._jsc.hadoopConfiguration())
        raw.setPermission(hfs.Path(out), hfs.permission.FsPermission("0755"))
        print(json.dumps({"generate": generate, "control": logged() - generate}))
        """,
        str(tmp_path / "gen"),
        env={
            "PATH": f"{shim}{os.pathsep}{os.environ.get('PATH', '')}",
            "CHMOD_LOG": str(log),
        },
    )
    assert got == {"generate": 0, "control": 1}


def test_vanilla_session_first_keeps_stock_fs(tmp_path):
    """The `__spark_entry__` order: a vanilla session, then get_session. The
    JVM was launched without the compiled class, so no conf may name it,
    and without class-data-sharing options, so none may be claimed."""
    got = _run(
        """
        import json, sys
        from pyspark.sql import SparkSession
        vanilla = SparkSession.builder.master("local[2]").getOrCreate()
        from synth_timeseries_data_spark.session import get_session
        spark = get_session("vanilla-first")
        out = sys.argv[1]
        spark.range(40).selectExpr("id", "id % 4 AS k").write.mode(
            "overwrite").partitionBy("k").parquet(out)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
            spark._jvm.java.net.URI("file:///"), hconf)
        print(json.dumps({
            "rows": spark.read.parquet(out).count(),
            "impl": hconf.get("fs.file.impl"),
            "session_impl": spark.conf.get("spark.hadoop.fs.file.impl", None),
            "raw": fs.getRawFileSystem().getClass().getName(),
            "java_opts": spark.conf.get("spark.driver.defaultJavaOptions", None),
        }))
        """,
        str(tmp_path / "out"),
    )
    assert got == {
        "rows": 40,
        "impl": None,
        "session_impl": None,
        "raw": "org.apache.hadoop.fs.RawLocalFileSystem",
        "java_opts": None,
    }
