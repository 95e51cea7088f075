"""The class-data-sharing archive of the driver JVM that ``get_session``
launches (``cds.py``): recorded once per key by one process, mapped by every
later one, and never able to stop a session from starting or change what it
computes. End-to-end tests point ``session._BUILD`` at a temp directory, so
they record and map their own archive, not the checkout's."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from synth_timeseries_data_spark import cds, session
from tests.test_local_fs import REPO, _run, needs_javac

# Starts a JVM through get_session with its build directory at argv[1] and
# reports the archive options it launched with, whether the JVM maps a file
# from that directory, and one query's rows; argv[2] (optional) is a
# `generate` output directory.
_PROBE = """
import json, os, sys
from synth_timeseries_data_spark import session
session._BUILD = sys.argv[1]
spark = session.get_session("cds-probe")
if len(sys.argv) > 2:
    from synth_timeseries_data_spark.__main__ import main
    assert main(["generate", "--families", "c2", "--out", sys.argv[2],
                 "--format", "parquet"]) == 0
rows = spark.range(1000).selectExpr("id % 7 AS k", "id").groupBy("k").agg(
    {"id": "sum"}).orderBy("k").collect()
pid = spark._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({l.split()[-1] for l in fh if sys.argv[1] in l
                     and l.rstrip().endswith(".jsa")})
print(json.dumps({
    "opts": spark.conf.get("spark.driver.defaultJavaOptions", None),
    "mapped": mapped,
    "rows": [list(r) for r in rows],
    "probe_conf": spark.conf.get("spark.cds.test.probe", None),
}))
"""

_ROWS = [[k, sum(i for i in range(1000) if i % 7 == k)] for k in range(7)]


def _probe(build, env=None) -> dict:
    return _run(_PROBE, str(build), env=env)


def _stem(build) -> str:
    """The archive stem a launch from ``build`` uses, found without a JVM."""
    jar = _jar(build)
    p = cds.plan(str(build), jar, "1g")
    assert p is not None and p.lock_fd is not None
    os.close(p.lock_fd)
    return p.stem


def _jar(build) -> str:
    saved = session._BUILD
    session._BUILD = str(build)
    try:
        jar = session._fork_free_fs_jar()
    finally:
        session._BUILD = saved
    assert jar is not None
    return jar


@needs_javac
def test_record_then_map_replaces_a_truncated_archive(tmp_path):
    """A truncated archive (its size is not the one its name states) would
    kill the JVM that maps it with SIGBUS: it reads as missing, so the first
    launch records a complete archive in its place, printing no CDS line,
    and the next launch maps that one and computes the same rows."""
    build = tmp_path / "build"
    stem = _stem(build)
    truncated = f"{stem}-{200 << 20}.jsa"
    with open(truncated, "wb") as fh:
        fh.write(cds._MAGIC + bytes(4096))
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(build), str(tmp_path / "gen")],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "2",
             "SPARK_DRIVER_MEM": "1g"},
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "[cds" not in proc.stdout + proc.stderr
    recorder = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "-XX:+RecordDynamicDumpInfo" in recorder["opts"]
    assert recorder["rows"] == _ROWS
    archive = cds._archive(stem)
    assert archive is not None and not os.path.exists(truncated)
    mapper = _probe(build)
    assert mapper["opts"].startswith(f"-XX:SharedArchiveFile={archive} ")
    assert mapper["mapped"] == [archive]
    assert mapper["rows"] == _ROWS


@needs_javac
def test_unusable_archive_still_starts_and_computes(tmp_path):
    """An archive of the right size and magic that HotSpot cannot use (here
    its header is garbage) is passed to the JVM, which starts without it."""
    build = tmp_path / "build"
    stem = _stem(build)
    junk = cds._MAGIC + b"\xa5" * (1 << 16)
    with open(f"{stem}-{len(junk)}.jsa", "wb") as fh:
        fh.write(junk)
    got = _probe(build)
    assert got["opts"].startswith("-XX:SharedArchiveFile=")
    assert got["mapped"] == []
    assert got["rows"] == _ROWS


def test_garbage_or_truncated_archive_reads_as_missing(tmp_path):
    build = tmp_path / "build"
    build.mkdir()
    stem = str(build / "cds-0123456789abcdef")
    garbage = os.urandom(4096)
    with open(f"{stem}-{len(garbage)}.jsa", "wb") as fh:  # no magic
        fh.write(garbage)
    assert cds._archive(stem) is None
    with open(f"{stem}-{1 << 20}.jsa", "wb") as fh:  # short of its name
        fh.write(cds._MAGIC + bytes(100))
    assert cds._archive(stem) is None
    whole = cds._MAGIC + bytes(100)
    with open(f"{stem}-{len(whole)}.jsa", "wb") as fh:
        fh.write(whole)
    assert cds._archive(stem) == f"{stem}-{len(whole)}.jsa"


@needs_javac
def test_non_template_conf_dir_gets_no_archive_and_still_applies(tmp_path):
    """A conf directory holding anything but ``*.template`` files stays the
    launch's SPARK_CONF_DIR (what Spark reads there must apply), so that
    JVM gets no archive options at all."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cds.test.probe  42\n")
    build = tmp_path / "build"
    env = {"SPARK_CONF_DIR": str(conf)}
    got = _probe(build, env=env)
    assert got == {"opts": None, "mapped": [], "rows": _ROWS, "probe_conf": "42"}
    assert not any(n.startswith("cds-") for n in os.listdir(build))


def test_concurrent_first_launches_make_one_recorder(tmp_path):
    """Two processes planning a launch for the same key at once: one claims
    the recording, the other launches without an archive. The claim dies
    with its holder, so a later launch can take it over."""
    build = tmp_path / "build"
    build.mkdir()
    jar = tmp_path / "fs.jar"
    jar.write_bytes(b"PK\x05\x06" + bytes(18))
    script = (
        "import sys\n"
        "from synth_timeseries_data_spark import cds\n"
        "p = cds.plan(sys.argv[1], sys.argv[2], '1g')\n"
        "print('recorder' if p and p.lock_fd is not None else 'plain', flush=True)\n"
        "sys.stdin.read()\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(build), str(jar)],
            cwd=REPO, env={**os.environ, "PYTHONPATH": REPO},
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    try:
        roles = sorted(p.stdout.readline().strip() for p in procs)
    finally:
        for p in procs:
            p.communicate(timeout=60)
    assert roles == ["plain", "recorder"]
    later = cds.plan(str(build), str(jar), "1g")
    assert later is not None and later.lock_fd is not None
    os.close(later.lock_fd)


def test_archive_key_follows_jar_mtime_and_pointer_mode(tmp_path):
    build = tmp_path / "build"
    build.mkdir()
    jar = tmp_path / "fs.jar"
    jar.write_bytes(b"PK\x05\x06" + bytes(18))

    def stem(mem: str) -> str:
        p = cds.plan(str(build), str(jar), mem)
        assert p is not None and p.lock_fd is not None
        os.close(p.lock_fd)
        return p.stem

    key = stem("1g")
    # every heap small enough for compressed oops shares one archive; a
    # heap too large for them cannot map it
    assert stem("1968m") == stem("4g") == key
    assert stem("48g") != key
    st = os.stat(jar)
    os.utime(jar, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert stem("1g") != key
