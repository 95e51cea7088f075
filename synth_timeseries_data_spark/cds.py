"""Class-data-sharing archive for the driver JVM that ``get_session`` launches.

A cold driver JVM loads, parses and verifies ~17k classes before its first
job finishes (FLOOR.md "Cold-path layers"). A JDK 17 dynamic AppCDS archive
holds that work already done: a JVM started with ``-XX:SharedArchiveFile``
maps it instead. The archive is valid only for the JDK, the exact classpath
(each jar's path, size and mtime) and the flags it was recorded with
(including the compressed-oops mode the heap size implies), so it lives in
the checkout's gitignored ``_build/`` under a key hashed from all three, as
``cds-<key>-<bytes>.jsa``. HotSpot maps the regions its header
names without checking the file holds them, so a truncated archive kills the
JVM with SIGBUS; the byte count in the name and the archive's magic number
are checked before every launch, and an archive that fails either check is
treated as missing (and recorded again).

When no archive exists for the key, the first process to claim
``cds-<key>.lock`` records it: its JVM starts with
``-XX:+RecordDynamicDumpInfo``, and at interpreter exit, while the JVM is
still up, a ``VM.cds dynamic_dump`` diagnostic command writes the archive to
a temp file that is renamed into place, so an archive appears complete or
not at all. Every later process maps it. The claim is an ``flock``,
which the kernel releases when its holder dies, so a claimant killed
mid-record leaves nothing to take over by hand; a process that finds the
claim held launches without the archive. Publishing prunes other keys'
archives.

The JVM's classpath must hold no non-empty directory, or HotSpot refuses to
dump ("Cannot have non-empty directory in paths"). The launcher puts the
Spark conf directory first on it, so the plan is made only when that
directory holds nothing but ``*.template`` files (then nothing Spark reads
from it can change), and the launch points ``SPARK_CONF_DIR`` at an empty
directory instead. The archive only changes how the JVM loads its own
classes, never a result; an archive HotSpot cannot use (its header names
another JDK, classpath or flag set, or is not an archive header at all) is
ignored, and the JVM starts as if it were absent.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import re
import shutil
import struct
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# Unified logging prints CDS diagnostics on the JVM's stdout, which is the
# CLI's stdout: a dump logs hundreds of `[warning][cds]` lines (the signed
# janino jar, pre-JDK-6 generated accessors, optional classes that do not
# verify), and an archive HotSpot rejects logs why.
_QUIET = "-Xlog:cds*=off -Xlog:class+path=off"
_RECORD = "-XX:+RecordDynamicDumpInfo " + _QUIET

# The first four bytes of a JDK 17 dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC).
_MAGIC = struct.pack("<I", 0xF00BABA8)

# Environment the launcher appends to the classpath (directories, usually):
# a launch that reads any of them gets no archive.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


@dataclass
class Plan:
    """How to launch one driver JVM with the archive of its key."""

    conf_dir: str  # the empty directory the launch uses as SPARK_CONF_DIR
    java_options: str  # spark.driver.defaultJavaOptions
    stem: str  # _build/cds-<key>
    lock_fd: int | None = None  # held while this process records the archive

    def record_at_exit(self) -> None:
        """Dump the archive when the interpreter exits. Registered after the
        session (and any exit hook PySpark registers) exists, so it runs
        first, while the JVM is still up."""
        if self.lock_fd is not None:
            atexit.register(self._record)

    def _record(self) -> None:
        tmp = self.stem + ".jsa.tmp"
        try:
            _dynamic_dump(tmp)
            archive = f"{self.stem}-{os.path.getsize(tmp)}.jsa"
            os.replace(tmp, archive)
            _prune(os.path.dirname(self.stem), archive)
        except Exception:  # a failed dump leaves the launch as it was
            _remove(tmp)
        finally:
            os.close(self.lock_fd)
            self.lock_fd = None


def _java_home() -> str | None:
    """The JDK ``bin/spark-class`` runs: ``$JAVA_HOME`` or ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _archive_key(java_home: str, paths: list[str], flags: str) -> str:
    """Hash of the JDK's runtime image, each classpath entry's path, size and
    mtime (a directory's path only: it must be empty) and the JVM flags."""
    h = hashlib.sha256(flags.encode())
    jdk = [os.path.join(java_home, "lib", f) for f in ("modules", "server/libjvm.so")]
    for path in jdk + paths:
        try:
            st = os.stat(path)
            sig = "dir" if os.path.isdir(path) else f"{st.st_size}:{st.st_mtime_ns}"
        except OSError:
            sig = "missing"
        h.update(f"\n{path}\0{sig}".encode())
    return h.hexdigest()[:16]


def _templates_only(conf_dir: str) -> bool:
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def plan(build: str, jar: str, driver_mem: str) -> Plan | None:
    """The archive options for a JVM about to be launched with ``jar`` on its
    classpath, claiming the recording if no archive exists yet; None when
    the launch cannot take an archive."""
    java_home = _java_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    if (
        java_home is None
        or any(os.environ.get(v) for v in _CLASSPATH_ENV)
        or not _templates_only(conf)
    ):
        return None
    empty = os.path.join(build, "conf")
    try:
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
    except OSError:
        return None
    # the driver classpath the launcher builds: spark.driver.extraClassPath,
    # the conf directory, then every jar of $SPARK_HOME/jars
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "*")))
    paths = [jar, empty, *jars]
    # An archive holds narrow class and object pointers, so a heap too large
    # for compressed oops cannot map one recorded under a smaller heap.
    flags = f"{_RECORD}\ncompressed_oops={_heap_bytes(driver_mem) < 32 << 30}"
    stem = os.path.join(build, "cds-" + _archive_key(java_home, paths, flags))
    archive = _archive(stem)
    if archive is None:
        fd = _claim(stem + ".lock")
        if fd is None:
            return None
        archive = _archive(stem)  # published while we took the claim?
        if archive is None:
            return Plan(empty, _RECORD, stem, fd)
        os.close(fd)
    return Plan(empty, f"-XX:SharedArchiveFile={archive} {_QUIET}", stem)


def _heap_bytes(mem: str) -> int:
    """Bytes of a JVM memory size such as ``1g`` or ``1968m`` (no suffix:
    bytes); an unparsable size reads as 0, which the launch rejects anyway."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", mem.strip().lower())
    if m is None:
        return 0
    return int(m.group(1)) << (10 * " kmgt".index(m.group(2) or " "))


def _archive(stem: str) -> str | None:
    """The archive recorded under ``stem`` whose size is the one its name
    states and which starts with the dynamic-archive magic, if there is one."""
    for path in glob.glob(glob.escape(stem) + "-*.jsa"):
        try:
            with open(path, "rb") as fh:
                if (
                    os.fstat(fh.fileno()).st_size
                    == int(path[len(stem) + 1 : -len(".jsa")])
                    and fh.read(len(_MAGIC)) == _MAGIC
                ):
                    return path
        except (OSError, ValueError):
            pass
    return None


def _claim(lock: str) -> int | None:
    """An exclusive, non-blocking ``flock`` on ``lock``: the open descriptor,
    or None when another live process holds it."""
    try:
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    except OSError:
        return None
    try:
        fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        os.close(fd)
        return None
    return fd


def _dynamic_dump(path: str) -> None:
    """Run ``VM.cds dynamic_dump <path>`` in the session's JVM. py4j cannot
    call the platform MBeanServer's own class (its package is not exported),
    so the call goes through the public ``javax.management.MBeanServer``
    interface's ``invoke`` method by reflection."""
    gw, jvm = SparkContext._gateway, SparkContext._jvm
    cls = jvm.java.lang.Class.forName

    def array(kind, *items):
        arr = gw.new_array(kind, len(items))
        for i, item in enumerate(items):
            arr[i] = item
        return arr

    invoke = cls("javax.management.MBeanServer").getMethod(
        "invoke",
        array(
            jvm.java.lang.Class,
            cls("javax.management.ObjectName"),
            cls("java.lang.String"),
            cls("[Ljava.lang.Object;"),
            cls("[Ljava.lang.String;"),
        ),
    )
    system = jvm.java.lang.System
    out = system.out
    # the command prints "Dynamic dump to file ..." on System.out
    system.setOut(jvm.java.io.PrintStream(jvm.java.io.OutputStream.nullOutputStream()))
    try:
        invoke.invoke(
            jvm.java.lang.management.ManagementFactory.getPlatformMBeanServer(),
            array(
                jvm.java.lang.Object,
                jvm.javax.management.ObjectName(
                    "com.sun.management:type=DiagnosticCommand"
                ),
                "vmCds",
                array(
                    jvm.java.lang.Object,
                    array(jvm.java.lang.String, "dynamic_dump", path),
                ),
                array(jvm.java.lang.String, "[Ljava.lang.String;"),
            ),
        )
    finally:
        system.setOut(out)
    if not os.path.isfile(path):
        raise OSError(f"no archive at {path}")


def _prune(build: str, keep: str) -> None:
    """Remove every archive but ``keep`` (a JVM that maps one keeps its
    mapping), and other keys' temp files and claims that no live process
    holds."""
    for path in glob.glob(os.path.join(build, "cds-*.jsa")):
        if path != keep:
            _remove(path)
    for lock in glob.glob(os.path.join(build, "cds-*.lock")):
        stem = lock[: -len(".lock")]
        if keep.startswith(stem + "-"):
            continue
        fd = _claim(lock)
        if fd is not None:
            try:
                _remove(stem + ".jsa.tmp")
                _remove(lock)
            finally:
                os.close(fd)


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass
