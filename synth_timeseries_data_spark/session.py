"""SparkSession builders.

Local test posture: one JVM, ``local[N]`` threads (N = the process's CPU
affinity count unless ``SPARK_GRAFT_CPUS`` says otherwise); small inputs get
one shuffle partition per ~1 MiB of input, capped at N (``tune_for_input``).
The session keeps every class its plans generate compiled, up to
``_CODEGEN_CACHE_ENTRIES``, so a query rebuilt in a warm session runs
already-loaded, already-JITed code instead of recompiling it with Janino.
A JVM that ``get_session`` launches itself writes ``file:`` paths through
``jvm/NoForkLocalFileSystem.java`` (compiled once per source hash into the
checkout's ``_build/``), which sets file and directory modes in-process
instead of starting a ``chmod`` per path, and maps a class-data-sharing
archive of its classpath (``cds.py``): the first such launch per JDK and
classpath records the archive at interpreter exit, and every later one
starts from the JVM's already-parsed classes (cold ``queries`` set-up
10.1 -> 6.3 s, FLOOR.md). A session that existed before, or a host without
``javac``, keeps Hadoop's stock local FileSystem and no archive; so does a
launch whose Spark conf directory holds anything but ``*.template`` files.
Cluster posture (100 TB): the same code runs unmodified — AQE handles skew and
partition coalescing; all operators avoid driver-side collects and express
plans declaratively so Catalyst can push filters/prune columns.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import weakref

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from . import cds
from .sources.tables import table_bytes

# Python workers start in the driver's cwd with the driver's PYTHONPATH, so
# without the checkout root on their path they find the engine (and its
# worker daemon) only when the driver runs from the checkout.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFileSystem.java"
)
_FS_CLASS = "synth_timeseries_data_spark.jvm.NoForkLocalFileSystem"

# Compiled JVM helpers and the class-data-sharing archive (gitignored).
_BUILD = os.path.join(_REPO_ROOT, "_build")


def _fork_free_fs_jar() -> str | None:
    """The compiled ``_FS_SOURCE`` as ``_build/<source hash>.jar``, compiled on
    first use; None when it cannot be compiled.

    A jar, not a class directory: HotSpot records no class-data-sharing
    archive for a classpath that holds a non-empty directory (``cds``).
    javac writes into a temp directory that is zipped (in-process, no
    fork) into a temp jar, which is then hard-linked into place, so a jar under that name is
    always complete and never replaced: of two processes that compile at
    once, the later link fails and that process uses the winner's jar."""
    javac = shutil.which("javac")
    if javac is None:
        return None
    with open(_FS_SOURCE, "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    jar = os.path.join(_BUILD, digest + ".jar")
    if os.path.isfile(jar):
        return jar
    try:
        os.makedirs(_BUILD, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".javac-", dir=_BUILD)
    except OSError:
        return None
    try:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "--release", "17", "-nowarn",
             # the one jar the source needs (0.75 s; all of jars/* took 1.3 s)
             "-cp", os.pathsep.join(glob.glob(os.path.join(
                 _find_spark_home(), "jars", "hadoop-client-api-*.jar"))),
             "-d", classes, _FS_SOURCE],
            check=True, capture_output=True,
        )
        os.link(shutil.make_archive(os.path.join(tmp, "fs"), "zip", classes), jar)
    except (OSError, subprocess.CalledProcessError):
        pass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return jar if os.path.isfile(jar) else None


def _default_driver_mem() -> str:
    """An eighth of the host's memory, clamped to 1-4 GiB."""
    mem_kb = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    return f"{max(1024, min(4096, mem_kb // 1024 // 8))}m"


def get_session(app_name: str = "synth_timeseries_data_spark") -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    driver_mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    # Shuffle parallelism starts at the core count; tune_for_input resizes
    # it per input (one partition per ~1 MiB below the small gate, capped at
    # the core count; ~64 MB of input per partition above it, where AQE
    # still coalesces further).
    # AQE on is the cluster posture (skew-join splitting, runtime partition
    # coalescing, dynamic broadcast) and measured best in aggregate locally
    # too: its per-exchange stage materialization costs ~100 ms per shuffle
    # boundary on sub-second queries (asof_lag 1.5 s vs 0.9 s without), but
    # turning it off regresses every query that leans on shuffle coalescing
    # (edge_tensor 0.9 s → 1.1 s, ngram_jaccard 0.6 s → 1.2 s) and the
    # derived-candidate joins now carry explicit BROADCAST hints so neither
    # mode mis-plans them. tune_for_input turns it off for small inputs.
    # Correctness is AQE-independent (the one AQE hazard — coalescing the
    # kernel-sweep grid to one partition — cannot arise: the sweep has no
    # exchange at all, one packed VALUES row per task feeding mapInPandas;
    # see sweep in queries/generation.py).
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Fixture events.parquet stores ts as INT64 TIMESTAMP(NANOS), which
        # Spark 4.x rejects by default; read it as an epoch-nanosecond BIGINT
        # (queries convert with `ts div 1000` to the canonical microsecond
        # scale — DuckDB oracles keep epoch_us(ts) since DuckDB reads NANOS
        # natively as TIMESTAMP).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Every Python-worker task calls importlib.invalidate_caches(), which
        # on CPython 3.11 re-parses pyspark.zip's whole directory once per
        # package imported from it: PythonRunner's `Times:` log put boot+init
        # at a median 285 ms per task at local[4] (4 cores). The engine's
        # daemon re-reads an archive only when it changed on disk: 9 ms per
        # task, and the sweep benchmark's steady pass 4.70 -> 3.82 s (median
        # of 30 interleaved runs a side).
        .config(
            "spark.python.daemon.module",
            "synth_timeseries_data_spark.worker_daemon",
        )
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # File-sink commit protocol v2: tasks move output into the final
        # directory at TASK commit, so job commit is O(1) instead of a
        # sequential rename of every task's directory (measured ~20% off
        # each FileFormatWriter job locally; on a cluster the v1 job-commit
        # rename is single-threaded on the driver and scales with task
        # count). Tradeoff: a job that dies mid-write can leave committed
        # task files behind — acceptable for the engine's overwrite-mode
        # sinks, which re-list and replace the directory on retry.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Spark keeps 100 generated classes by default, fewer than one
        # `queries` pass generates, so every warm pass evicted classes the
        # session had built and Janino recompiled them (the numbers are at
        # _CODEGEN_CACHE_ENTRIES). A static SQL conf, read once per JVM when
        # the first plan compiles: unlike the committer protocol, which
        # fast_commit sets on any session, it cannot be applied later, so a
        # session that existed before get_session (the grading driver's
        # vanilla one) keeps Spark's 100.
        .config("spark.sql.codegen.cache.maxEntries", str(_CODEGEN_CACHE_ENTRIES))
    )
    # Without the native libhadoop (NativeCodeLoader.isNativeCodeLoaded()
    # false), Hadoop's local FileSystem sets every mode by starting a `chmod`
    # process: one per data file, .crc file and directory it creates, plus
    # one per partition directory at task commit. At local[4] (4 cores) one
    # `generate --families c2` started 85 and one perfbench `sweep` pass
    # ~404, ~1.9 ms each on task threads; a third of the busy task-thread
    # samples of the partitioned write sat in Shell.runCommand.
    # NoForkLocalFileSystem sets the same bits in-process: `sweep` pass
    # 1.81 -> 1.33 s (10 interleaved pairs, FLOOR.md).
    # Both confs are read only when the JVM starts (the classpath) or the
    # first file: FileSystem is made (the impl, cached JVM-wide), so they go
    # in only when this call launches the JVM: a session or gateway that
    # already exists (a vanilla session handed to __spark_entry__ or built
    # by scripts/driver_gate.py, a spark-submit parent) keeps the stock
    # FileSystem, as it keeps Spark's 100-entry codegen cache, and no conf
    # names a class its JVM cannot load. In local[N] the driver JVM is also
    # the executor.
    # The same goes for the class-data-sharing archive (cds.py): its JVM
    # options apply only to a JVM this call starts. They go in
    # defaultJavaOptions, which the launcher puts before extraJavaOptions,
    # so both apply: a caller's --conf extraJavaOptions (perfbench's heap
    # flags) replaces a builder-set extraJavaOptions outright. Cold
    # `queries` set-up 10.1 -> 6.3 s (median of 10 pairs, FLOOR.md).
    plan = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        jar = _fork_free_fs_jar()
        if jar is not None:
            builder = builder.config("spark.driver.extraClassPath", jar).config(
                "spark.hadoop.fs.file.impl", _FS_CLASS
            )
            plan = cds.plan(_BUILD, jar, driver_mem)
    if plan is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config("spark.driver.defaultJavaOptions", plan.java_options)
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
        try:
            spark = builder.getOrCreate()
        finally:
            if conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
        plan.record_at_exit()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate on a live session re-applies the builder's shuffle and AQE
    # confs over whatever tune_for_input set, so its record of the applied
    # posture no longer holds.
    _applied.pop(spark, None)
    return spark


def fast_commit(spark: SparkSession) -> None:
    """Idempotently apply the v2 file-commit protocol to ANY session.

    `getOrCreate` silently ignores builder configs on an existing session
    and the grading driver hands queries a vanilla session, so write-path
    queries call this directly; the Hadoop conf is runtime-mutable and
    read per write job."""
    spark.sparkContext._jsc.hadoopConfiguration().set(
        "mapreduce.fileoutputcommitter.algorithm.version", "2"
    )


# ---------------------------------------------------------------------------
# Input-stat session tuning (cost-based DOP selection).
# ---------------------------------------------------------------------------

# Below this input footprint AQE's per-exchange stage materialization
# (~0.15-0.2 s per wave, FLOOR.md) costs more than its runtime re-planning
# saves, so small inputs run a plain DAG with AQE off. Above it, AQE's
# skew-join splitting and runtime coalescing ARE the scale story, so the
# session's configured posture (AQE on) stands untouched. 64 MB keeps the
# gate/bench fixtures (0.5-17.5 MB) in the small regime and the sf1/sf10
# scale-ladder tiers (171 MB/1.7 GB) in cluster posture; the gate was set at
# local[32], where AQE off took the 2-4-wave floor-band queries 15-30% down
# at sf0.1 (corpus_filter 0.72->0.53 s, asof_lag 1.12->0.65 s).
_SMALL_INPUT_BYTES = 64 * 1024 * 1024

# Below the gate the shuffle DOP is ceil(input bytes / 1 MiB), at least 1 and
# at most the core count (defaultParallelism). Every job pays a floor that
# grows with its task count (~0.09 s fixed + ~0.012 s per partition at
# local[4], ROADMAP), so fixture-scale shuffles want few partitions, while
# the compute-heavy queries at sf0.1 want every core (embed_decontam 1.62 s
# on 4 partitions vs 3.72 s on 1). 1 MiB puts the benchmark's 271 kB inputs
# and sf0.001 (468 kB) on one partition, sf0.01 (1.9 MB) on two and sf0.1
# (17.5 MB) on every core: the fastest of the whole-registry DOPs measured
# at each tier (FLOOR.md).
_SMALL_PARTITION_BYTES = 1024 * 1024

# Generated classes the session keeps compiled. Measured per registry pass
# (129 queries, build + noop write, local[4]; FLOOR.md): 1639 distinct
# classes at sf0.01, 1631 at sf0.1, and 1705 for one session that runs both
# tiers. At Spark's default of 100 every warm pass recompiled ~1865 of them:
# a warm pass took 64-68 s at sf0.01 and 110-122 s at sf0.1, against
# 38-40 s and 57-68 s with every class kept, for +8-14 MB of metaspace.
# 4096 is 2.4x the two-tier set, headroom for the large tier's AQE plans in
# the same session (unmeasured: the fixtures stop below the 64 MB gate).
_CODEGEN_CACHE_ENTRIES = 4096

# Above the small gate, shuffle DOP must GROW with the input or per-task
# sorts spill: the sf100 ladder (17 GB) at the session's fixed 32 partitions
# put ~1 GB of merged window rows in each sort task — asof_lag 118 s,
# revenue_by_nation 88 s, rolling_median 29 s, all dominated by external-sort
# spill. Re-run at 256 partitions: 19 s / 37 s / 9.5 s. One shuffle partition
# per ~64 MB of on-disk input (compressed parquet widens ~2-4x in flight, so
# this lands near the classic 128-256 MB in-memory target) restores the
# sub-linear decade trend; AQE coalesces the count back down for queries that
# touch only a slice of the directory. This is exactly the knob a cluster job
# sizes first — the ladder just proved the local harness needs the same rule.
_TARGET_PARTITION_BYTES = 64 * 1024 * 1024
_MAX_SHUFFLE = 4096

# Keyed WEAKLY on the session object, not id(): the allocator reuses
# addresses after gc, so an id-keyed entry from a dead session could make
# tune_for_input skip conf writes (or restore a stale posture) on a brand-new
# session that happens to share the address — same hazard sources/tables.py's
# catalog cache guards against.
_applied: "weakref.WeakKeyDictionary[SparkSession, tuple[bool, str]]" = (
    weakref.WeakKeyDictionary()
)
_session_posture: "weakref.WeakKeyDictionary[SparkSession, tuple[str, str]]" = (
    weakref.WeakKeyDictionary()
)


def _input_bytes(sf_dir: str) -> int:
    """On-disk bytes of the ``*.parquet`` tables in ``sf_dir``: the sum of
    :func:`table_bytes`, one recursive walk per table (hive-partitioned
    datasets nest their part files), re-measured whenever a dataset's
    fingerprint changes. An unreadable directory or table reads as
    ``_SMALL_INPUT_BYTES``, i.e. the cluster posture."""
    try:
        with os.scandir(sf_dir) as it:
            names = [
                e.name[: -len(".parquet")]
                for e in it
                if e.name.endswith(".parquet")
            ]
    except OSError:
        return _SMALL_INPUT_BYTES
    total = 0
    for name in names:
        b = table_bytes(sf_dir, name)
        if b >= 2**62:  # table_bytes' "unknown" fail-safe
            return _SMALL_INPUT_BYTES
        total += b
    return total


def tune_for_input(spark: SparkSession, sf_dir: str) -> None:
    """Size shuffle DOP + AQE to the input footprint (driver-side stat).

    Called by the query registry before each build. Below
    ``_SMALL_INPUT_BYTES`` the DOP is ``ceil(bytes / _SMALL_PARTITION_BYTES)``
    clamped to ``[1, defaultParallelism]`` with AQE off; above it, one
    partition per ~64 MB with the session's own AQE setting. The footprint
    is a few stat() calls plus memoized footer walks, and conf writes
    happen only on posture CHANGE. Both branches set both knobs (restoring
    the session's original posture in the large branch) so one session can
    serve mixed input scales — e.g. the sf0.001 gate then the sf10 ladder.

    The confs are session-wide and Spark reads them when a DataFrame is
    first EXECUTED, not when it is built: build A at sf0.001, build B at
    sf0.1, then execute A, and A runs at B's DOP. Results are DOP-invariant
    (tests/test_partitioning_invariance.py), so only A's speed changes."""
    nbytes = _input_bytes(sf_dir)
    small = nbytes < _SMALL_INPUT_BYTES
    if spark not in _session_posture:
        _session_posture[spark] = (
            spark.conf.get("spark.sql.adaptive.enabled", "true"),
            spark.conf.get("spark.sql.shuffle.partitions", "200"),
        )
    orig_aqe, orig_shuffle = _session_posture[spark]
    if small:
        shuffle = str(
            max(1, min(spark.sparkContext.defaultParallelism,
                       -(-nbytes // _SMALL_PARTITION_BYTES)))
        )
    else:
        # big-input tier: one partition per ~64 MB on disk, never below the
        # session's configured DOP, capped to keep task counts sane
        shuffle = str(
            min(_MAX_SHUFFLE,
                max(int(orig_shuffle), nbytes // _TARGET_PARTITION_BYTES))
        )
    if _applied.get(spark) == (small, shuffle):
        return
    spark.conf.set("spark.sql.adaptive.enabled", "false" if small else orig_aqe)
    spark.conf.set("spark.sql.shuffle.partitions", shuffle)
    _applied[spark] = (small, shuffle)
