"""Fixture-table loaders.

The driver materializes a TPC-H-ish star schema plus event/text/vector tables
as one parquet file per table per scale factor (TESTDATA.md). Parquet scans
get predicate pushdown + column pruning from Catalyst for free; callers should
``select`` only needed columns so ``ReadSchema`` stays narrow.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Resolved-relation cache (the engine's catalog): `spark.read.parquet` costs
# ~50 ms of driver work per call (file listing, footer/schema read, py4j
# round-trips) — pure metadata, re-done identically on every query over the
# same immutable fixture. A real engine resolves a table once per catalog
# entry; DuckDB's oracle likewise creates its views once per connection. The
# cache key includes the file's (mtime, size) so a rewritten dataset is
# re-resolved, and the stat() costs microseconds. DataFrames are immutable
# logical plans, so sharing one across queries is safe by construction.
# Keyed WEAKLY on the session object (not id(), which the allocator reuses
# after gc) so entries die with their session.
_LOAD_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _fingerprint(path: str) -> tuple[float, int]:
    """(mtime, size) cache key component. For a directory dataset (a
    Spark-written parquet dir) rewriting part files in place may leave the
    directory's own mtime/size unchanged, so fold in the newest direct
    entry's mtime and the entry count as well."""
    try:
        st = os.stat(path)
    except OSError:
        return 0.0, -1
    mtime, size = st.st_mtime, st.st_size
    if os.path.isdir(path):
        try:
            with os.scandir(path) as it:
                entries = [e.stat().st_mtime for e in it]
            if entries:
                mtime = max(mtime, *entries)
                size += len(entries)
        except OSError:
            pass
    return mtime, size


# Footer memo: file metadata, not session state, so a plain module dict
# keyed by PATH, storing (fingerprint, rows, bytes) — a rewritten dataset
# gets a new fingerprint and re-reads its footers, REPLACING its entry
# (keying by (path, fingerprint) would strand one dead entry per rewrite
# forever in a long generate→query session).
_ROWS_CACHE: dict[str, tuple[tuple, int, int]] = {}


def table_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from parquet FOOTER metadata —
    a pure driver-side stat (<100 ms even for a 17 GB multi-part dataset,
    memoized after the first call), no Spark job.

    Used to size-gate broadcast hints: a hint like ``F.broadcast(bridge)``
    is unconditional — Spark obeys it regardless of actual size — so a
    derived relation that is FACT-proportional (one row per order, one row
    per document) must check the fact table's cardinality before hinting.
    The sf100 ladder caught exactly this: a 150M-row order bridge serialized
    past ``spark.driver.maxResultSize`` (1 GiB) and killed the job.

    Unknown/unreadable footers return ``2**62`` (treat as huge): the safe
    failure mode is *no hint* — the plan stays correct and AQE can still
    broadcast at runtime from observed shuffle stats.
    """
    return _footer_stats(sf_dir, name)[0]


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a fixture table (sum of its part files), from the
    same memoized walk as :func:`table_rows`, so a rewritten dataset is
    re-measured. Unknown or empty datasets read as ``2**62``."""
    return _footer_stats(sf_dir, name)[1]


def _footer_stats(sf_dir: str, name: str) -> tuple[int, int]:
    """(rows, on-disk bytes) of a fixture table from one walk of its part
    files, memoized per path under the dataset fingerprint. Unknown,
    unreadable or part-less datasets read as ``2**62`` for both."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    fp = _fingerprint(path)
    hit = _ROWS_CACHE.get(path)
    if hit is not None and hit[0] == fp:
        return hit[1], hit[2]
    try:
        parts = _part_files(path)
        if not parts:
            # A dataset directory with zero readable footers is
            # UNKNOWN, not empty: keep the no-broadcast fail-safe.
            n = nbytes = 2**62
        else:
            n = _footer_rows(parts)
            nbytes = sum(os.path.getsize(p) for p in parts)
    except Exception:
        n = nbytes = 2**62
    _ROWS_CACHE[path] = (fp, n, nbytes)
    return n, nbytes


def _part_files(path: str) -> list[str]:
    """The parquet part files of ``path``: the file itself, or every part
    under a dataset directory. The walk is RECURSIVE: hive-partitioned
    datasets nest part files under key=value subdirectories, and a
    top-level-only listing would report 0 rows — which downstream size
    gates read as "tiny, safe to broadcast", the exact failure the 2**62
    fail-safe exists to prevent."""
    if not os.path.isdir(path):
        return [path]
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


def _footer_rows(parts: list[str]) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in parts)


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or dataset directory (flat or
    hive-partitioned) from its footers — driver-side, no Spark job, not
    memoized: the counter for datasets a sink has just written
    (:func:`table_rows` is the fixture-table form, memoized per
    fingerprint and fail-safe on unreadable footers; this one raises)."""
    return _footer_rows(_part_files(path))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table from ``{sf_dir}/{name}.parquet``.

    The canonical in-engine type for ``events.ts`` is an epoch-NANOSECOND
    BIGINT (every event query converts with ``ts div 1000`` to the
    microsecond scale, matching the DuckDB oracles' ``epoch_us(ts)``). The
    fixture has shipped two physical encodings across driver generations:

    - INT64 TIMESTAMP(NANOS): Spark 4 rejects it outright unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is on, under which it already
      reads as bigint nanos. The conf is runtime-settable and MUST be set
      here — not only in our session builder — because a grading harness may
      hand us a SparkSession built without it (``getOrCreate`` silently
      ignores configs on an existing session).
    - timestamp[us] (no tz): Spark reads TIMESTAMP_NTZ (or TIMESTAMP when
      NTZ inference is off). Normalize back to bigint nanos here, with
      timezone-free arithmetic for NTZ so the result matches DuckDB's
      naive-as-UTC ``epoch_us`` regardless of the session timezone.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Set the conf unconditionally (before the cache check): callers may rely
    # on load() (re)setting it as a session side effect, and cache hits must
    # not skip it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    per_session = _LOAD_CACHE.setdefault(spark, {})
    key = (sf_dir, name) + _fingerprint(path)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
                * F.lit(1000).cast("bigint"),
            )
        elif isinstance(ts_type, T.TimestampType):
            df = df.withColumn("ts", F.unix_micros("ts") * F.lit(1000).cast("bigint"))
    per_session[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view (for spark.sql use)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
