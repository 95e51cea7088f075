"""Input-sized shuffle DOP (session.tune_for_input).

Below the small gate the DOP is ceil(bytes / 1 MiB), clamped to the core
count, with AQE off: a fixture-scale job pays a per-task floor, so a 271 kB
input shuffles on one partition. The sf100 ladder showed fixed 32-partition
shuffles spilling per-task sorts at 17 GB (asof_lag 118 s -> 19 s at 256
partitions), so above the gate the autotune scales
spark.sql.shuffle.partitions with the input footprint. Both tiers restore /
keep postures when inputs change within one session.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import synth_timeseries_data_spark.session as sess
from synth_timeseries_data_spark.queries import all_queries

from tests.conftest import SF_ORACLE, SF_SMALL


def _with_bytes(monkeypatch, spark, nbytes, sf_dir="/fake/dir"):
    monkeypatch.setattr(sess, "_input_bytes", lambda _d: nbytes)
    sess.tune_for_input(spark, sf_dir)
    return spark.conf.get("spark.sql.shuffle.partitions")


def test_small_input_gets_small_dag(spark, monkeypatch):
    """One partition per started MiB, at least 1, never above the core
    count, monotone in bytes, AQE off everywhere below the gate."""
    cores = spark.sparkContext.defaultParallelism
    mib = sess._SMALL_PARTITION_BYTES
    sizes = [0, 271_000, mib, mib + 1, 2 * mib, 3 * mib + 1, 17 * mib,
             sess._SMALL_INPUT_BYTES - 1]
    dops = []
    for b in sizes:
        dops.append(int(_with_bytes(monkeypatch, spark, b)))
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert dops[:3] == [1, 1, 1]  # sub-MiB inputs shuffle on one partition
    assert dops == sorted(dops)
    assert max(dops) == min(cores, sess._SMALL_INPUT_BYTES // mib)
    assert dops == [max(1, min(cores, -(-b // mib))) for b in sizes]


def test_big_input_scales_partitions(spark, monkeypatch):
    # 17 GB at 64 MB/partition => ~272, well above the session's base DOP
    got = int(_with_bytes(monkeypatch, spark, 17 * (1 << 30)))
    assert got == min(
        sess._MAX_SHUFFLE, 17 * (1 << 30) // sess._TARGET_PARTITION_BYTES
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_mid_input_keeps_session_dop(spark, monkeypatch):
    # above the small gate but under base-DOP x target: keep the session DOP
    base = int(sess._session_posture[spark][1])
    got = int(_with_bytes(monkeypatch, spark, 128 << 20))
    assert got == base


def test_get_session_resets_applied_posture(spark, smoke_sf_dir):
    """get_session on the live session re-applies the builder's confs (AQE
    on, shuffle partitions = cores) behind the tuner's back; the next
    tune_for_input must write the small posture again, not trust its
    record of the one it applied before."""
    sess.tune_for_input(spark, smoke_sf_dir)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert sess.get_session("synth-ts-spark-tests") is spark
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    sess.tune_for_input(spark, smoke_sf_dir)
    # sf0.001 is ~0.5 MB: under one MiB, so one partition
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_posture_restored_after_big(spark, monkeypatch):
    _with_bytes(monkeypatch, spark, 17 * (1 << 30))
    base = int(sess._session_posture[spark][1])
    assert int(_with_bytes(monkeypatch, spark, 128 << 20)) == base
    # and the cap engages
    assert (
        int(_with_bytes(monkeypatch, spark, 1 << 50)) == sess._MAX_SHUFFLE
    )


def test_posture_is_read_at_execution_not_build(spark):
    """The shuffle conf is session-wide and read when a frame is first
    executed: a frame built at sf0.001 and executed after a build at sf0.01
    runs at sf0.01's DOP, and still returns its single-build rows."""
    rollup = all_queries()["metrics_rollup"]
    want = sorted(map(tuple, rollup.build(spark, SF_SMALL).collect()))
    first = rollup.build(spark, SF_SMALL)
    small_dop = spark.conf.get("spark.sql.shuffle.partitions")
    all_queries()["summary_stats"].build(spark, SF_ORACLE)
    oracle_dop = spark.conf.get("spark.sql.shuffle.partitions")
    assert (small_dop, oracle_dop) == (
        "1", str(min(2, spark.sparkContext.defaultParallelism))
    )
    if oracle_dop != small_dop:
        plan = first._jdf.queryExecution().executedPlan().toString()
        assert f", {oracle_dop}), ENSURE_REQUIREMENTS" in plan, plan[:2000]
    assert sorted(map(tuple, first.collect())) == want


def _write_parts(path: str, parts: dict[str, int]) -> int:
    """Write one parquet file per ``relpath: rows`` under ``path``; return
    the bytes written."""
    total = 0
    for rel, rows in parts.items():
        f = os.path.join(path, rel)
        os.makedirs(os.path.dirname(f), exist_ok=True)
        pq.write_table(pa.table({"doc_id": list(range(rows))}), f)
        total += os.path.getsize(f)
    return total


def test_input_bytes_walks_nested_datasets_and_remeasures(tmp_path):
    """No Spark: a hive-partitioned dataset counts its nested part files, a
    rewrite of the same directory is re-measured in-process, and an
    unreadable table or directory reads as the cluster posture."""
    d = str(tmp_path)
    docs = os.path.join(d, "documents.parquet")
    flat = _write_parts(d, {"events.parquet": 50})
    nested = _write_parts(docs, {"lang=en/part-0.parquet": 2000})
    assert sess._input_bytes(d) == flat + nested > flat

    shutil.rmtree(docs)
    nested = _write_parts(
        docs, {"lang=en/part-0.parquet": 10, "lang=de/part-0.parquet": 5000}
    )
    assert sess._input_bytes(d) == flat + nested

    os.makedirs(os.path.join(d, "empty.parquet"))
    assert sess._input_bytes(d) == sess._SMALL_INPUT_BYTES
    assert sess._input_bytes(os.path.join(d, "missing")) == sess._SMALL_INPUT_BYTES
