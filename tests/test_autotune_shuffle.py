"""Input-sized shuffle DOP (session.tune_for_input big-input tier).

The sf100 ladder showed fixed 32-partition shuffles spilling per-task sorts
at 17 GB (asof_lag 118 s -> 19 s at 256 partitions). The autotune must scale
spark.sql.shuffle.partitions with the input footprint above the small gate,
and restore/keep postures when inputs change within one session.
"""

from __future__ import annotations

import synth_timeseries_data_spark.session as sess


def _with_bytes(monkeypatch, spark, nbytes, sf_dir="/fake/dir"):
    monkeypatch.setattr(sess, "_input_bytes", lambda _d: nbytes)
    sess.tune_for_input(spark, sf_dir)
    return spark.conf.get("spark.sql.shuffle.partitions")


def test_small_input_gets_small_dag(spark, monkeypatch):
    assert _with_bytes(monkeypatch, spark, 1 << 20) == sess._SMALL_SHUFFLE
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


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
    assert spark.conf.get("spark.sql.shuffle.partitions") == sess._SMALL_SHUFFLE
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"


def test_posture_restored_after_big(spark, monkeypatch):
    _with_bytes(monkeypatch, spark, 17 * (1 << 30))
    base = int(sess._session_posture[spark][1])
    assert int(_with_bytes(monkeypatch, spark, 128 << 20)) == base
    # and the cap engages
    assert (
        int(_with_bytes(monkeypatch, spark, 1 << 50)) == sess._MAX_SHUFFLE
    )
