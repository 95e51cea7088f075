"""As-of band-bound semantics.

The oracle's candidate band is DERIVED from the data (see
queries/timeseries.py::_asof_sql): B = max(rn − #rows below the trailing
2·mean_gap cut) + max tie-group + 1. Two properties pinned here:

1. banded == unbounded (the reference's O(n²) scan, a2.py:162-167) on the
   oracle fixture;
2. banded == unbounded on an ADVERSARIAL fixture whose burst (many rows
   inside one mean gap, plus a tie-run) breaks any fixed small band — the
   old fixture-calibrated 100-row constant is exactly the kind of bound
   this fixture is designed to invalidate.
"""

from __future__ import annotations

import duckdb

from synth_timeseries_data_spark.queries import _DUCK_D
from synth_timeseries_data_spark.queries.timeseries import _ASOF_SPARK, _asof_sql

_BAND_PRED = "p.rn >= c.rn - (SELECT b FROM band) AND "


def _adversarial_rows() -> list[tuple[int, int, int, float]]:
    """(event_id, tus, user_id, value): regular spine → dense burst →
    40-row tie-run → post-burst probes, plus a SINGLETON user (99) whose
    series must be dropped identically by both engines (the Spark plan's
    ANSI-safe NULL mean_gap vs the oracle's HAVING COUNT(*) > 1)."""
    rows = []
    eid = 0
    for i in range(50):
        rows.append((eid, i * 1_000_000, 7, 0.1 * i))
        eid += 1
    t0 = 50 * 1_000_000
    for i in range(260):
        rows.append((eid, t0 + i * 7_700, 7, 1.0 + 0.01 * i))
        eid += 1
    tie_t = t0 + 2_000_000
    for i in range(40):
        rows.append((eid, tie_t, 7, 2.0 + 0.01 * i))
        eid += 1
    for i in range(10):
        rows.append((eid, tie_t + (i + 1) * 1_000_000, 7, 3.0 + 0.1 * i))
        eid += 1
    rows.append((eid, 123_456, 99, 42.0))  # singleton series
    return rows


def _cmp(con) -> None:
    banded = _asof_sql(_DUCK_D)
    assert _BAND_PRED in banded
    unbounded = banded.replace(_BAND_PRED, "")
    a = (
        con.execute(banded)
        .df()
        .sort_values(["user_id", "event_id", "k"])
        .reset_index(drop=True)
    )
    b = (
        con.execute(unbounded)
        .df()
        .sort_values(["user_id", "event_id", "k"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b) > 0
    assert a.equals(b)


def test_banded_asof_equals_unbounded(duck):
    _cmp(duck)


def _adversarial_duck():
    # Register via pandas, not SQL literals: DuckDB parses float VALUES
    # literals as DECIMAL and its decimal→double conversion is off by one
    # ulp for values like 0.1*17 — the frame transfer is bit-exact.
    import pandas as pd

    con = duckdb.connect()
    df = pd.DataFrame(
        _adversarial_rows(), columns=["event_id", "tus", "uid", "val"]
    )
    con.register("events_raw", df)
    con.execute(
        "CREATE VIEW events AS "
        "SELECT event_id, make_timestamp(tus) AS ts, uid AS user_id, val AS value "
        "FROM events_raw"
    )
    return con


def test_banded_asof_equals_unbounded_adversarial_burst():
    """300 rows packed inside ~2 mean gaps (with 40 exact-tie timestamps),
    after a long regular run — the nearest-abs winner for post-burst probes
    sits hundreds of rn behind, so a fixed 100-row band would answer
    wrongly; the derived band must stretch automatically."""
    con = _adversarial_duck()
    _cmp(con)
    con.close()


def test_spark_asof_matches_oracle_on_adversarial_fixture(spark):
    """The rewritten join-free Spark bracket plan (is_start flag, gpay
    carry, reverse-scan run-start selection) vs the DuckDB banded oracle on
    the SAME burst/tie-run/singleton fixture — exact row and value
    equality. Also proves the singleton series neither crashes (ANSI
    DIVIDE_BY_ZERO, ADVICE r5) nor emits rows in either engine."""
    rows = _adversarial_rows()
    sdf = spark.createDataFrame(
        [(e, t * 1000, u, v) for e, t, u, v in rows],
        "event_id BIGINT, ts BIGINT, user_id BIGINT, value DOUBLE",
    )
    sdf.createOrReplaceTempView("events")
    try:
        got = (
            spark.sql(_ASOF_SPARK)
            .toPandas()
            .sort_values(["user_id", "event_id", "k"])
            .reset_index(drop=True)
        )
    finally:
        spark.catalog.dropTempView("events")
    con = _adversarial_duck()
    want = (
        con.execute(_asof_sql(_DUCK_D))
        .df()
        .sort_values(["user_id", "event_id", "k"])
        .reset_index(drop=True)
    )
    con.close()
    assert len(got) == len(want) > 0
    assert 99 not in set(got["user_id"])
    got = got[want.columns.tolist()]
    got = got.astype({c: want[c].dtype for c in want.columns})
    assert got.equals(want)
