"""rolling_stats / rolling_median vs a direct numpy reimplementation.

Independent W4 semantics check (same pattern as the asof numpy test): the
last-10 rolling frame per series, mean over micro-floored values, and
linear-interpolated quantiles (np.percentile's q·(n−1) rule — the same
position formula the engine's codegen'd lerp replicates from Spark's
Percentile aggregate). Exact for mean/min/max/count; quantiles compared to
1e-12 relative (numpy composes the lerp as lo + frac·(hi−lo) vs the
engine's symmetric form, an ulp-level difference in op order).
"""

from __future__ import annotations

import numpy as np
import pytest

from synth_timeseries_data_spark.queries import all_queries


def _fixture(seed: int):
    rng = np.random.default_rng(seed)
    rows = []
    eid = 0
    for uid in range(1, 4):
        n = int(rng.integers(3, 60))  # includes series shorter than the frame
        tus = np.cumsum(rng.integers(1, 4, size=n)) * 1_000_000
        for t in tus:
            rows.append((eid, int(t), uid, round(float(rng.normal() * 5), 3)))
            eid += 1
    rows.append((eid, 500_000, 9, 2.5))  # singleton series
    return rows


def _numpy_rolling(rows):
    by_user = {}
    for eid, tus, uid, val in rows:
        by_user.setdefault(uid, []).append((tus, eid, val))
    stats, medians = {}, {}
    for uid, evs in by_user.items():
        evs.sort()
        vals = [e[2] for e in evs]
        for i, (_, eid, _) in enumerate(evs):
            frame = np.array(vals[max(0, i - 9) : i + 1])
            micro = np.floor(frame * 1e6).astype(np.int64)
            mean = round(float(micro.sum()) / 1e6 / len(frame), 6) + 0.0
            stats[(uid, eid)] = (mean, frame.min(), frame.max(), len(frame))
            medians[(uid, eid)] = (
                float(np.percentile(frame, 50)),
                float(np.percentile(frame, 90)),
            )
    return stats, medians


@pytest.mark.parametrize("seed", [11, 42])
def test_rolling_matches_numpy_reference(spark, seed, tmp_path):
    rows = _fixture(seed)
    want_stats, want_median = _numpy_rolling(rows)
    sf_dir = str(tmp_path / "sf")
    import os

    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(
        [(e, t * 1000, u, "view", v, None) for e, t, u, v in rows],
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "events.parquet")
    )

    qs = all_queries()
    got_stats = {
        (r.user_id, r.event_id): (r.roll_mean, r.roll_min, r.roll_max, r.roll_n)
        for r in qs["rolling_stats"].build(spark, sf_dir).collect()
    }
    assert set(got_stats) == set(want_stats)
    for k, (mean, mn, mx, n) in want_stats.items():
        g = got_stats[k]
        assert g[0] == mean and g[1] == mn and g[2] == mx and g[3] == n, (k, g)

    got_median = {
        (r.user_id, r.event_id): (r.roll_median, r.roll_p90)
        for r in qs["rolling_median"].build(spark, sf_dir).collect()
    }
    assert set(got_median) == set(want_median)
    for k, (p50, p90) in want_median.items():
        g = got_median[k]
        assert g[0] == pytest.approx(p50, rel=1e-12, abs=1e-12), (k, g, p50)
        assert g[1] == pytest.approx(p90, rel=1e-12, abs=1e-12), (k, g, p90)


def test_acf_matches_numpy_reference(spark, oracle_sf_dir):
    """Independent check of the ACF algebra (not just cross-engine
    equality): per-series lag-k Pearson autocorrelation recomputed in
    numpy from the raw fixture, compared within the FLOOR-micro
    quantization tolerance."""
    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    got = {
        (r.user_id, r.lag): (r.n_pairs, r.acf)
        for r in all_queries()["acf"].build(spark, oracle_sf_dir).collect()
    }
    ev = pd.read_parquet(f"{oracle_sf_dir}/events.parquet")[
        ["user_id", "event_id", "ts", "value"]
    ].sort_values(["user_id", "ts", "event_id"])
    checked = 0
    for uid, g in ev.groupby("user_id"):
        v = g["value"].to_numpy()
        for k in range(1, 9):
            if len(v) <= k:
                assert (uid, k) not in got
                continue
            x, y = v[k:], v[:-k]
            n, a = got[(uid, k)]
            assert n == len(x)
            if np.std(x) == 0 or np.std(y) == 0:
                assert a is None
                continue
            want = float(np.corrcoef(x, y)[0, 1])
            assert abs(a - want) < 1e-4, (uid, k, a, want)
            checked += 1
    assert checked > 500


def test_pacf_matches_float_durbin_levinson(spark, oracle_sf_dir):
    """Independent check of the pacf ALGEBRA (not just cross-engine
    equality): float Durbin-Levinson on the standard biased
    autocovariance estimator, recomputed from the raw fixture in
    numpy, compared within the nano-snap quantization tolerance
    (measured ≤ 1.5e-8 on the fixtures; 1e-5 asserted). Also pins the
    lag-1 identity pacf(1) = r(1)."""
    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    got = {
        (r.user_id, r.lag): r.pacf
        for r in all_queries()["pacf"].build(spark, oracle_sf_dir).collect()
    }
    ev = pd.read_parquet(f"{oracle_sf_dir}/events.parquet")[
        ["user_id", "event_id", "ts", "value"]
    ].sort_values(["user_id", "ts", "event_id"])

    def float_pacf(x: np.ndarray) -> list[float]:
        n = len(x)
        xm = x - x.mean()
        c = [float((xm[k:] * xm[: n - k]).sum()) for k in range(0, 9)]
        if c[0] == 0:
            return [np.nan] * 8
        r = [ck / c[0] for ck in c]
        phis = [r[1]]
        diag = [r[1]]
        for m in range(2, 9):
            s1 = sum(phis[j - 1] * r[m - j] for j in range(1, m))
            s2 = sum(phis[j - 1] * r[j] for j in range(1, m))
            phim = (r[m] - s1) / (1 - s2) if (1 - s2) != 0 else np.nan
            phis = [
                phis[j0] - phim * phis[m - 2 - j0] for j0 in range(len(phis))
            ] + [phim]
            diag.append(phim)
        return diag

    checked = 0
    for uid, g in ev.groupby("user_id"):
        v = g["value"].to_numpy()
        want = float_pacf(v)
        for k in range(1, 9):
            a = got.get((uid, k))
            if len(v) <= k or np.isnan(want[k - 1]):
                continue  # engine yields NULL or the row set differs; the
                # degenerate contract is pinned in test_degenerate_inputs
            if a is None:
                continue  # clamped-to-NULL garbage lag on a degenerate tail
            assert abs(a - want[k - 1]) < 1e-5, (uid, k, a, want[k - 1])
            checked += 1
        # lag-1 identity: pacf(1) == acf-style biased r1 (same snap grain)
        if len(v) > 1 and got.get((uid, 1)) is not None:
            assert abs(got[(uid, 1)] - want[0]) < 1e-5
    assert checked > 500


def _pacf_key(rows):
    """(user_id, lag, IEEE bits or None) — NULL and every bit pattern
    distinct, the driver's value-hash view."""
    import struct

    return [
        (u, lag, struct.pack("<d", v).hex() if v is not None else None)
        for u, lag, v in rows
    ]


def test_pacf_numpy_matches_sql(spark, duck, oracle_sf_dir, tmp_path):
    """The registered pacf (numpy Durbin-Levinson, `_pacf_dl_batches`)
    must reproduce the DuckDB twin's recursive-CTE fold BIT-EXACTLY —
    same rows, same NULLs, same IEEE doubles — on the oracle fixture AND
    on the degenerate series set (constant / singleton / two-point / ramp
    / non-repr constant — the snap-to-NULL and NULL-contamination
    paths)."""
    import duckdb

    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.queries.timeseries import _PACF_DUCK
    from tests.oracle_utils import PACF_DEGENERATE_ROWS, write_events

    build = all_queries()["pacf"].build
    order = " ORDER BY user_id, lag"

    def spark_rows(sf_dir):
        return [
            tuple(r)
            for r in build(spark, sf_dir).orderBy("user_id", "lag").collect()
        ]

    a = spark_rows(oracle_sf_dir)
    b = duck.execute(f"SELECT * FROM ({_PACF_DUCK})" + order).fetchall()
    assert len(a) > 0 and _pacf_key(a) == _pacf_key(b)

    sf_dir = write_events(tmp_path, PACF_DEGENERATE_ROWS)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
        )
        b = con.execute(f"SELECT * FROM ({_PACF_DUCK})" + order).fetchall()
    finally:
        con.close()
    a = spark_rows(sf_dir)
    assert len(a) == 5 * 8 and _pacf_key(a) == _pacf_key(b)


def test_pacf_fold_random_adversarial():
    """Seeded-random adversarial sweep of the numpy-vs-DuckDB fold
    equivalence, driving the Durbin-Levinson TAIL directly over
    constructed rn vectors (no events table): magnitudes across the
    whole snapped range, values AT the ±2e9 snap bound, sparse NULLs at
    every position, and near-tie products — 400 series, bit-equality on
    every emitted double. This is the direct pin on `_pacf_dl_batches`'
    claim that binary HALF_UP emulation and NULL-strict masking replicate
    the SQL fold on ALL inputs, not just fixture-shaped ones."""
    import duckdb
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from synth_timeseries_data_spark.queries.timeseries import (
        _PACF_LAGS,
        _pacf_dl_batches,
        _pacf_dl_duck,
    )

    rng = np.random.default_rng(20260817)
    L = _PACF_LAGS
    series = []
    for uid in range(400):
        if uid % 7 == 0:
            # adversarial: values at/near the snap bounds and tiny ones
            rl = rng.choice(
                [2_000_000_000, -2_000_000_000, 1_999_999_999, 1, -1, 0,
                 999_999_999, 1_000_000_000, 500_000_000],
                size=L,
            ).astype(object)
        elif uid % 7 == 1:
            # near-tie products: multiples of 5e8 make x*y/1e9 land on .5
            rl = (rng.integers(-4, 5, size=L) * 500_000_000).astype(object)
        else:
            rl = rng.integers(-2_000_000_000, 2_000_000_001,
                              size=L).astype(object)
        # sparse NULLs in every regime
        for k in range(L):
            if rng.random() < 0.08:
                rl[k] = None
        series.append((uid, [None if v is None else int(v) for v in rl]))

    rlt = pa.table(
        {"user_id": pa.array([u for u, _ in series], pa.int64()),
         "rl": pa.array([r for _, r in series], pa.list_(pa.int64()))}
    )
    con = duckdb.connect()
    try:
        con.register("rlt", rlt)
        got_sql = con.execute(
            f"SELECT * FROM (WITH RECURSIVE {_pacf_dl_duck().lstrip()})"
            " ORDER BY user_id, lag"
        ).fetchall()
    finally:
        con.close()

    pdf = pd.DataFrame(
        {"user_id": [u for u, _ in series],
         **{f"rn{k}": pd.array([r[k - 1] for _, r in series],
                               dtype="Int64")
            for k in range(1, L + 1)}}
    )
    out = pd.concat(list(_pacf_dl_batches([pdf])), ignore_index=True)
    out = out.sort_values(["user_id", "lag"]).reset_index(drop=True)
    got_np = [
        (int(r.user_id), int(r.lag),
         None if pd.isna(r.pacf) else float(r.pacf))
        for r in out.itertuples(index=False)
    ]

    a, b = _pacf_key(got_sql), _pacf_key(got_np)
    assert len(a) == 400 * L
    assert a == b


def test_cusum_changepoint_semantics(spark):
    """Independent check of the CUSUM algebra on constructed series: a
    planted mean shift is recovered at the exact switch position (numpy
    recomputation of the same integer-cumsum/division-first centering),
    a stationary series scores a small statistic, a constant series
    resolves to cp_pos 1 with NULL stat, and a singleton emits one row
    with NULL stat."""
    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries import _SPARK_D
    from synth_timeseries_data_spark.queries.timeseries import _cusum_sql

    rng = np.random.RandomState(7)
    shifted = np.concatenate([rng.normal(0, 1, 200), rng.normal(3, 1, 100)])
    flat = rng.normal(0, 1, 250)
    rows = []
    for i, v in enumerate(shifted):
        rows.append((1, i, i * 60_000_000_000, float(v)))
    for i, v in enumerate(flat):
        rows.append((2, i, i * 60_000_000_000, float(v)))
    for i in range(20):
        rows.append((3, i, i * 60_000_000_000, 4.25))   # constant
    rows.append((4, 0, 0, 1.5))                          # singleton
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
    spark.createDataFrame(pdf).createOrReplaceTempView("events")
    try:
        got = (
            spark.sql(_cusum_sql(_SPARK_D))
            .toPandas()
            .set_index("user_id")
            .sort_index()
        )
    finally:
        spark.catalog.dropTempView("events")

    # numpy twin of the engine arithmetic for the shifted series
    X = np.floor(shifted * 1e6).astype("int64")
    t = np.arange(1, len(X) + 1)
    C = np.abs(np.cumsum(X).astype(float) - t * (float(X.sum()) / len(X)))
    assert got.loc[1, "cp_pos"] == C.argmax() + 1 == 200
    # analytic magnitude: |S_200| ≈ 200·|0 - grand_mean| = 200, sigma ≈ 1.9,
    # stat ≈ 200/(1.9·√300) ≈ 6.1 — far above the ~1.36 critical value
    assert got.loc[1, "cusum_stat"] > 4
    assert got.loc[2, "cusum_stat"] < 2.5  # stationary: sub-critical
    assert got.loc[3, "cp_pos"] == 1 and pd.isna(got.loc[3, "cusum_stat"])
    assert got.loc[3, "cusum_abs"] == 0.0
    assert got.loc[4, "n_points"] == 1 and pd.isna(got.loc[4, "cusum_stat"])
