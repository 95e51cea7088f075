"""Generation-kernel fidelity and property tests (SURVEY.md §5.2.2-3).

The golden corpus is the reference's own pre-generated seed-42 CSVs — the
kernel must reproduce them bit-for-bit for gaussian noise.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from synth_timeseries_data_spark.generation import generate_linear_config, topo_order
from synth_timeseries_data_spark.generation.kernel import compile_equations

_A1 = "/root/reference/Datasets/A1"

# 4-var configs only: the 6-var corpus CSVs predate the current registry —
# they encode X6 = 0.85*X4[t] with fully-resolved contemporaneous deps,
# while the current a1.py declares X6 = 0.85*X5[t] and its reverse-order
# evaluator would zero-fallback that term (the '# Added X4 influence'
# comments at a1.py:48 mark the later edit). Documented by
# test_6var_corpus_predates_current_registry below.
_GOLDEN = [
    (f"{_A1}/Gaussian/4 variable/Lag 2/linear_ts_n500_vars4_lag2.csv", 500, 4, 2),
    (f"{_A1}/Gaussian/4 variable/Lag 2/linear_ts_n5000_vars4_lag2.csv", 5000, 4, 2),
]


@pytest.mark.parametrize("path,n,v,lag", _GOLDEN)
def test_bitexact_vs_reference_csv(path, n, v, lag):
    if not os.path.exists(path):
        pytest.skip(f"golden file absent: {path}")
    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_linear_config(n, v, lag, "gaussian", seed=42)
    assert list(got.columns) == list(ref.columns)
    for c in got.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_6var_corpus_predates_current_registry():
    """The 6-var golden CSVs were generated by an older registry: every row
    satisfies X6 = 0.85*X4[t] + e6 (not the declared 0.85*X5[t]) with
    contemporaneous deps fully resolved. Pin the forensic fact itself; the
    kernel now REPLICATES this vintage (generate_linear_config's quirk
    table) and test_a1_wide_vintages_bitexact pins the bit-equality."""
    path = f"{_A1}/Gaussian/6 variable/lag 2/linear_ts_n1000_vars6_lag2.csv"
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    ref = pd.read_csv(path, float_precision="round_trip")
    R = ref.values[:, :6]
    np.random.seed(42)
    np.random.normal(0, 0.1, 6), np.random.normal(0, 0.1, 6)
    hits = 0
    for t in range(2, 50):
        n = np.random.normal(0, 0.1, 6)
        hits += abs(R[t, 5] - (0.85 * R[t, 3] + n[5])) < 1e-12
    assert hits == 48


def test_student_t_moments():
    """Distribution-level sanity for the t stream (the exact-stream checks
    live in test_a1_wide_vintages_bitexact and the corpus audit): Var ≈
    scale²·df/(df−2) = 0.03, heavier tails than the gaussian."""
    df = generate_linear_config(5000, 4, 2, "student_t", seed=42)
    # X4 is exogenous apart from a lagged term; use the warmup+noise scale.
    resid = df["X4"].values
    assert abs(np.mean(resid)) < 0.02
    assert 0.015 < np.var(resid) < 0.08


def test_topo_order_matches_reference_order():
    program = dict(compile_equations("a1", [
        "X4[t] = 0.25 * X1[t-2] + e4",
        "X3[t] = 0.35 * X4[t] + e3",
        "X2[t] = 0.3 * X3[t-1] + e2",
        "X1[t] = 0.4 * X2[t] + e1",
    ]))
    assert topo_order(program, 4) == [3, 2, 1, 0]


def test_topo_order_raises_on_cycle():
    program = dict(compile_equations(
        "a1", ["X1[t] = 0.5 * X2[t] + e1", "X2[t] = 0.5 * X1[t] + e2"]
    ))
    with pytest.raises(ValueError, match="cycle"):
        topo_order(program, 2)


_A2 = "/root/reference/Datasets/A2"
_A1C = "/root/reference/Datasets/A1C"


@pytest.mark.parametrize(
    "path,n,lag",
    [
        (f"{_A2}/Gaussian error/4 variable/Lag 2/multivariate_ts_n500_vars4_lag2_gaussian.csv", 500, 2),
        (f"{_A2}/Gaussian error/4 variable/Lag 2/multivariate_ts_n5000_vars4_lag2_gaussian.csv", 5000, 2),
    ],
)
def test_a2_linspace_bitexact(path, n, lag):
    """The shipped A2 corpus used evenly-spaced timestamps (every file's
    `time` is exactly linspace(0,100,n)); in linspace mode the irregular
    kernel reproduces it bit-for-bit."""
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_irregular_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_irregular_config(n, 4, lag, "gaussian", 42, ts_mode="linspace")
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_a2_adaptive_timestamp_properties():
    """Current-code timestamp algorithm (a2.py:146-160): gaps ≥ min_gap
    (pre-rescale invariant relaxes to > 0 after rescale), max ≤ total_time,
    strictly increasing."""
    from synth_timeseries_data_spark.generation import irregular_timestamps

    ts = irregular_timestamps(2000, seed=42)
    gaps = np.diff(ts)
    assert (gaps > 0).all()
    assert ts[-1] <= 100.0 + 1e-9
    assert ts[0] >= 0.0
    # before any rescale triggers, the floor is exact; afterwards scaled
    assert np.median(gaps) > 0.01


def _lag_scan(ts, max_lag, mean_diff):
    """The reference's per-step prefix scan (a2.py:162-167), t >= 1."""
    return np.array([
        [np.abs(ts[:t] - (ts[t] - k * mean_diff)).argmin() for k in range(1, max_lag + 1)]
        for t in range(1, len(ts))
    ])


def _midpoint_ties(ts, max_lag, mean_diff):
    """Number of (t, k) whose target sits exactly between two prefix rows."""
    ties = 0
    for t in range(1, len(ts)):
        for k in range(1, max_lag + 1):
            d = np.abs(ts[:t] - (ts[t] - k * mean_diff))
            ties += int((d == d.min()).sum() > 1)
    return ties


def test_lag_table_equals_reference_scan():
    """_lag_table (one searchsorted per config) must pick the same row as
    the reference's argmin scan at every step and lag: on the a2 and c2
    timestamp walks, and on constructed series whose targets land exactly
    on midpoints (argmin's first-index rule sends a tie to the earlier
    row)."""
    from synth_timeseries_data_spark.generation import irregular_timestamps
    from synth_timeseries_data_spark.generation.kernel import (
        _adaptive_timestamps_noreseed,
        _lag_table,
    )

    np.random.seed(42)
    c2_ts = _adaptive_timestamps_noreseed(1000)
    walks = [(irregular_timestamps(1000, seed=42), 4), (c2_ts, 4)]
    for ts, max_lag in walks:
        md = np.mean(np.diff(ts))
        assert (_lag_table(ts, max_lag, md)[1:] == _lag_scan(ts, max_lag, md)).all()

    rng = np.random.RandomState(7)
    tied = [
        (np.arange(300, dtype=float), 3, 0.5),
        (np.arange(300, dtype=float), 3, 1.5),
        (np.cumsum(rng.randint(1, 3, 300) * 0.5), 4, 0.75),
    ]
    for ts, max_lag, md in tied:
        assert _midpoint_ties(ts, max_lag, md) > 0
        assert (_lag_table(ts, max_lag, md)[1:] == _lag_scan(ts, max_lag, md)).all()


def test_a2_exogenous_noise_extra():
    """Quirk Q3: 6-var X5's equation is the literal 'noise_extra' string —
    X5 must be pure noise (uncorrelated with its own past beyond chance)."""
    from synth_timeseries_data_spark.generation import generate_irregular_config

    df = generate_irregular_config(2000, 6, 2, "gaussian", 42)
    x5 = df["X5"].values[2:]
    assert abs(np.corrcoef(x5[1:], x5[:-1])[0, 1]) < 0.08


@pytest.mark.parametrize(
    "path,n,lag",
    [
        (f"{_A1C}/Gaussian/4 variable/Lag 2/linear_ts_with_confounder_n500_vars4_lag2.csv", 500, 2),
        (f"{_A1C}/Gaussian/4 variable/Lag 2/linear_ts_with_confounder_n5000_vars4_lag2.csv", 5000, 2),
    ],
)
def test_a1c_bitexact(path, n, lag):
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_confounded_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_confounded_config(n, 4, lag, "gaussian", 42)
    assert list(got.columns) == list(ref.columns)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


_B1 = "/root/reference/Datasets/B1"
_B2 = "/root/reference/Datasets/B2"
_C1 = "/root/reference/Datasets/C1"
_D1 = "/root/reference/Datasets/D1"


@pytest.mark.parametrize(
    "path,n,v,lag,noise",
    [
        (f"{_B1}/Gaussian error/4 variable/Lag 2/nonlinear_ts_n500_vars4_lag2.csv", 500, 4, 2, "gaussian"),
        (f"{_B1}/Gaussian error/4 variable/Lag 4/nonlinear_ts_n3000_vars4_lag4.csv", 3000, 4, 4, "gaussian"),
        (f"{_B1}/Gaussian error/6 variable/lag 3/nonlinear_ts_n1000_vars6_lag3.csv", 1000, 6, 3, "gaussian"),
        (f"{_B1}/Gaussian error/8 variable/lag 2/nonlinear_ts_n1000_vars8_lag2.csv", 1000, 8, 2, "gaussian"),
        (f"{_B1}/Students t error/4 variable/Lag 2/nonlinear_ts_t_dist_n500_vars4_lag2.csv", 500, 4, 2, "student_t"),
        (f"{_B1}/Students t error/6 variable/lag 4/nonlinear_ts_t_dist_n1000_vars6_lag4.csv", 1000, 6, 4, "student_t"),
        (f"{_B1}/Students t error/8 variable/lag 3/nonlinear_ts_t_dist_n500_vars8_lag3.csv", 500, 8, 3, "student_t"),
    ],
)
def test_b1_bitexact(path, n, v, lag, noise):
    """B1 has no committed generator script; the kernel is reverse-derived
    (b2 equations + regular time) and must match the shipped corpus."""
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_poly_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_poly_config(n, v, lag, noise, seed=42)
    assert list(got.columns) == list(ref.columns)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


@pytest.mark.parametrize(
    "path,n,v,lag,ratio",
    [
        (f"{_B2}/gaussian_30_laplace_70/mixed_ts_n500_vars4_lag2.csv", 500, 4, 2, 0.3),
        (f"{_B2}/gaussian_50_laplace_50/mixed_ts_n500_vars4_lag2.csv", 500, 4, 2, 0.5),
        (f"{_B2}/gaussian_70_laplace_30/mixed_ts_n1000_vars6_lag2.csv", 1000, 6, 2, 0.7),
    ],
)
def test_b2_bitexact(path, n, v, lag, ratio):
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_poly_mixture_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_poly_mixture_config(n, v, lag, ratio, seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


@pytest.mark.parametrize(
    "path,n,lag",
    [
        (f"{_C1}/4 variable/Lag 2/nonlinear_ts_n500_vars4_lag2.csv", 500, 2),
        (f"{_C1}/4 variable/Lag 2/nonlinear_ts_n5000_vars4_lag2.csv", 5000, 2),
    ],
)
def test_c1_bitexact(path, n, lag):
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_trend_season_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_trend_season_config(n, 4, lag, 0.01, 0.5, seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_d1_bitexact_and_bug_replication():
    """Both output files bit-exact — including the corpus-confirmed memo-
    shadowing bug that zeroes X1/X3 after warmup in 4-var configs."""
    base = f"{_D1}/Lag 2/linear_ts_n500_vars4_lag2_gaussian_mcar10"
    if not os.path.exists(f"{base}_complete.csv"):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_mcar_config

    refm = pd.read_csv(f"{base}_missing.csv", float_precision="round_trip")
    refc = pd.read_csv(f"{base}_complete.csv", float_precision="round_trip")
    gm, gc = generate_mcar_config(500, 4, 2, "gaussian", 0.1, seed=42)
    for c in refc.columns:
        assert (gc[c].values == refc[c].values).all(), c
    for c in refm.columns:
        a, b = gm[c].values, refm[c].values
        an, bn = pd.isna(a), pd.isna(b)
        assert (an == bn).all() and (a[~an] == b[~bn]).all(), c
    # the bug's fingerprint
    assert (gc["X1"].values[2:] == 0).all() and (gc["X3"].values[2:] == 0).all()


_D2 = "/root/reference/Datasets/D2"
_C2 = "/root/reference/Datasets/C2"


def test_d2_bitexact_block_missing():
    base = f"{_D2}/Lag 2/nonlinear_ts_n500_vars4_lag2_gaussian_block30"
    if not os.path.exists(f"{base}_complete.csv"):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_block_missing_config

    refm = pd.read_csv(f"{base}_missing.csv", float_precision="round_trip")
    refc = pd.read_csv(f"{base}_complete.csv", float_precision="round_trip")
    gm, gc = generate_block_missing_config(500, 4, 2, "gaussian", 0.3, seed=42)
    for c in refc.columns:
        assert (gc[c].values == refc[c].values).all(), c
    for c in refm.columns:
        a, b = gm[c].values, refm[c].values
        an, bn = pd.isna(a), pd.isna(b)
        assert (an == bn).all() and (a[~an] == b[~bn]).all(), c


def test_c2_bitexact_continuous_seasonality():
    path = f"{_C2}/Gaussian error/Lag 2/nonlinear_ts_n500_vars4_lag2_gaussian.csv"
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_trig_irregular_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_trig_irregular_config(500, 4, 2, "gaussian", seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_d3_bitexact_mixed_missing():
    base = "/root/reference/Datasets/D3/lag 2/nonlinear_ts_n500_vars4_lag2_noise50_mcar10_block5"
    if not os.path.exists(f"{base}_complete.csv"):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_mixed_missing_config

    refm = pd.read_csv(f"{base}_missing.csv", float_precision="round_trip")
    refc = pd.read_csv(f"{base}_complete.csv", float_precision="round_trip")
    gm, gc = generate_mixed_missing_config(
        500, 4, 2, mix_ratio=0.5, mcar_prob=0.10, block_prob=0.05, seed=42
    )
    for c in refc.columns:
        assert (gc[c].values == refc[c].values).all(), c
    for c in refm.columns:
        a, b = gm[c].values, refm[c].values
        an, bn = pd.isna(a), pd.isna(b)
        assert (an == bn).all() and (a[~an] == b[~bn]).all(), c


def test_a1c_hide_u_projection():
    from synth_timeseries_data_spark.generation import generate_confounded_config

    df = generate_confounded_config(100, 4, 2, "gaussian", 42, hide_u=True)
    assert "U" not in df.columns


def test_spark_kernel_matches_direct(spark, smoke_sf_dir):
    """The mapInPandas sweep path must equal the direct kernel for a config."""
    from synth_timeseries_data_spark.queries import all_queries

    df = all_queries()["scm_generate"].build(spark, smoke_sf_dir)
    got = (
        df.where("config_id = 'a1_n500_v4_l2_gaussian' AND var = 'X1'")
        .orderBy("t")
        .toPandas()
    )
    direct = generate_linear_config(500, 4, 2, "gaussian", seed=42)
    assert (got["value"].values == direct["X1"].values).all()
    assert len(got) == 500


def test_every_grid_config_has_equations():
    """Each family reads its own registry entry (its own or the one it
    shares), so ground truth exists for every config the sweep generates."""
    from synth_timeseries_data_spark.dsl.registry import equations
    from synth_timeseries_data_spark.queries.generation import grid

    missing = sorted({(r[0], r[3], r[4]) for r in grid()
                      if not equations(r[0], r[3], r[4])})
    assert not missing, missing


# ---------------------------------------------------------------------------
# Confounded twins (kernel_confounded.py) — bit-exact vs the corpus.
# ---------------------------------------------------------------------------

_D = "/root/reference/Datasets"


def _assert_bitexact(got: pd.DataFrame, path: str):
    if not os.path.exists(path):
        pytest.skip(f"golden file absent: {path}")
    ref = pd.read_csv(path, float_precision="round_trip")
    assert list(got.columns) == list(ref.columns)
    for c in got.columns:
        a, b = got[c].to_numpy(), ref[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.array_equal(np.isnan(a), np.isnan(b)), c
            assert np.allclose(a, b, rtol=0, atol=1e-12, equal_nan=True), c
        else:
            assert np.array_equal(a, b), c


def test_b1c_bitexact():
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_poly_config,
    )

    got = generate_confounded_poly_config(500, 4, 2, "gaussian", seed=42)
    _assert_bitexact(
        got,
        f"{_D}/B1C/Gaussian error/4 variable/Lag 2/"
        "nonlinear_confounded_n500_vars4_lag2_gaussian.csv",
    )


def test_b2c_bitexact_all_mix_ratios():
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_poly_mixture_config,
    )

    for r, d in ((0.3, "gaussian_30_laplace_70"), (0.5, "gaussian_50_laplace_50"),
                 (0.7, "gaussian_70_laplace_30")):
        got = generate_confounded_poly_mixture_config(500, 4, 2, r, seed=42)
        _assert_bitexact(
            got, f"{_D}/B2C/{d}/mixed_confounded_ts_n500_vars4_lag2.csv"
        )


def test_c1c_bitexact():
    """The shipped C1C files carry no trend/seas suffix; the surviving
    content is the (trend=0.01, seasonal=0.5) configuration (verified by
    elimination over the sweep grid)."""
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_trend_season_config,
    )

    got = generate_confounded_trend_season_config(500, 4, 2, 0.01, 0.5, seed=42)
    _assert_bitexact(
        got,
        f"{_D}/C1C/4 Variable/lag 2/nonlinear_ts_with_confounder_n500_vars4_lag2.csv",
    )


def test_c2c_bitexact():
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_trig_irregular_config,
    )

    got = generate_confounded_trig_irregular_config(500, 4, 2, "gaussian", seed=42)
    _assert_bitexact(
        got, f"{_D}/C2C/Gaussian/nonlinear_ts_n500_vars4_lag2_gaussian.csv"
    )


def test_c2c_u_linear_quirk():
    """c2c.py:179-187: the ``expr == 'U[t]'`` test fires before the power
    branch, so declared U[t]^2 terms contribute coef*U[t] LINEARLY. Verify
    the kernel reproduces the quirk (and therefore the corpus) rather than
    the declared square: X3 = 0.35*X4^2 + 0.3*U + trend + season + e3.
    The term goes through the compile and evaluator the kernels run; the
    polynomial grammar (b1c.py) really squares U."""
    from synth_timeseries_data_spark.generation.kernel import _eval

    U = np.array([0.0, 0.0, 3.0])
    X = np.zeros((3, 4))
    for family, want in (("c2c", 0.9), ("d3c", 0.9), ("b1c", 2.7)):
        [(vi, terms)] = compile_equations(family, ["X3[t] = 0.3 * U[t]^2"])
        assert vi == 2 and terms[0][0] == "u"
        got = _eval(terms, vi, X, U, 2, [2], None)
        assert got == pytest.approx(want), family  # c2c/d3c: not 2.7


def test_a2c_compiles_to_no_links():
    """a2c.py's ``'e' not in rhs`` guard drops every registry equation, so
    no A2C config has a link and its data is pure noise (see
    generate_confounded_irregular_config)."""
    from synth_timeseries_data_spark.dsl.registry import equations

    configs = [(v, l) for v in (4, 6, 8) for l in (2, 3, 4)]
    assert all(equations("a2c", v, l) for v, l in configs)
    assert all(compile_equations("a2c", equations("a2c", v, l)) == []
               for v, l in configs)


def test_d1c_bitexact_both_files():
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_mcar_config,
    )

    miss, comp = generate_confounded_mcar_config(500, 4, 2, "gaussian", 0.1, seed=42)
    _assert_bitexact(
        miss, f"{_D}/D1C/Lag 2/linear_ts_n500_vars4_lag2_gaussian_mcar10_missing.csv"
    )
    _assert_bitexact(
        comp, f"{_D}/D1C/Lag 2/linear_ts_n500_vars4_lag2_gaussian_mcar10_complete.csv"
    )


def test_d2c_bitexact_both_files():
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_block_missing_config,
    )

    miss, comp = generate_confounded_block_missing_config(
        500, 4, 2, "gaussian", 0.1, seed=42
    )
    _assert_bitexact(
        miss, f"{_D}/D2C/lag 2/nonlinear_ts_n500_vars4_lag2_gaussian_block10_missing.csv"
    )
    _assert_bitexact(
        comp,
        f"{_D}/D2C/lag 2/nonlinear_ts_n500_vars4_lag2_gaussian_block10_complete.csv",
    )


def test_d3c_bitexact_both_files():
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_mixed_missing_config,
    )

    miss, comp = generate_confounded_mixed_missing_config(
        500, 4, 2, 0.3, 0.05, 0.05, seed=42
    )
    _assert_bitexact(
        miss,
        f"{_D}/D3C/lag 2/nonlinear_ts_n500_vars4_lag2_noise30_mcar5_block5_missing.csv",
    )
    _assert_bitexact(
        comp,
        f"{_D}/D3C/lag 2/nonlinear_ts_n500_vars4_lag2_noise30_mcar5_block5_complete.csv",
    )


def test_confounded_u_is_fully_observed():
    """D-family twins never mask U (d1c.py:246-251, d2c.py:257): the missing
    frame's U column must be NaN-free even at high rates."""
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_mcar_config,
    )

    miss, _ = generate_confounded_mcar_config(300, 4, 2, "gaussian", 0.3, seed=42)
    assert miss["U"].notna().all()
    assert miss[[f"X{i}" for i in (1, 2, 3, 4)]].isna().to_numpy().any()


def test_a2c_bitexact_pure_noise():
    """a2c.py:227-231 skips every equation whose RHS contains 'e'; all
    registry RHSs carry noise terms, so A2C links are EMPTY and the corpus
    is pure noise under the Q4 double re-seed. Bit-exact replication."""
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_irregular_config,
    )

    got = generate_confounded_irregular_config(500, 6, 2, "gaussian", seed=42)
    _assert_bitexact(
        got,
        f"{_D}/A2C/Gaussian error/6 variable/lag 2/"
        "multivariate_ts_n500_vars6_lag2_gaussian_with_confounder.csv",
    )


# ---------------------------------------------------------------------------
# Corpus-vintage and dedicated-t-stream fidelity (full-corpus audit wins;
# scripts/corpus_audit.py found and scripts/… solved these — see
# generate_linear_config's vintage table and kernel._seed_all).
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "v,lag,noise",
    [
        (6, 2, "gaussian"),   # X6<-X4[t] vintage
        (6, 3, "gaussian"),   # current equations, topo order
        (8, 2, "gaussian"),
        (8, 4, "gaussian"),
        (6, 2, "student_t"),  # oldest vintage: X5 pure noise
        (8, 3, "student_t"),  # X5 and X8 pure noise
    ],
)
def test_a1_wide_vintages_bitexact(v, lag, noise):
    sub = "Gaussian" if noise == "gaussian" else "Students t"
    path = (f"/root/reference/Datasets/A1/{sub}/{v} variable/lag {lag}/"
            f"linear_ts_n500_vars{v}_lag{lag}.csv")
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_linear_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_linear_config(500, v, lag, noise, seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_c2_student_t_dedicated_stream_bitexact():
    """The t draws come from a dedicated RandomState(seed) that the
    (global-stream) timestamp draws never advance — scipy's
    stats.t.random_state semantics, reproduced without scipy."""
    path = ("/root/reference/Datasets/C2/Students t/Lag 3/"
            "nonlinear_ts_n500_vars4_lag3_student_t.csv")
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_trig_irregular_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_trig_irregular_config(500, 4, 3, "student_t", seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


@pytest.mark.parametrize("v,lag", [(6, 2), (6, 4), (8, 2), (8, 3)])
def test_c1_wide_bitexact(v, lag):
    """C1 6/8-var registry entries (c1.py:44-107) were previously absent
    from the engine registry; the corpus pins them."""
    path = (f"/root/reference/Datasets/C1/{v} variable/lag {lag}/"
            f"nonlinear_ts_n500_vars{v}_lag{lag}.csv")
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_trend_season_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_trend_season_config(500, v, lag, seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


@pytest.mark.parametrize(
    "v,lag,noise",
    [
        (6, 2, "gaussian"),   # extra-draw X5, block-noise X6
        (8, 2, "gaussian"),   # + block-noise X8
        (6, 3, "gaussian"),   # lag>=3: X4 drops the X5[t-1] feedback term
        (8, 4, "gaussian"),
        (6, 2, "student_t"),  # per-call reseed: X5/X6 constant columns
        (8, 3, "student_t"),
    ],
)
def test_a2_wide_vintages_bitexact(v, lag, noise):
    sub = "Gaussian error" if noise == "gaussian" else "Students t error"
    tag = "gaussian" if noise == "gaussian" else "t"
    path = (f"/root/reference/Datasets/A2/{sub}/{v} variable/lag {lag}/"
            f"multivariate_ts_n500_vars{v}_lag{lag}_{tag}.csv")
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_irregular_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_irregular_config(500, v, lag, noise, 42, ts_mode="linspace")
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_a2_t_percall_degeneracy_is_replicated():
    """The per-call-reseed idiom makes every t-noise call replay the
    stream origin: warmup rows are identical and the exogenous/chain-head
    columns are constants. The corpus embeds this; the kernel must too."""
    from synth_timeseries_data_spark.generation import generate_irregular_config

    got = generate_irregular_config(50, 6, 2, "student_t", 42, ts_mode="linspace")
    # generated region: X5 = the extra draw = stream-origin value, every t
    assert got.X5.iloc[2:].nunique() == 1
    assert (got.loc[0, [f"X{i}" for i in range(1, 7)]].values
            == got.loc[1, [f"X{i}" for i in range(1, 7)]].values).all()


@pytest.mark.parametrize("lag", [2, 3, 4])
def test_a1c_8var_x8_deferral_quirk_bitexact(lag):
    path = (f"/root/reference/Datasets/A1C/Gaussian/8 variable/lag {lag}/"
            f"linear_ts_with_confounder_n500_vars8_lag{lag}.csv")
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation import generate_confounded_config

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_confounded_config(500, 8, lag, "gaussian", 42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c


def test_b1c_student_t_percall_bitexact():
    path = ("/root/reference/Datasets/B1C/Students t error/6 variable/lag 2/"
            "nonlinear_confounded_n500_vars6_lag2_t.csv")
    if not os.path.exists(path):
        pytest.skip("corpus absent")
    from synth_timeseries_data_spark.generation.kernel_confounded import (
        generate_confounded_poly_config,
    )

    ref = pd.read_csv(path, float_precision="round_trip")
    got = generate_confounded_poly_config(500, 6, 2, "student_t", seed=42)
    for c in ref.columns:
        assert (got[c].values == ref[c].values).all(), c
