"""Confounded-twin recurrence kernels — tier-(b) reference fidelity.

Every family with a hidden confounder U composes an existing mechanism
(linear / polynomial / trig dynamics, regular / irregular sampling, MCAR /
block / mixed masks — all bit-exact in kernel.py) with U-injection: one
extra noise slot per timestep, U written first, U terms evaluated from the
registry. The eight generators here replicate each reference script's exact
draw order; each script's term grammar (the power U keeps, a2c's guard) is
data on its family's grammar in kernel.compile_equations:

- B1C (Codes/b1c.py:95-158): polynomial, regular time, reverse-order eval,
  U enters as coef * U[t]**power (squared per registry).
- B2C (Codes/b2c.py:62-165): B1C dynamics over irregular time with
  Gaussian(+)Laplace mixture noise and nearest-abs lag indices.
- C1C (Codes/c1c.py:130-295): trig + index trend/seasonality, list-order
  eval with direct current-row reads, linear U.
- C2C (Codes/c2c.py:116-310): trig + continuous-time seasonality over
  irregular time. QUIRK: evaluate_term's U branch (c2c.py:179-187) tests
  ``expr == 'U[t]'`` before inspecting '^', so the declared U[t]^2 terms
  evaluate as LINEAR coef*U[t] — the '^' sub-branch is dead code. Replicated.
- D1C (Codes/d1c.py:116-254): linear two-pass scheduling WITH the memo-
  shadowing bug (pass 1 records values under the last SOURCE name,
  d1c.py:160-178), + MCAR on X only; U fully observed.
- D2C (Codes/d2c.py:116-264): B1C-style polynomial irregular + Markov block
  mask on X only; U fully observed.
- D3C (Codes/d3c.py:171-409): C2C-style trig irregular + mixture noise +
  MCAR ∪ block mask. Warmup U draws use include_confounder=True with size 1,
  consuming THREE size-2 arrays per warmup row (d3c.py:188-203,384).
  The C2C linear-U quirk applies (d3c.py:275-283).
- A2C (Codes/a2c.py:116-223): linear + U over irregular time. Its grammar
  drops every registry equation, so the data is pure noise.

All numerics are plain numpy with np.random.seed(seed) — bit-exact against
the reference's seed-42 corpus for gaussian/mixture noise (Student-t uses
scipy's stream in the reference; engine uses numpy standard_t, moments-
tested, same as the non-confounded kernels).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..dsl.registry import equations
from .kernel import (
    _adaptive_timestamps_noreseed,
    _block_pattern,
    _draw,
    _eval,
    _irregular_rows,
    _mixed_noise,
    _poly_steps,
    _program_steps,
    _regular_rows,
    _seed_all,
    _trig_core,
    _two_pass_schedule,
    compile_equations,
    irregular_timestamps,
)


def _frame(X, U, time) -> pd.DataFrame:
    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(X.shape[1])])
    out["U"] = U
    out["time"] = time
    return out


def generate_confounded_poly_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> pd.DataFrame:
    """B1C: polynomial + U^2, regular sampling (b1c.py:95-158). Warmup rows
    interleave an n_vars X draw and a 1-draw U per row (b1c.py:146-148)."""
    eqs = equations("b1c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no b1c registry for ({n_vars}, {max_lag})")
    _seed_all(seed, "percall")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
        U[i] = _draw(noise_type, 1, noise_scale, df)[0]
    _poly_steps(
        X, _regular_rows(n_points, max_lag), max_lag, compile_equations("b1c", eqs),
        lambda: _draw(noise_type, n_vars + 1, noise_scale, df), U,
    )
    return _frame(X, U, np.arange(n_points))


def generate_confounded_poly_mixture_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    mix_ratio: float = 0.5,
    seed: int = 42,
    noise_scale: float = 0.1,
) -> pd.DataFrame:
    """B2C: polynomial + U^2 over irregular time with mixture noise
    (b2c.py:137-165): timestamps first, then interleaved X/U warmup draws,
    then per-t mixture draws of n_vars+1."""
    eqs = equations("b2c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no b2c registry for ({n_vars}, {max_lag})")
    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    ts = _adaptive_timestamps_noreseed(n_points)
    for i in range(max_lag):
        X[i] = _mixed_noise(n_vars, mix_ratio, noise_scale)
        U[i] = _mixed_noise(1, mix_ratio, noise_scale)[0]
    _poly_steps(
        X, _irregular_rows(ts, max_lag), max_lag, compile_equations("b2c", eqs),
        lambda: _mixed_noise(n_vars + 1, mix_ratio, noise_scale), U,
    )
    return _frame(X, U, ts)


def generate_confounded_block_missing_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    block_prob: float = 0.2,
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """D2C: (missing_df, complete_df) — B1C-style polynomial irregular
    dynamics + Markov block mask on X only; U always observed
    (d2c.py:227-264, mask d2c.py:169-195)."""
    eqs = equations("d2c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d2c registry for ({n_vars}, {max_lag})")
    _seed_all(seed, "global")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    ts = _adaptive_timestamps_noreseed(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
        U[i] = _draw(noise_type, 1, noise_scale, df)[0]
    _poly_steps(
        X, _irregular_rows(ts, max_lag), max_lag, compile_equations("d2c", eqs),
        lambda: _draw(noise_type, n_vars + 1, noise_scale, df), U,
    )
    mask = _block_pattern(n_points, n_vars, block_prob)
    Xm = X.copy()
    Xm[mask] = np.nan
    return _frame(Xm, U, ts), _frame(X, U, ts)


# ---------------------------------------------------------------------------
# C1C: trig + trend/season + linear U, regular sampling (c1c.py:130-295).
# ---------------------------------------------------------------------------


def generate_confounded_trend_season_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    trend_strength: float = 0.01,
    seasonal_strength: float = 0.5,
    seasonal_period: int = 12,
    seed: int = 42,
    noise_scale: float = 0.1,
) -> pd.DataFrame:
    """C1C: trig dynamics + index-based trend/seasonality + linear U
    (c1c.py:275-295): warmup rows interleave X/U draws then add trend and
    seasonality to X only; per-t draws of n_vars+1 with U last, list-order
    equation evaluation."""
    eqs = equations("c1c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no c1c registry for ({n_vars}, {max_lag})")
    _seed_all(seed)
    X, U = _trig_core(
        eqs, "c1c", n_points, n_vars, max_lag, None,
        lambda: np.random.normal(0, noise_scale, n_vars + 1),
        lambda: np.random.normal(0, noise_scale, n_vars),
        lambda: np.random.normal(0, noise_scale, 1)[0],
        trend_strength, seasonal_strength, seasonal_period,
    )
    return _frame(X, U, np.arange(n_points))


# ---------------------------------------------------------------------------
# C2C / D3C: trig + continuous-time seasonality over irregular time, with U.
# ---------------------------------------------------------------------------


def generate_confounded_trig_irregular_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    trend_strength: float = 0.01,
    seasonal_strength: float = 0.5,
    seasonal_period: int = 12,
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> pd.DataFrame:
    """C2C (c2c.py:116-310): warmup U draws are plain 1-draws; per-t draws
    are n_vars+1; U effectively linear (see the trig grammar in
    compile_equations)."""
    eqs = equations("c2c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no c2c registry for ({n_vars}, {max_lag})")
    _seed_all(seed)
    ts = _adaptive_timestamps_noreseed(n_points)
    X, U = _trig_core(
        eqs, "c2c", n_points, n_vars, max_lag, ts,
        lambda: _draw(noise_type, n_vars + 1, noise_scale, df),
        lambda: _draw(noise_type, n_vars, noise_scale, df),
        lambda: _draw(noise_type, 1, noise_scale, df)[0],
        trend_strength, seasonal_strength, seasonal_period,
    )
    return _frame(X, U, ts)


def generate_confounded_mixed_missing_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    mix_ratio: float = 0.5,
    mcar_prob: float = 0.05,
    block_prob: float = 0.05,
    trend_strength: float = 0.01,
    seasonal_strength: float = 0.5,
    seasonal_period: int = 12,
    seed: int = 42,
    noise_scale: float = 0.1,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """D3C (d3c.py:171-409): mixture noise everywhere; warmup U rows call
    generate_mixed_noise(1, include_confounder=True), consuming three
    size-2 arrays and keeping the LAST element (d3c.py:188-203, 384);
    per-t draws are single size-(n_vars+1) mixture arrays. MCAR mask draws
    first, then the block walk; union applied to X only (d3c.py:218-245)."""
    eqs = equations("d3c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d3c registry for ({n_vars}, {max_lag})")
    _seed_all(seed)
    ts = _adaptive_timestamps_noreseed(n_points)
    X, U = _trig_core(
        eqs, "d3c", n_points, n_vars, max_lag, ts,
        lambda: _mixed_noise(n_vars + 1, mix_ratio, noise_scale),
        lambda: _mixed_noise(n_vars, mix_ratio, noise_scale),
        lambda: _mixed_noise(2, mix_ratio, noise_scale)[-1],
        trend_strength, seasonal_strength, seasonal_period,
    )
    mcar = np.random.random((n_points, n_vars)) < mcar_prob
    block = _block_pattern(n_points, n_vars, block_prob)
    mask = mcar | block
    Xm = X.copy()
    Xm[mask] = np.nan
    return _frame(Xm, U, ts), _frame(X, U, ts)


# ---------------------------------------------------------------------------
# D1C: linear two-pass + MCAR + U (d1c.py:116-254).
# ---------------------------------------------------------------------------


def generate_confounded_mcar_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    missing_rate: float = 0.2,
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """D1C: (missing_df, complete_df). Replicates d1c.py:135-217 verbatim,
    including the pass-1 memo-shadowing bug (the inner loop reassigns
    ``var_name`` to the SOURCE variable, so the computed value is recorded
    under the wrong key and pass 2 recomputes/skips the wrong set —
    corpus-confirmed). Equations with any 't]' term (contemporaneous X or
    U[t]) defer to pass 2. MCAR applies to X only; U is fully observed."""
    eqs = equations("d1c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d1c registry for ({n_vars}, {max_lag})")
    _seed_all(seed, "global")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
        U[i] = _draw(noise_type, 1, noise_scale, df)[0]

    _program_steps(X, U, _regular_rows(n_points, max_lag), max_lag,
                   _two_pass_schedule(compile_equations("d1c", eqs)),
                   lambda: _draw(noise_type, n_vars + 1, noise_scale, df))

    mask = np.random.random(X.shape) < missing_rate
    Xm = X.copy()
    Xm[mask] = np.nan
    tt = np.arange(n_points)
    return _frame(Xm, U, tt), _frame(X, U, tt)


# ---------------------------------------------------------------------------
# A2C: linear + U over irregular time (Codes/a2c.py:116-223).
# ---------------------------------------------------------------------------


def generate_confounded_irregular_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> pd.DataFrame:
    """A2C (a2c.py:154-223): double re-seed (Q4 — once in the driver, again
    inside timestamp generation), interleaved X/U warmup, per-t draws of
    n_vars+1 with U last. The a2c grammar drops every registry equation
    (compile_equations: a2c.py's ``'e' not in rhs`` guard), so no X has a
    link and every X cell is exogenous: the ``value != 0`` noise gate
    (a2c.py:190-192) never rewrites it, leaving pure noise — bit-exact vs
    the shipped A2C corpus."""
    program = dict(compile_equations("a2c", equations("a2c", n_vars, max_lag)))
    groups = [program.get(i, []) for i in range(n_vars)]
    _seed_all(seed, "percall")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    ts = irregular_timestamps(n_points, seed=seed)  # re-seeds (Q4)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
        U[i] = _draw(noise_type, 1, noise_scale, df)[0]
    rows = _irregular_rows(ts, max_lag)
    for t in range(max_lag, n_points):
        r = rows[t]
        noise = _draw(noise_type, n_vars + 1, noise_scale, df)
        U[t] = noise[-1]
        for i in range(n_vars):
            if not groups[i]:
                X[t, i] = noise[i]
        for i in range(n_vars - 1, -1, -1):
            value = _eval(groups[i], i, X, U, t, r, None)
            if value != 0:
                X[t, i] = value + noise[i]
    return _frame(X, U, ts)
