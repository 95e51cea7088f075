"""Sequential SCM recurrence kernel — tier-(b) reference-fidelity generation.

The reference generates each dataset with a per-timestep Python loop
(Codes/a1.py:194-212: seed `max_lag` warmup rows with noise, then roll
forward calling the equation evaluator at :137-192, which resolves
contemporaneous terms through a per-timestep memo in reverse variable order
and lagged terms from the matrix). That recurrence is inherently sequential
in t, so the engine's scale-out axis is ACROSS configurations
(SURVEY.md §4.3.1): the sweep queries pack configs into bins and run one
kernel per config inside `mapInPandas` — millions of independent series
parallelize embarrassingly; time stays a tight loop inside one task, same
as the reference.

Unlike the reference, a kernel never re-reads its DSL strings inside that
loop (SURVEY.md §4.1's anti-optimizations): each config's equations go
through one compile (`compile_equations`), which knows the grammar of all
18 families and keeps each script's parser quirks as data on the family's
`_Grammar`. Every kernel evaluates the resulting term tuples with one
evaluator (`_eval`), and the structure sidecar serializes the same tuples
(`structure_edges`). Same-t scheduling is compiled too: the a1 topological
order, the a1c retry queue and the d1/d1c two-pass memo each become a
fixed list of equations to run per step (`_program_steps`). Irregular-time
lag rows come from one vectorized `_lag_table` per config. The loop draws
noise and does the reference's float operations in the reference's order,
nothing else.

Numeric fidelity: with the same seed this kernel reproduces the
reference's CSVs bit-for-bit for BOTH noise types (term accumulation
follows the equation's textual term order; noise draw order is warmup
rows first, then one n_vars draw per timestep). Student-t draws come
from a dedicated RandomState(seed) exactly as the reference's
`stats.t.random_state = np.random.RandomState(seed)` + `stats.t.rvs`
(a1.py:124-133) — scipy's t._rvs delegates to random_state.standard_t,
corpus-verified bit-exact without scipy (see _T_RS / _seed_all and
scripts/corpus_audit.py).
"""

from __future__ import annotations

import functools
import re
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd

from ..dsl.registry import equations


def _lag_table(ts: np.ndarray, max_lag: int, mean_diff: float) -> np.ndarray:
    """Bit-equal replacement for the reference's per-lag prefix scan
    ``np.abs(ts[:t] - (ts[t] - k*mean_diff)).argmin()`` (Codes/a2.py:162-167)
    at every step at once: ``table[t, k-1]`` is the row lag k reads at step
    t. Valid when ts is sorted (always true here: exponential gaps with a
    positive floor, monotone rescale). The argmin over a sorted prefix is one
    of the two rows bracketing the target time; ``searchsorted`` on the full
    series clipped to t equals the search over the prefix ``ts[:t]``, and the
    ``<=`` tie-break reproduces np.argmin's first-index rule (midpoint ties
    go to the earlier row)."""
    t = np.arange(len(ts))[:, None]
    target = ts[:, None] - np.arange(1, max_lag + 1) * mean_diff
    j = np.minimum(np.searchsorted(ts, target, side="left"), t)
    nearer_lo = target - ts[np.maximum(j - 1, 0)] <= ts[j] - target
    out = np.where(nearer_lo, j - 1, j)
    out = np.where(j >= t, t - 1, out)
    return np.where(j <= 0, 0, out)


def _irregular_rows(ts: np.ndarray, max_lag: int) -> list[list[int]]:
    """Per-step row table for irregular time: ``rows[t][0] = t`` and
    ``rows[t][k]`` the nearest-abs row for lag k, against the full-series
    mean gap (Q5 look-ahead)."""
    mean_diff = np.mean(np.diff(ts))
    lags = _lag_table(ts, max_lag, mean_diff)
    return np.column_stack([np.arange(len(ts)), lags]).tolist()


def _regular_rows(n_points: int, max_lag: int) -> list[list[int]]:
    """Per-step row table for regular time: ``rows[t][k] = t - k``."""
    return (np.arange(n_points)[:, None] - np.arange(max_lag + 1)).tolist()


# ---------------------------------------------------------------------------
# The equation compile: one DSL grammar for all 18 families.
# ---------------------------------------------------------------------------


class _Grammar(NamedTuple):
    """How one family's script reads the equation DSL.

    - ``skip(lhs, rhs)`` drops a whole equation;
    - ``links``: the script's link-dict form — no noise terms (the kernel
      adds noise itself), and a repeated link overwrites the earlier one
      in its first position;
    - ``x_op``: an X term is ``lin``, ``pow`` (power 1 when none is
      declared) or, for ``trig``, ``fn``/``pow``/``lin`` by sub-grammar;
    - ``u_power``: a U term keeps its declared power (else it is linear);
    - ``guard``: regular-time trig scripts read 0.0 before ``min_t`` —
      ``min_t`` is the term's lag, plus ``guard`` for a plain lagged
      linear term (None: no guard)."""

    skip: Callable[[str, str], bool]
    links: bool = False
    x_op: str = "lin"
    u_power: bool = False
    guard: int | None = None


def _u_equation(lhs: str, rhs: str) -> bool:
    return lhs.startswith("U")


_LINEAR = _Grammar(_u_equation)
# Q1 (b2.py:160-194): the '+'-only split keeps the first term's coef and
# power; pure-noise equations (U[t] = eU) are skipped.
_POLY = _Grammar(lambda lhs, rhs: "e" in rhs and "+" not in rhs,
                 links=True, x_op="pow", u_power=True)
# c2c.py:179-187 / d3c.py:275-283 test ``expr == 'U[t]'`` before '^', so
# the registry's U[t]^2 evaluates as U[t]: no trig grammar keeps U's power.
_TRIG = _Grammar(_u_equation, x_op="trig")

_GRAMMARS = {
    "a1": _LINEAR, "a1c": _LINEAR, "d1": _LINEAR, "d1c": _LINEAR,
    # a2.py:108-129 skips the `X5[t] = noise_extra` equations
    "a2": _Grammar(lambda lhs, rhs: "noise" in rhs, links=True),
    # a2c.py:227-250 skips any RHS with an 'e' in it: every equation
    "a2c": _Grammar(lambda lhs, rhs: "e" in rhs, links=True),
    "b1": _POLY, "b2": _POLY, "d2": _POLY,
    "b1c": _POLY, "b2c": _POLY, "d2c": _POLY,
    # c1.py:143-187 guards t >= lag and, for a plain lagged term, t > lag;
    # c1c.py:162-236 guards t >= lag
    "c1": _TRIG._replace(guard=1), "c1c": _TRIG._replace(guard=0),
    "c2": _TRIG, "d3": _TRIG, "c2c": _TRIG, "d3c": _TRIG,
}

_VAR_RE = re.compile(r"([XU])([0-9]*)\[t(?:-([0-9]+))?\]")
_POW_RE = re.compile(r"\^([0-9]+)")
_READS_X = ("lin", "pow", "fn")


def compile_equations(family: str, eqs: list[str], trends=None, seas=None):
    """Compile one config's equations under ``family``'s grammar into
    ``[(target_idx0, terms)]`` in list order, each term list in textual
    order (float accumulation order is part of the fidelity contract).
    A term is ``(op, coef, src_idx0, lag, arg, min_t)``:

    - 'noise' (the target's noise slot) and 'series' (``arg[t]``: that
      target's trend or season array, when given) add without a coef;
    - 'u' adds ``coef * U[t] ** arg``;
    - 'lin' / 'pow' / 'fn' read ``X[rows[t][lag], src]`` (0.0 before
      ``min_t``) and add ``coef * v``, ``coef * v**arg`` or
      ``coef * arg(v * pi / 2)`` (arg is np.cos or np.sin).

    The source index is the full number after X: quirk Q6's single-digit
    read (``int(expr[1])`` in c1/c2/c2c/d3/d3c) equals it on every
    registry width. No registry declares two equations for one target."""
    g = _GRAMMARS[family]
    program = []
    for eq in eqs:
        lhs, rhs = (s.strip() for s in eq.split("="))
        if g.skip(lhs, rhs):
            continue
        vi = int(lhs.split("[")[0][1:]) - 1
        terms, slot = [], {}
        for raw in rhs.split("+"):
            term = raw.strip()
            if term.startswith("e"):
                if not g.links:
                    terms.append(("noise", 0.0, 0, 0, None, 0))
                continue
            if term.startswith(("trend", "season")):
                series = trends if term.startswith("trend") else seas
                arg = None if series is None else series[vi]
                terms.append(("series", 0.0, 0, 0, arg, 0))
                continue
            var = _VAR_RE.search(term)
            if "*" not in term or var is None:
                raise ValueError(f"unparseable {family} term: {term!r}")
            coef = float(term.split("*")[0])
            lag = int(var.group(3) or 0)
            power = _POW_RE.search(term)
            power = int(power.group(1)) if power else None
            if var.group(1) == "U":
                t = ("u", coef, 0, 0, power if g.u_power and power else 1, 0)
            else:
                if g.x_op == "pow":
                    op, arg = "pow", power or 1
                elif g.x_op == "trig" and ("cos(" in term or "sin(" in term):
                    op, arg = "fn", np.cos if "cos(" in term else np.sin
                elif g.x_op == "trig" and power:
                    op, arg = "pow", power
                else:
                    op, arg = "lin", None
                min_t = 0
                if g.guard is not None:
                    min_t = lag + (g.guard if op == "lin" and lag else 0)
                t = (op, coef, int(var.group(2)) - 1, lag, arg, min_t)
            key = (t[0], t[2], t[3], t[4])  # (op, src, lag, arg)
            if g.links and key in slot:
                terms[slot[key]] = t
            else:
                slot[key] = len(terms)
                terms.append(t)
        program.append((vi, terms))
    return program


def structure_edges(family: str, n_vars: int, max_lag: int) -> list[tuple]:
    """The config's causal edges as its grammar reads them, one per X or U
    term in compile order: ``(source, target, lag, func, coef)``. U edges
    have source "U" and lag 0; func is 'linear', 'powerN', 'cos' or 'sin'
    (a polynomial grammar names every X term by its power, power1 included).
    a2c yields none: its grammar drops every equation."""
    edges = []
    for vi, terms in compile_equations(family, equations(family, n_vars, max_lag)):
        for op, coef, src, lag, arg, _ in terms:
            if op in ("noise", "series"):
                continue
            func = ("linear" if op == "lin" or (op == "u" and arg == 1)
                    else arg.__name__ if op == "fn" else f"power{arg}")
            source = "U" if op == "u" else f"X{src + 1}"
            edges.append((source, f"X{vi + 1}", lag, func, coef))
    return edges


def _eval(terms, vi, X, U, t, r, noise) -> float:
    """Accumulate one compiled equation at step t (``r = rows[t]``): one
    ``value +=`` per term, in textual order."""
    value = 0.0
    for op, coef, src, lag, arg, min_t in terms:
        if op == "noise":
            value += noise[vi]
        elif op == "series":
            value += arg[t]
        elif op == "u":
            value += coef * U[t] if arg == 1 else coef * U[t] ** arg
        else:
            v = X[r[lag], src] if t >= min_t else 0.0
            if op == "lin":
                value += coef * v
            elif op == "pow":
                value += coef * (v ** arg)
            else:
                value += coef * arg(v * np.pi / 2)
    return value


def _program_steps(X, U, rows, t0, program, noise_fn) -> None:
    """The list-order time loop (a1, a1c, d1, d1c and the trig families):
    per step one ``noise_fn()`` draw (U takes its last slot), then each
    ``(target, terms)`` of ``program`` in order, written to ``X[t]`` —
    later equations read it there."""
    for t in range(t0, X.shape[0]):
        r = rows[t]
        noise = noise_fn()
        if U is not None:
            U[t] = noise[-1]
        for vi, terms in program:
            X[t, vi] = _eval(terms, vi, X, U, t, r, noise)


def _same_t_sources(terms) -> list[int]:
    return [src for op, _, src, lag, *_ in terms if op in _READS_X and not lag]


def topo_order(program: dict[int, list], n_vars: int) -> list[int]:
    """Kahn topological sort of the CONTEMPORANEOUS dependency graph of a
    ``{target: terms}`` program (lagged deps never constrain within-t
    order). Raises on a same-t cycle.

    The reference never sorts: it evaluates in fixed reverse index order
    (a1.py:147) — valid for its registries because contemporaneous chains
    always point from higher to lower index. This sort generalizes to any
    acyclic DSL; ties broken by descending index so registry configs get the
    reference's exact order.
    """
    deps = {v: set(_same_t_sources(program.get(v, []))) for v in range(n_vars)}
    order, done = [], set()
    while len(order) < n_vars:
        ready = sorted(
            (v for v in range(n_vars) if v not in done and deps[v] <= done),
            reverse=True,
        )
        if not ready:
            raise ValueError("contemporaneous cycle in equation system")
        order.append(ready[0])
        done.add(ready[0])
    return order


# Student-t stream modes — the reference scripts use THREE different
# scipy idioms, each with a different effective RNG stream (all
# corpus-verified bit-exact via scripts/corpus_audit.py; scipy's t._rvs
# delegates to random_state.standard_t, so each is reproducible with
# plain numpy):
#
#   "dedicated" — stats.t.random_state = RandomState(seed) set once in
#       __init__ (a1.py:124-126, a1c.py:134, c2.py:68-70, c2c.py:127):
#       one persistent t stream that interleaved GLOBAL draws
#       (timestamps, masks) never advance.
#   "global"   — stats.t.rvs with no random_state (d1/d2/d1c/d2c):
#       scipy's default random state IS numpy's global RandomState, so t
#       draws interleave with every other draw on the global stream.
#   "percall"  — stats.t.rvs(..., random_state=seed) passing the INT on
#       every call (a2.py:141-144, a2c.py:126-129, b1c.py:106-109):
#       scipy builds a FRESH RandomState(seed) per call, so every noise
#       call REPLAYS the t stream from its origin — the first size
#       values repeat forever. A genuine reference bug, replicated
#       because the corpus embeds it.
#
# For families with no interleaved global draws (A1, B1) dedicated ≡
# global from the same seed. Module-globals are safe here: kernels run
# one config at a time per process (Spark Python worker or driver test).
_T_RS: np.random.RandomState | None = None
_T_MODE: str = "dedicated"
_T_SEED: int = 42


def _seed_all(seed: int, t_mode: str = "dedicated") -> None:
    """np.random.seed(seed) + configure the Student-t stream mode."""
    global _T_RS, _T_MODE, _T_SEED
    np.random.seed(seed)
    _T_MODE = t_mode
    _T_SEED = seed
    _T_RS = np.random.RandomState(seed) if t_mode == "dedicated" else None


@functools.lru_cache(maxsize=64)
def _percall_t(seed: int, df: int, n: int) -> np.ndarray:
    """The "percall" idiom's draw: a fresh RandomState(seed) every call
    returns the same values, so draw them once per (seed, df, n). Callers
    only read it (``_draw`` returns a scaled copy)."""
    return np.random.RandomState(seed).standard_t(df, size=n)


def _draw(rng_kind: str, n: int, scale: float, df: int) -> np.ndarray:
    if rng_kind == "gaussian":
        return np.random.normal(0, scale, size=n)
    if rng_kind == "student_t":
        if _T_MODE == "dedicated" and _T_RS is not None:
            return _T_RS.standard_t(df, size=n) * scale
        if _T_MODE == "percall":
            return _percall_t(_T_SEED, df, n) * scale
        return np.random.standard_t(df, size=n) * scale
    raise ValueError(f"unknown noise type: {rng_kind}")


def _mixed_noise(size: int, mix_ratio: float, scale: float) -> np.ndarray:
    """Gaussian(+)Laplace mixture draw, b2.py:75-85 order: uniform mask,
    then BOTH component draws."""
    mask = np.random.random(size) < mix_ratio
    g = np.random.normal(0, scale, size)
    l = np.random.laplace(0, scale, size)
    return np.where(mask, g, l)


def generate_linear_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
    order_mode: str = "corpus",
) -> pd.DataFrame:
    """Generate one linear-family dataset (wide: X1..Xn + time).

    Draw choreography mirrors a1.py:194-212 (global seed, warmup rows of
    pure noise, one n_vars noise draw per timestep). Evaluation follows
    the CORPUS-effective semantics: the full-corpus audit
    (scripts/corpus_audit.py, implied-operand solves) shows the shipped
    6/8-var data spans THREE script vintages, none reproducible by the
    current a1.py:

    - student_t, all lags (oldest vintage): X5 — and X8 in 8-var — are
      PURE NOISE; their parent terms were added later (the "Added X4
      influence" comment at a1.py:49 marks the edit). X6's parent is
      X5[t].
    - gaussian, max_lag=2: all current terms present, but X6's
      contemporaneous parent is X4[t] — edited to X5 after generation
      (exact implied-operand match at every probed timestep, both sizes).
    - gaussian, max_lag=3/4: the current equations.

    Every vintage evaluated in dependency (topo) order with COMPUTED
    contemporaneous values; the current script's reverse-index loop
    (a1.py:147) would leave X6 reading a zero fallback instead. 4-var
    output is identical under both orders (reverse order IS a valid topo
    order there), which is why only 6/8-var files ever diverged.

    ``order_mode="script"`` keeps the current-script semantics (reverse
    order, zero fallback, current equations) instead of the corpus's.
    """
    eqs = equations("a1", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no linear registry for ({n_vars}, {max_lag})")
    program = dict(compile_equations("a1", eqs))
    if order_mode == "corpus":
        if n_vars >= 6:
            if noise_type == "student_t":
                # oldest vintage: X5 (and X8) had no parent terms yet
                program[4] = [t for t in program[4] if t[0] == "noise"]
                if n_vars == 8:
                    program[7] = [t for t in program[7] if t[0] == "noise"]
            elif max_lag == 2:
                # gaussian lag-2 vintage: X6's parent was X4, not X5
                program[5] = [
                    t[:2] + (3,) + t[3:] if t[0] == "lin" and t[3] == 0 else t
                    for t in program[5]
                ]
        order = topo_order(program, n_vars)
    else:
        order = range(n_vars - 1, -1, -1)

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
    _program_steps(
        X, None, _regular_rows(n_points, max_lag), max_lag,
        [(v, program[v]) for v in order if v in program],
        lambda: _draw(noise_type, n_vars, noise_scale, df),
    )

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = np.arange(n_points)
    return out


# ---------------------------------------------------------------------------
# A2: irregular sampling + nearest-abs lag resolution (Codes/a2.py:131-233).
# ---------------------------------------------------------------------------


def irregular_timestamps(
    n_points: int,
    total_time: float = 100.0,
    min_gap: float = 0.1,
    seed: int | None = 42,
) -> np.ndarray:
    """Adaptive-scale exponential gaps with a min-gap floor and rescale-on-
    overflow (a2.py:146-160). The reference RE-SEEDS inside this function
    (quirk Q4) — replicated so draw choreography matches."""
    if seed is not None:
        np.random.seed(seed)  # global only: Q4 re-seed, t stream NOT reset here
    times = np.zeros(n_points)
    times[0] = np.random.uniform(0, min_gap)
    for i in range(1, n_points):
        gap = np.random.exponential(scale=(total_time - times[i - 1]) / (n_points - i))
        times[i] = times[i - 1] + max(gap, min_gap)
        if times[i] > total_time:
            times = times * (total_time / times[i])
    return times


def generate_irregular_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
    ts_mode: str = "adaptive_exp",
) -> pd.DataFrame:
    """Irregular-sampling linear family (a2.py:203-233).

    Semantics replicated exactly: per-t full-series mean(diff) look-ahead
    (Q5), nearest-abs lag index over the prefix (a2.py:162-167), the
    exogenous pass for non-target variables (Q3's noise_extra), noise
    gating `if value != 0` (Q2), and contemporaneous reads straight from
    the current row (no memo — evaluation order covers the registry DAGs).

    ts_mode:
      'adaptive_exp' — the current reference algorithm (a2.py:146-160);
      'linspace'     — evenly spaced, zero draws consumed. The shipped A2
                       corpus was generated this way (every file's `time`
                       column is exactly linspace(0, 100, n) and the values
                       replay the regular-lag recurrence), so this mode
                       reproduces those CSVs bit-for-bit.
    """
    eqs = equations("a2", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no a2 registry for ({n_vars}, {max_lag})")
    # a2 grammar (a2.py:108-129): the `noise_extra` equations are skipped;
    # link order feeds accumulation order.
    program = dict(compile_equations("a2", eqs))
    groups = [program.get(i, []) for i in range(n_vars)]

    # Corpus-vintage override (scripts/corpus_audit.py): every lag-3/4
    # wide file (both noise types) predates the 0.3*X5[t-1] feedback term
    # into X4 — the era other scripts mark with "Removed X5[t-1] term"
    # comments; the current a2.py carries the term at ALL lags and so
    # cannot regenerate its own shipped lag-3/4 data. Implied-residual
    # solves show X4 = 0.25*X1[t-lag] + e4 exactly there, while the lag-2
    # files carry the term.
    if max_lag >= 3 and n_vars >= 6:
        groups[3] = [t for t in groups[3] if t[2:4] != (4, 1)]

    _seed_all(seed, "percall")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    if ts_mode == "linspace":
        ts = np.linspace(0.0, 100.0, n_points)
    elif ts_mode == "adaptive_exp":
        ts = irregular_timestamps(n_points, seed=seed)
    else:
        raise ValueError(f"unknown ts_mode: {ts_mode}")

    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)

    # Corpus-vintage evaluation (scripts/corpus_audit.py, verified
    # bit-exact on every A2 file): NO exogenous pre-pass. The reverse-order
    # pass zero-reads contemporaneous parents written later, so the Q2
    # gate (`value != 0`) leaves chain-head targets (X6; X8 in 8-var)
    # unassigned; a post-pass then gives any still-unassigned variable its
    # BLOCK noise — except the `noise_extra` variable (X5), which draws an
    # EXTRA size-1 value after the block. Under this family's per-call t
    # idiom that extra value replays the FIRST t draw every timestep, so
    # t-config X5 (and zero-read X6/X8) are constant columns — the corpus
    # embeds exactly that degeneracy (e.g. multivariate_ts_*_t.csv: X5 ≡
    # 0.060129, X6 ≡ 0.240120). 4-var configs have no unassigned vars, so
    # this path reduces to the plain reverse evaluation there.
    rows = _irregular_rows(ts, max_lag)
    for t in range(max_lag, n_points):
        r = rows[t]
        noise = _draw(noise_type, n_vars, noise_scale, df)
        written = [False] * n_vars
        for i in range(n_vars - 1, -1, -1):
            value = _eval(groups[i], i, X, None, t, r, None)
            if value != 0:
                X[t, i] = value + noise[i]
                written[i] = True
        for i in range(n_vars):
            if not written[i]:
                if i not in program:  # the skipped `noise_extra` equation
                    X[t, i] = _draw(noise_type, 1, noise_scale, df)[0]
                else:
                    X[t, i] = noise[i]

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = ts
    return out


# ---------------------------------------------------------------------------
# A1C: hidden-confounder family (Codes/a1c.py:116-277).
# ---------------------------------------------------------------------------


def generate_confounded_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
    hide_u: bool = False,
) -> pd.DataFrame:
    """Confounded linear family: U[t] = pure noise feeding two observed
    nodes, retry-queue contemporaneous scheduling (a1c.py:171-253), warmup
    rows drawing X then U separately (a1c.py:260-263), per-t draws of
    n_vars+1 with U taking the last slot. Bit-exact vs the reference's
    seed-42 A1C CSVs (4-var goldens).

    The reference writes U as an ordinary column (quirk Q8 — "hidden" only
    by convention); hide_u=True makes the hiding an explicit projection.
    """
    eqs = equations("a1c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no a1c registry for ({n_vars}, {max_lag})")
    program = dict(compile_equations("a1c", eqs))

    # Deferral: a same-t X dependency not yet computed sends a variable to
    # the back of the queue (a1c.py:196-214); the queue's order is the same
    # every step, so it runs once here. Corpus-vintage quirk
    # (scripts/corpus_audit.py): in the 8-var corpus, X8 alone did NOT
    # defer — its X7[t] read resolves to the zero-initialized current row
    # (implied-operand solve is exactly 0 at every probed timestep, all
    # lags), while X1/X3/X6 in the same files use computed values. The
    # generating script's deferral evidently missed the last-added chain
    # head; replicated as a targeted exception: X8 skips the ready-check
    # and computes immediately (zero-read fallback).
    order, remaining = [], list(range(n_vars))[::-1]
    while remaining:
        vi = remaining.pop(0)
        if vi not in program:
            continue
        deps = [] if n_vars == 8 and vi == 7 else _same_t_sources(program[vi])
        if all(d in order for d in deps):
            order.append(vi)
        else:
            remaining.append(vi)

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
        U[i] = _draw(noise_type, 1, noise_scale, df)[0]
    _program_steps(
        X, U, _regular_rows(n_points, max_lag), max_lag,
        [(vi, program[vi]) for vi in order],
        lambda: _draw(noise_type, n_vars + 1, noise_scale, df),
    )

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    if not hide_u:
        out["U"] = U
    out["time"] = np.arange(n_points)
    return out


# ---------------------------------------------------------------------------
# B2: polynomial SCM, Gaussian⊕Laplace mixture noise, irregular sampling
# (Codes/b2.py:59-158). Quirk Q1 applies: the '+'-only term split drops the
# '- coef * X^3' tails, so effective dynamics are quadratic-only.
# ---------------------------------------------------------------------------


def _poly_steps(X, rows, t0, program, noise_fn, U=None) -> None:
    """Shared B1/B2/D2 (and, with U, B1C/B2C/D2C — b1c.py:120-137) time
    loop: U first from the last noise slot, then reverse index order,
    ``coef * v**power`` per compiled link, noise added unconditionally.
    ``rows`` is the per-step row table (regular or nearest-abs)."""
    # Reference parity: b1c.py's U^2 polynomials overflow float64 for some
    # B/C-confounded configs and the reference keeps the resulting inf —
    # the corpus regenerates bit-exactly BECAUSE we overflow identically.
    # Silence only the expected scalar-power overflow so the intentional
    # behavior isn't mistaken for a defect in audit logs.
    n_vars = X.shape[1]
    links = dict(program)
    groups = [links.get(i, []) for i in range(n_vars)]
    with np.errstate(over="ignore"):
        for t in range(t0, X.shape[0]):
            r = rows[t]
            noise = noise_fn()
            if U is not None:
                U[t] = noise[-1]
            for i in range(n_vars - 1, -1, -1):
                X[t, i] = _eval(groups[i], i, X, U, t, r, None) + noise[i]


def generate_poly_mixture_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    mix_ratio: float = 0.5,
    seed: int = 42,
    noise_scale: float = 0.1,
) -> pd.DataFrame:
    """B2 family, bit-exact vs the reference's seed-42 CSVs: mixture noise
    (Bernoulli mask, then BOTH component draws each call — three RNG calls,
    b2.py:75-85), adaptive-exp timestamps WITHOUT the A2 re-seed (the ctor
    seeds once), nearest-abs lag resolution, reverse-order evaluation with
    direct current-row reads, noise always added (no gating)."""
    eqs = equations("b2", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no b2 registry for ({n_vars}, {max_lag})")

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    ts = _adaptive_timestamps_noreseed(n_points)
    for i in range(max_lag):
        X[i] = _mixed_noise(n_vars, mix_ratio, noise_scale)
    _poly_steps(
        X, _irregular_rows(ts, max_lag), max_lag, compile_equations("b2", eqs),
        lambda: _mixed_noise(n_vars, mix_ratio, noise_scale),
    )

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = ts
    return out


def generate_poly_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> pd.DataFrame:
    """B1 family: polynomial dynamics over REGULAR time with plain
    gaussian/student-t noise. The reference never committed a b1.py script
    (SURVEY.md §0), so this kernel is reverse-derived from the shipped
    corpus: the b2 registry equations (identical X-equations to B1C minus
    the U terms, Datasets/B1 vs b1c.py:19-61), integer timestamps, reverse
    index-order evaluation with direct lag-row reads. Quirk (corpus-proven):
    the gaussian variant draws one n_vars noise vector per warmup row and
    per step, but the student-t variant draws a SINGLE t-vector at t=0 and
    reuses it for every warmup row and every step — the shipped t-dist
    series have constant additive noise (rows 0..max_lag-1 are identical,
    and each step's residual equals that same vector). Verified bit-exact
    against all 72 Datasets/B1 CSVs (tests/test_generation.py)."""
    eqs = equations("b1", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no b1 registry for ({n_vars}, {max_lag})")

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    frozen = None
    if noise_type == "student_t":
        frozen = _draw(noise_type, n_vars, noise_scale, df)
        X[:max_lag] = frozen
    else:
        for i in range(max_lag):
            X[i] = _draw(noise_type, n_vars, noise_scale, df)
    _poly_steps(
        X, _regular_rows(n_points, max_lag), max_lag, compile_equations("b1", eqs),
        (lambda: frozen) if frozen is not None
        else lambda: _draw(noise_type, n_vars, noise_scale, df),
    )

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = np.arange(n_points)
    return out


# ---------------------------------------------------------------------------
# Trig families (C1/C2/D3 and C1C/C2C/D3C): each script carries its own copy
# of evaluate_term; the copies differ only in a few quirks, which the trig
# grammars of compile_equations carry as data.
# ---------------------------------------------------------------------------


def _trig_core(
    eqs: list[str],
    family: str,
    n_points: int,
    n_vars: int,
    max_lag: int,
    ts,
    step_noise,
    warmup_x,
    warmup_u,
    trend_strength: float,
    seasonal_strength: float,
    seasonal_period: int,
):
    """Shared C1/C2/D3/C1C/C2C/D3C machinery: trend over the integer index,
    two-harmonic seasonality over ``ts`` (irregular families, drawn by the
    caller first) or the index (``ts=None``), warmup rows of
    ``warmup_x()`` (then ``warmup_u()`` when the family has U) plus trend
    and season on X only, then per-t ``step_noise()`` (U takes its last
    slot) and list-order evaluation. Caller seeds the RNG. Returns (X, U)."""
    tt = np.arange(n_points)
    clock = tt if ts is None else ts
    trends = [trend_strength * (i + 1) * 0.5 * tt for i in range(n_vars)]
    seas = []
    for i in range(n_vars):
        ph = 2 * np.pi * i / 8
        seas.append(
            seasonal_strength
            * (
                np.sin(2 * np.pi * clock / seasonal_period + ph)
                + 0.5 * np.cos(4 * np.pi * clock / seasonal_period + ph)
            )
        )
    X = np.zeros((n_points, n_vars))
    U = None if warmup_u is None else np.zeros(n_points)
    for i in range(max_lag):
        X[i] = warmup_x()
        if U is not None:
            U[i] = warmup_u()
        for j in range(n_vars):
            X[i, j] += trends[j][i] + seas[j][i]
    rows = (_regular_rows(n_points, max_lag) if ts is None
            else _irregular_rows(ts, max_lag))
    _program_steps(X, U, rows, max_lag,
                   compile_equations(family, eqs, trends, seas), step_noise)
    return X, U


# ---------------------------------------------------------------------------
# C1: trigonometric SCM + deterministic trend + two-harmonic seasonality,
# regular sampling (Codes/c1.py:111-246).
# ---------------------------------------------------------------------------


def generate_trend_season_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    trend_strength: float = 0.01,
    seasonal_strength: float = 0.5,
    seasonal_period: int = 12,
    seed: int = 42,
    noise_scale: float = 0.1,
) -> pd.DataFrame:
    """C1 family, bit-exact vs the reference's seed-42 CSVs: precomputed
    trend/seasonality arrays added to warmup rows too (c1.py:228-234);
    equations evaluated in LIST order; terms follow evaluate_term
    (c1.py:143-187) including its cos/sin/power/linear sub-grammar and the
    t>lag guards (see the c1 grammar in compile_equations)."""
    eqs = equations("c1", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no c1 registry for ({n_vars}, {max_lag})")

    _seed_all(seed)

    def _noise() -> np.ndarray:
        return np.random.normal(0, noise_scale, n_vars)

    X, _ = _trig_core(
        eqs, "c1", n_points, n_vars, max_lag, None, _noise, _noise, None,
        trend_strength, seasonal_strength, seasonal_period,
    )
    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = np.arange(n_points)
    return out


# ---------------------------------------------------------------------------
# D1: linear SCM + MCAR, two-pass scheduling WITH the reference's memo-
# shadowing bug (Codes/d1.py:136-235) — which the shipped corpus confirms:
# in the 4-var datasets X1 and X3 are identically zero after warmup because
# pass 1 stores each computed value under its LAST SOURCE variable's name
# (d1.py:156-168 reuse `var_name` for the source), so pass 2's "already
# processed" check skips the wrong variables. Replicated for bit-exactness;
# the corrected semantics live in generate_linear_config.
# ---------------------------------------------------------------------------


def _two_pass_schedule(program) -> list[tuple]:
    """The D1/D1C two-pass memo (d1.py:136-212, d1c.py:135-217) compiled
    into the list of equations one step evaluates.

    Pass 1 evaluates every equation with no same-t term (no X[t] or U[t])
    and records its value in the per-t memo under the LAST source variable
    it read (the reference's loop leaves ``var_name`` there — the
    memo-shadowing bug), or under its own target if it reads none. Pass 2
    walks every equation in list order, skips any whose target the memo
    already holds, evaluates the rest (same-t reads go through the memo,
    falling back to the current row) and records each under its target.
    Which keys the memo holds at each point never depends on the data, so
    the schedule is fixed: a memo read of X_k becomes a row read of the
    target whose value the memo holds under k, and a pass-1 equation that
    pass 2 would re-evaluate is not run again (it has no same-t term, so
    it would write the same value)."""
    first = [(vi, terms) for vi, terms in program
             if not _same_t_sources(terms) and all(t[0] != "u" for t in terms)]
    steps, holder = list(first), {}  # memo key -> target whose value it holds
    for vi, terms in first:
        reads = [src for op, _, src, *_ in terms if op in _READS_X]
        holder[reads[-1] if reads else vi] = vi
    ran = {vi for vi, _ in first}
    for vi, terms in program:
        if vi not in holder and vi not in ran:
            steps.append((vi, [
                t[:2] + (holder.get(t[2], t[2]),) + t[3:]
                if t[0] in _READS_X and not t[3] else t
                for t in terms
            ]))
        holder.setdefault(vi, vi)
    return steps


def generate_mcar_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    missing_rate: float = 0.2,
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Returns (missing_df, complete_df) like the reference's generator
    (d1.py:213-235): the MCAR mask draws AFTER the full recurrence, one
    uniform per cell in row-major order."""
    eqs = equations("d1", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d1 registry for ({n_vars}, {max_lag})")

    _seed_all(seed, "global")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)

    _program_steps(X, None, _regular_rows(n_points, max_lag), max_lag,
                   _two_pass_schedule(compile_equations("d1", eqs)),
                   lambda: _draw(noise_type, n_vars, noise_scale, df))

    mask = np.random.random(X.shape) < missing_rate
    X_missing = X.copy()
    X_missing[mask] = np.nan

    cols = [f"X{i + 1}" for i in range(n_vars)]
    missing = pd.DataFrame(X_missing, columns=cols)
    complete = pd.DataFrame(X, columns=cols)
    missing["time"] = np.arange(n_points)
    complete["time"] = np.arange(n_points)
    return missing, complete


# ---------------------------------------------------------------------------
# D2: polynomial SCM, irregular sampling, BLOCK missingness applied post-hoc
# (Codes/d2.py:59-199). Shares B2's registry and evaluation; single-dist
# noise; the block pattern is the reference's Markov burst walk
# (d2.py:112-138) — start suppression while a block is active, length
# U{5..19}, random variable subset via choice-without-replacement.
# ---------------------------------------------------------------------------


def _adaptive_timestamps_noreseed(n_points: int) -> np.ndarray:
    """Shared timestamp walk (b2/c2/d2/d3 variants seed only in the ctor)."""
    ts = np.zeros(n_points)
    ts[0] = np.random.uniform(0, 0.1)
    for i in range(1, n_points):
        gap = np.random.exponential(scale=(100.0 - ts[i - 1]) / (n_points - i))
        ts[i] = ts[i - 1] + max(gap, 0.1)
        if ts[i] > 100.0:
            ts = ts * (100.0 / ts[i])
    return ts


def _block_pattern(n_points: int, n_vars: int, block_prob: float) -> np.ndarray:
    mask = np.zeros((n_points, n_vars), dtype=bool)
    current, rem = False, 0
    for t in range(n_points):
        if not current and np.random.random() < block_prob:
            current = True
            rem = np.random.randint(5, 20)
            k = np.random.randint(1, n_vars + 1)
            affected = np.random.choice(n_vars, size=k, replace=False)
            for d in range(rem):
                if t + d < n_points:
                    mask[t + d, affected] = True
        if current:
            rem -= 1
            if rem <= 0:
                current = False
    return mask


def generate_block_missing_config(
    n_points: int,
    n_vars: int,
    max_lag: int,
    noise_type: str = "gaussian",
    block_prob: float = 0.2,
    seed: int = 42,
    noise_scale: float = 0.1,
    df: int = 3,
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(missing_df, complete_df), bit-exact vs the D2 seed-42 CSVs."""
    eqs = equations("d2", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d2 registry for ({n_vars}, {max_lag})")
    _seed_all(seed, "global")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    ts = _adaptive_timestamps_noreseed(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
    _poly_steps(
        X, _irregular_rows(ts, max_lag), max_lag, compile_equations("d2", eqs),
        lambda: _draw(noise_type, n_vars, noise_scale, df),
    )
    mask = _block_pattern(n_points, n_vars, block_prob)
    X_missing = X.copy()
    X_missing[mask] = np.nan
    cols = [f"X{i + 1}" for i in range(n_vars)]
    missing = pd.DataFrame(X_missing, columns=cols)
    complete = pd.DataFrame(X, columns=cols)
    missing["time"] = ts
    complete["time"] = ts
    return missing, complete


# ---------------------------------------------------------------------------
# C2: trigonometric SCM with trend + CONTINUOUS-TIME seasonality over
# irregular timestamps (Codes/c2.py:59-235). Unlike C1, contemporaneous
# terms read the current row directly (no memo) and lagged terms go through
# the nearest-abs lag indices.
# ---------------------------------------------------------------------------


def generate_trig_irregular_config(
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
    """C2 family, bit-exact vs the reference's seed-42 gaussian CSVs:
    trend over the integer index but seasonality over continuous timestamps
    (c2.py:96-108 — the index/continuous mismatch is the reference's),
    list-order evaluation with direct X[t] reads, nearest-abs lags inside
    sin/cos/power sub-expressions (c2.py:118-171)."""
    eqs = equations("c2", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no c2 registry for ({n_vars}, {max_lag})")
    _seed_all(seed)

    def _noise() -> np.ndarray:
        return _draw(noise_type, n_vars, noise_scale, df)

    ts = _adaptive_timestamps_noreseed(n_points)
    X, _ = _trig_core(
        eqs, "c2", n_points, n_vars, max_lag, ts, _noise, _noise, None,
        trend_strength, seasonal_strength, seasonal_period,
    )
    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = ts
    return out


# ---------------------------------------------------------------------------
# D3: C2's trig/trend/continuous-seasonality dynamics + mixture noise +
# MCAR ∪ block missingness (Codes/d3.py:59-267). The MCAR matrix draws
# FIRST, then the block walk (d3.py:97-124); masks union.
# ---------------------------------------------------------------------------


def generate_mixed_missing_config(
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
    """(missing_df, complete_df) for the D3 family — bit-exact vs the
    reference's seed-42 CSVs."""
    eqs = equations("d3", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d3 registry for ({n_vars}, {max_lag})")
    _seed_all(seed)

    def _noise() -> np.ndarray:
        return _mixed_noise(n_vars, mix_ratio, noise_scale)

    ts = _adaptive_timestamps_noreseed(n_points)
    X, _ = _trig_core(
        eqs, "d3", n_points, n_vars, max_lag, ts, _noise, _noise, None,
        trend_strength, seasonal_strength, seasonal_period,
    )
    mcar = np.random.random((n_points, n_vars)) < mcar_prob
    block = _block_pattern(n_points, n_vars, block_prob)
    mask = block | mcar
    X_missing = X.copy()
    X_missing[mask] = np.nan
    cols = [f"X{i + 1}" for i in range(n_vars)]
    missing = pd.DataFrame(X_missing, columns=cols)
    complete = pd.DataFrame(X, columns=cols)
    missing["time"] = ts
    complete["time"] = ts
    return missing, complete
