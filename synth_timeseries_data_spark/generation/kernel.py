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
loop (SURVEY.md §4.1's anti-optimizations): each config's equations are
compiled once into term tuples (`_compile_trig`, `_linear_terms`,
`_two_pass_program`, `_group_links`), and irregular-time lag rows come from
one vectorized `_lag_table` per config. The loop draws noise and does the
reference's float operations in the reference's order, nothing else.

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

import numpy as np
import pandas as pd

from ..dsl.registry import equations

_TERM_RE = re.compile(r"^([0-9]+\.?[0-9]*)\s*\*\s*X([0-9]+)\[t(?:-([0-9]+))?\]$")


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


def parse_linear_equation(eq: str):
    """One linear DSL string → (target_idx0, ordered term list).

    Terms are kept in textual order because float accumulation order is part
    of the fidelity contract. Each term is ('noise',) or
    ('var', coef, source_idx0, lag).
    """
    left, right = [s.strip() for s in eq.split("=")]
    target = int(left.split("[")[0][1:]) - 1
    terms = []
    for raw in right.split("+"):
        term = raw.strip()
        if term.startswith("e"):
            terms.append(("noise",))
            continue
        m = _TERM_RE.match(term)
        if not m:
            raise ValueError(f"unparseable linear term: {term!r}")
        coef, src, lag = float(m.group(1)), int(m.group(2)) - 1, int(m.group(3) or 0)
        terms.append(("var", coef, src, lag))
    return target, terms


def topo_order(parsed: dict[int, list], n_vars: int) -> list[int]:
    """Kahn topological sort of the CONTEMPORANEOUS dependency graph (lagged
    deps never constrain within-t order). Raises on a same-t cycle.

    The reference never sorts: it evaluates in fixed reverse index order
    (a1.py:147) — valid for its registries because contemporaneous chains
    always point from higher to lower index. This sort generalizes to any
    acyclic DSL; ties broken by descending index so registry configs get the
    reference's exact order.
    """
    deps = {v: {s for kind, *rest in parsed.get(v, []) if kind == "var"
                for c, s, l in [rest] if l == 0} for v in range(n_vars)}
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


def _group_links(links: dict, n_vars: int) -> list[list[tuple]]:
    """Link dict keyed ``(source, lag<=0, target[, power])`` -> per-target
    term lists ``[(coef, src_idx, abs(lag), power)]``, index i for X(i+1);
    src_idx is None for U. The reference scans every link for every
    target at every step; grouping once in dict order keeps its
    accumulation order. Links to targets outside X1..Xn are never read."""
    groups: dict[str, list[tuple]] = {}
    for key, coef in links.items():
        src, lag, tgt = key[:3]
        si = None if src == "U" else int(src[1:]) - 1
        groups.setdefault(tgt, []).append(
            (coef, si, abs(lag), key[3] if len(key) > 3 else 1)
        )
    return [groups.get(f"X{i + 1}", []) for i in range(n_vars)]


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
    parsed: dict[int, list] = {}
    for eq in eqs:
        tgt, terms = parse_linear_equation(eq)
        parsed[tgt] = terms
    if order_mode == "corpus":
        if n_vars >= 6:
            if noise_type == "student_t":
                # oldest vintage: X5 (and X8) had no parent terms yet
                parsed[4] = [t for t in parsed[4] if t[0] == "noise"]
                if n_vars == 8:
                    parsed[7] = [t for t in parsed[7] if t[0] == "noise"]
            elif max_lag == 2:
                # gaussian lag-2 vintage: X6's parent was X4, not X5
                parsed[5] = [
                    t if not (t[0] == "var" and t[3] == 0) else (t[0], t[1], 3, 0)
                    for t in parsed[5]
                ]
        order = topo_order(parsed, n_vars)
    else:
        order = list(range(n_vars - 1, -1, -1))

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)

    for t in range(max_lag, n_points):
        noise = _draw(noise_type, n_vars, noise_scale, df)
        var_values: dict[int, float] = {}
        for v in order:
            terms = parsed.get(v)
            if terms is None:
                continue
            value = 0.0
            for term in terms:
                if term[0] == "noise":
                    value += noise[v]
                else:
                    _, coef, src, lag = term
                    if lag == 0:
                        value += coef * var_values.get(src, X[t, src])
                    else:
                        value += coef * X[t - lag, src]
            X[t, v] = value
            var_values[v] = value

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
    from ..dsl.registry import equations

    eqs = equations("a2", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no a2 registry for ({n_vars}, {max_lag})")
    # a2 parser semantics (a2.py:108-129): skip 'noise' equations entirely,
    # keep insertion order — iteration order feeds accumulation order.
    links: dict[tuple[str, int, str], float] = {}
    for eq in eqs:
        if "=" not in eq or "noise" in eq:
            continue
        left, right = [s.strip() for s in eq.split("=")]
        tgt = left.split("[")[0]
        for raw in right.split("+"):
            term = raw.strip()
            if "*" in term and "X" in term:
                coeff, var_part = [p.strip() for p in term.split("*")]
                var = var_part.split("[")[0]
                lag_part = var_part.split("[")[1].split("]")[0]
                lag = 0 if lag_part == "t" else -int(lag_part.split("-")[1])
                links[(var, lag, tgt)] = float(coeff)

    # Corpus-vintage override (scripts/corpus_audit.py): every lag-3/4
    # wide file (both noise types) predates the 0.3*X5[t-1] feedback term
    # into X4 — the era other scripts mark with "Removed X5[t-1] term"
    # comments; the current a2.py carries the term at ALL lags and so
    # cannot regenerate its own shipped lag-3/4 data. Implied-residual
    # solves show X4 = 0.25*X1[t-lag] + e4 exactly there, while the lag-2
    # files carry the term.
    if max_lag >= 3 and n_vars >= 6:
        links.pop(("X5", -1, "X4"), None)

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
    noise_extra_vars = {
        int(eq.split("[")[0].strip()[1:]) - 1
        for eq in eqs
        if "=" in eq and "noise" in eq
    }
    groups = _group_links(links, n_vars)
    rows = _irregular_rows(ts, max_lag)
    for t in range(max_lag, n_points):
        r = rows[t]
        noise = _draw(noise_type, n_vars, noise_scale, df)
        written = [False] * n_vars
        for i in range(n_vars - 1, -1, -1):
            value = 0.0
            for coef, si, k, _ in groups[i]:
                value += coef * X[r[k], si]
            if value != 0:
                X[t, i] = value + noise[i]
                written[i] = True
        for i in range(n_vars):
            if not written[i]:
                if i in noise_extra_vars:
                    X[t, i] = _draw(noise_type, 1, noise_scale, df)[0]
                else:
                    X[t, i] = noise[i]

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = ts
    return out


def _linear_terms(right: str) -> list[tuple]:
    """One linear-with-U right-hand side (a1c/d1/d1c grammar) compiled once:
    ``(kind, coef, source_name, source_idx0, lag)`` per term in textual
    order — kind 'e' (the target's own noise slot), 'U' (coef * U[t]) or
    'X' (lag 0 = a same-t read through the per-t memo)."""
    terms = []
    for raw in right.split("+"):
        term = raw.strip()
        if term.startswith("e"):
            terms.append(("e", 0.0, "", 0, 0))
            continue
        coef, var = (p.strip() for p in term.split("*")[:2])
        src = var.split("[")[0].strip()
        if src == "U":
            terms.append(("U", float(coef), src, 0, 0))
            continue
        ti = var.split("[")[1].split("]")[0].strip()
        lag = 0 if ti == "t" else int(ti.split("-")[1])
        terms.append(("X", float(coef), src, int(src[1:]) - 1, lag))
    return terms


def _eval_linear(terms, vi, X, U, t, noise, var_values) -> float:
    """Accumulate one compiled linear equation at step t; same-t X reads go
    through ``var_values`` (the reference's memo, keys and all)."""
    value = 0.0
    for kind, coef, src, si, lag in terms:
        if kind == "e":
            value += noise[vi]
        elif kind == "U":
            value += coef * U[t]
        elif lag:
            value += coef * X[t - lag, si]
        else:
            value += coef * var_values.get(src, X[t, si])
    return value


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
    from ..dsl.registry import equations

    eqs = equations("a1c", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no a1c registry for ({n_vars}, {max_lag})")

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    U = np.zeros(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
        U[i] = _draw(noise_type, 1, noise_scale, df)[0]

    # Deferral: a same-t X dependency not yet computed sends a variable to
    # the back of the queue (a1c.py:196-214). Corpus-vintage quirk
    # (scripts/corpus_audit.py): in the 8-var corpus, X8 alone did NOT
    # defer — its X7[t] read resolves to the zero-initialized current row
    # (implied-operand solve is exactly 0 at every probed timestep, all
    # lags), while X1/X3/X6 in the same files use computed values. The
    # generating script's deferral evidently missed the last-added chain
    # head; replicated as a targeted exception: X8 skips the ready-check
    # and computes immediately (zero-read fallback).
    program: dict[int, tuple[list[tuple], list[str]]] = {}
    for vi in range(n_vars):
        eq = next((e for e in eqs if e.startswith(f"X{vi + 1}")), None)
        if eq is None:
            continue
        terms = _linear_terms(eq.split("=")[1])
        skip_defer = n_vars == 8 and vi == 7
        deps = [] if skip_defer else [
            src for kind, _, src, _, lag in terms if kind == "X" and lag == 0
        ]
        program[vi] = (terms, deps)

    for t in range(max_lag, n_points):
        noise = _draw(noise_type, n_vars + 1, noise_scale, df)
        U[t] = noise[-1]
        var_values: dict[str, float] = {"U": U[t]}
        remaining = list(range(n_vars))[::-1]
        while remaining:
            vi = remaining.pop(0)
            if vi not in program:
                continue
            terms, deps = program[vi]
            if not all(d in var_values for d in deps):
                remaining.append(vi)
                continue
            value = _eval_linear(terms, vi, X, U, t, noise, var_values)
            X[t, vi] = value
            var_values[f"X{vi + 1}"] = value

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


def _parse_poly_links(eqs: list[str]) -> dict[tuple[str, int, str, int], float]:
    """b2.py:160-194 split-chain semantics, including Q1 (power and coef of
    the first term win; the cubic tail is discarded)."""
    links: dict[tuple[str, int, str, int], float] = {}
    for eq in eqs:
        if "=" not in eq:
            continue
        left, right = [s.strip() for s in eq.split("=")]
        if "e" in right and len(right.split("+")) == 1:
            continue
        tgt = left.split("[")[0]
        for raw in right.split("+"):
            term = raw.strip()
            if "*" not in term or "X" not in term:
                continue
            parts = term.split("*")
            coeff = float(parts[0].strip())
            vp = parts[1].strip()
            base = vp.split("^")[0] if "^" in vp else vp
            var = base.split("[")[0]
            power = int(vp.split("^")[1].split(" ")[0]) if "^" in vp else 1
            lag_part = base.split("[")[1].split("]")[0]
            lag = 0 if lag_part == "t" else -int(lag_part.split("-")[1])
            links[(var, lag, tgt, power)] = coeff
    return links


def _poly_steps(X, rows, t0, groups, noise_fn, U=None) -> None:
    """Shared B1/B2/D2 (and, with U, B1C/B2C/D2C — b1c.py:120-137) time
    loop: U first from the last noise slot, then reverse index order,
    ``coef * v**power`` per grouped link, noise added unconditionally.
    ``rows`` is the per-step row table (regular or nearest-abs)."""
    # Reference parity: b1c.py's U^2 polynomials overflow float64 for some
    # B/C-confounded configs and the reference keeps the resulting inf —
    # the corpus regenerates bit-exactly BECAUSE we overflow identically.
    # Silence only the expected scalar-power overflow so the intentional
    # behavior isn't mistaken for a defect in audit logs.
    n_vars = X.shape[1]
    with np.errstate(over="ignore"):
        for t in range(t0, X.shape[0]):
            r = rows[t]
            noise = noise_fn()
            if U is not None:
                U[t] = noise[-1]
            for i in range(n_vars - 1, -1, -1):
                value = 0.0
                for coef, si, k, power in groups[i]:
                    v = U[t] if si is None else X[r[k], si]
                    value += coef * (v ** power)
                X[t, i] = value + noise[i]


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
    from ..dsl.registry import equations

    eqs = equations("b2", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no b2 registry for ({n_vars}, {max_lag})")
    links = _parse_poly_links(eqs)

    _seed_all(seed)
    X = np.zeros((n_points, n_vars))
    ts = _adaptive_timestamps_noreseed(n_points)
    for i in range(max_lag):
        X[i] = _mixed_noise(n_vars, mix_ratio, noise_scale)
    _poly_steps(
        X, _irregular_rows(ts, max_lag), max_lag, _group_links(links, n_vars),
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
    from ..dsl.registry import equations

    eqs = equations("b1", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no b1 registry for ({n_vars}, {max_lag})")
    links = _parse_poly_links(eqs)

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
        X, _regular_rows(n_points, max_lag), max_lag, _group_links(links, n_vars),
        (lambda: frozen) if frozen is not None
        else lambda: _draw(noise_type, n_vars, noise_scale, df),
    )

    out = pd.DataFrame(X, columns=[f"X{i + 1}" for i in range(n_vars)])
    out["time"] = np.arange(n_points)
    return out


# ---------------------------------------------------------------------------
# Trig grammar (C1/C2/D3 and C1C/C2C/D3C): each script carries its own copy
# of evaluate_term; the copies differ only in a few quirks, compiled here
# into fields of each term so the time loop does arithmetic only.
# ---------------------------------------------------------------------------


def _compile_trig(eqs: list[str], grammar: str, trends, seas) -> list[tuple]:
    """Compile a trig equation list once into ``[(target_idx0, terms)]`` in
    list order; each term is ``(op, coef, src_idx0, lag, arg, min_t)``:

    - 'noise' (the target's noise slot) and 'series' (``arg[t]``: that
      target's trend or season array) add without a coefficient;
    - 'u' is ``coef * U[t]`` — LINEAR for any declared power: evaluate_term
      tests ``expr == 'U[t]'`` before it inspects '^' (c2c.py:179-187,
      d3c.py:275-283), so the registry's U[t]^2 evaluates as U[t];
    - 'lin' / 'pow' / 'fn' read ``X[rows[t][lag], src]`` and add
      ``coef * v``, ``coef * v**arg`` or ``coef * arg(v * pi / 2)``
      (arg is np.cos or np.sin).

    ``grammar`` names the script family:

    - 'c1' / 'c1c' (regular time): before ``min_t`` the operand reads 0.0
      (c1.py:143-187 and c1c.py:162-236 guard ``t >= lag``; c1's plain
      lagged term guards ``t > lag``). c1's per-t memo holds exactly what
      was just written to ``X[t]``, so a same-t read of X is that memo.
    - 'c2' / 'c2c' (irregular time): no guards (nearest-abs rows are
      never negative).
    - Quirk Q6: c1, c2 and c2c read a plain lagged term's variable as the
      single digit ``int(expr[1])``; c1c parses the full index.
    """
    regular = grammar in ("c1", "c1c")
    program = []
    for eq in eqs:
        if "=" not in eq or eq.startswith("U["):
            continue
        left, right = eq.split("=")
        vi = int(left.strip().split("[")[0][1:]) - 1
        terms = []
        for raw in right.split("+"):
            term = raw.strip()
            if term.startswith("e"):
                terms.append(("noise", 0.0, 0, 0, None, 0))
                continue
            if term.startswith("trend") or term.startswith("season"):
                series = trends if term.startswith("trend") else seas
                terms.append(("series", 0.0, 0, 0, series[vi], 0))
                continue
            parts = term.split("*")
            coef = float(parts[0].strip())
            expr = parts[1].strip()
            if expr.startswith("U["):
                terms.append(("u", coef, 0, 0, None, 0))
                continue
            if "[t-" in expr and not any(f in expr for f in ("cos", "sin", "^")):
                op, arg = "lin", None
                src = (int(expr[1]) if grammar != "c1c"
                       else int(expr.split("X")[1].split("[")[0])) - 1
                lag = int(expr.split("-")[1].split("]")[0])
                min_t = lag + 1 if grammar == "c1" else lag
            else:
                fname = "cos(" if "cos(" in expr else "sin(" if "sin(" in expr else None
                inner = expr.split(fname)[1].split(")")[0] if fname else expr
                if fname:
                    op, arg = "fn", np.cos if fname == "cos(" else np.sin
                elif "^" in expr:
                    op, arg = "pow", int(expr.split("^")[1])
                else:
                    op, arg = "lin", None
                src = int(inner.split("X")[1].split("[")[0]) - 1
                lag = int(inner.split("-")[1].split("]")[0]) if "[t-" in inner else 0
                min_t = lag
            terms.append((op, coef, src, lag, arg, min_t if regular else 0))
        program.append((vi, terms))
    return program


def _eval_trig(terms, vi, X, U, t, r, noise) -> float:
    """Accumulate one compiled trig equation at step t (``r = rows[t]``)."""
    value = 0.0
    for op, coef, src, lag, arg, min_t in terms:
        if op == "noise":
            value += noise[vi]
        elif op == "series":
            value += arg[t]
        elif op == "u":
            value += coef * U[t]
        else:
            v = X[r[lag], src] if t >= min_t else 0.0
            if op == "lin":
                value += coef * v
            elif op == "pow":
                value += coef * (v ** arg)
            else:
                value += coef * arg(v * np.pi / 2)
    return value


def _trig_core(
    eqs: list[str],
    grammar: str,
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
    program = _compile_trig(eqs, grammar, trends, seas)
    rows = (_regular_rows(n_points, max_lag) if ts is None
            else _irregular_rows(ts, max_lag))
    for t in range(max_lag, n_points):
        r = rows[t]
        noise = step_noise()
        if U is not None:
            U[t] = noise[-1]
        for vi, terms in program:
            X[t, vi] = _eval_trig(terms, vi, X, U, t, r, noise)
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
    t>lag guards (see _compile_trig)."""
    from ..dsl.registry import equations

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


def _two_pass_program(eqs: list[str]):
    """Compile the D1/D1C two-pass schedule once (d1.py:136-212,
    d1c.py:135-217): every X equation as ``(name, target_idx0, terms)``
    in list order for pass 2, and the ones with no same-t term (no 't]'
    substring, so no X[t] or U[t]) for pass 1 — keyed, as the reference's
    loop leaves ``var_name``, by the LAST source variable it read (the
    memo-shadowing bug), or by the target itself if it reads none."""
    pass1, pass2 = [], []
    for eq in eqs:
        if "=" not in eq or eq.startswith("U[t]"):
            continue
        left, right = eq.split("=")
        name = left.split("[")[0]
        vi = int(name[1:]) - 1
        terms = _linear_terms(right)
        pass2.append((name, vi, terms))
        if not any("t]" in term for term in right.split("+")):
            key = next((src for kind, _, src, _, _ in reversed(terms) if kind != "e"), name)
            pass1.append((key, vi, terms))
    return pass1, pass2


def _two_pass_steps(X, U, t0, program, noise_fn) -> None:
    """D1/D1C time loop: pass 1 records each value under its (shadowed)
    key; pass 2 evaluates every equation whose target name no key claims,
    same-t reads going through that memo. With U, U[t] takes the last
    noise slot and the memo starts as {"U": U[t]}."""
    pass1, pass2 = program
    for t in range(t0, X.shape[0]):
        noise = noise_fn()
        var_values: dict[str, float] = {}
        if U is not None:
            U[t] = noise[-1]
            var_values["U"] = U[t]
        for key, vi, terms in pass1:
            value = _eval_linear(terms, vi, X, U, t, noise, var_values)
            X[t, vi] = value
            var_values[key] = value
        for name, vi, terms in pass2:
            if name in var_values:
                continue
            value = _eval_linear(terms, vi, X, U, t, noise, var_values)
            X[t, vi] = value
            var_values[name] = value


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
    from ..dsl.registry import equations

    eqs = equations("d1", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no linear registry for ({n_vars}, {max_lag})")

    _seed_all(seed, "global")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)

    _two_pass_steps(X, None, max_lag, _two_pass_program(eqs),
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
    from ..dsl.registry import equations

    links = _parse_poly_links(equations("d2", n_vars, max_lag))
    if not links:
        raise ValueError(f"no poly registry for ({n_vars}, {max_lag})")
    _seed_all(seed, "global")  # t-stream idiom of this family's script (see _seed_all)
    X = np.zeros((n_points, n_vars))
    ts = _adaptive_timestamps_noreseed(n_points)
    for i in range(max_lag):
        X[i] = _draw(noise_type, n_vars, noise_scale, df)
    _poly_steps(
        X, _irregular_rows(ts, max_lag), max_lag, _group_links(links, n_vars),
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
    from ..dsl.registry import equations

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
    from ..dsl.registry import equations

    eqs = equations("d3", n_vars, max_lag)
    if not eqs:
        raise ValueError(f"no d3 registry for ({n_vars}, {max_lag})")
    _seed_all(seed)

    def _noise() -> np.ndarray:
        return _mixed_noise(n_vars, mix_ratio, noise_scale)

    ts = _adaptive_timestamps_noreseed(n_points)
    X, _ = _trig_core(
        eqs, "c2", n_points, n_vars, max_lag, ts, _noise, _noise, None,
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
