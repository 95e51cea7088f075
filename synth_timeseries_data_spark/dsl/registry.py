"""Equation registries (G1) — the reference's causal structures as data.

The reference hard-codes DSL strings per (n_vars, max_lag) family
(linear: Codes/a1.py:20-106; polynomial: Codes/b2.py:19-57 — 6/8-var built by
prepending two extra equations to the smaller config, b2.py:44-56;
trigonometric+trend+season: Codes/c1.py:19-109). These strings ARE the
semantic contract: grammar
``target[t] = Σ coef * f(source[t|t-k]) (+ trend_i[t] + season_i[t]) + e_i``.

Stored flat as (family, n_vars, max_lag, eq) rows so both engines (Spark
createDataFrame / DuckDB VALUES) consume the identical text.
"""

from __future__ import annotations

_A1: dict[tuple[int, int], list[str]] = {
    (4, 2): [
        "X4[t] = 0.25 * X1[t-2] + e4",
        "X3[t] = 0.35 * X4[t] + e3",
        "X2[t] = 0.3 * X3[t-1] + e2",
        "X1[t] = 0.4 * X2[t] + e1",
    ],
    (4, 3): [
        "X4[t] = 0.25 * X1[t-2] + e4",
        "X3[t] = 0.35 * X4[t] + 0.2 * X2[t-3] + e3",
        "X2[t] = 0.3 * X3[t-1] + e2",
        "X1[t] = 0.4 * X2[t] + e1",
    ],
    (4, 4): [
        "X4[t] = 0.25 * X1[t-4] + e4",
        "X3[t] = 0.35 * X4[t] + 0.2 * X2[t-3] + e3",
        "X2[t] = 0.3 * X3[t-1] + e2",
        "X1[t] = 0.4 * X2[t] + e1",
    ],
}
# 6- and 8-var linear configs extend the 4-var core with a fixed prefix chain
# (a1.py:44-106); the X4 equation differs per max_lag exactly as in 4-var,
# plus the lag-2 config adds a 0.3*X5[t-1] feedback term into X4.
_A1_PREFIX_6 = ["X6[t] = 0.85 * X5[t] + e6", "X5[t] = 0.4 * X4[t-1] + e5"]
_A1_PREFIX_8 = [
    "X8[t] = 0.4 * X7[t] + e8",
    "X7[t] = 0.35 * X6[t-1] + e7",
    "X6[t] = 0.45 * X5[t] + e6",
    "X5[t] = 0.4 * X4[t-1] + e5",
]
for _lag in (2, 3, 4):
    _core = list(_A1[(4, _lag)])
    if _lag == 2:
        _core[0] = "X4[t] = 0.25 * X1[t-2] + 0.3 * X5[t-1] + e4"
    _A1[(6, _lag)] = _A1_PREFIX_6 + _core
    _A1[(8, _lag)] = _A1_PREFIX_8 + _core


_B2_4: dict[int, list[str]] = {
    2: [
        "X4[t] = 0.25 * X1[t-2]^2 - 0.1 * X1[t-2]^3 + e4",
        "X3[t] = 0.35 * X4[t]^2 - 0.15 * X4[t]^3 + e3",
        "X2[t] = 0.3 * X3[t-1]^2 - 0.05 * X3[t-1]^3 + e2",
        "X1[t] = 0.4 * X2[t]^2 - 0.2 * X2[t]^3 + e1",
    ],
    3: [
        "X4[t] = 0.25 * X1[t-2]^2 - 0.1 * X1[t-2]^3 + e4",
        "X3[t] = 0.35 * X4[t]^2 - 0.15 * X4[t]^3 + 0.2 * X2[t-3]^2 + e3",
        "X2[t] = 0.3 * X3[t-1]^2 - 0.05 * X3[t-1]^3 + e2",
        "X1[t] = 0.4 * X2[t]^2 - 0.2 * X2[t]^3 + e1",
    ],
    4: [
        "X4[t] = 0.25 * X1[t-4]^2 - 0.1 * X1[t-4]^3 + e4",
        "X3[t] = 0.35 * X4[t]^2 - 0.15 * X4[t]^3 + 0.2 * X2[t-3]^2 + e3",
        "X2[t] = 0.3 * X3[t-1]^2 - 0.05 * X3[t-1]^3 + e2",
        "X1[t] = 0.4 * X2[t]^2 - 0.2 * X2[t]^3 + e1",
    ],
}
# b2.py:44-56: larger configs prepend two equations to the smaller config.
_B2_PREFIX_6 = [
    "X6[t] = 0.45 * X5[t]^2 - 0.15 * X5[t]^3 + e6",
    "X5[t] = 0.3 * X4[t-1]^2 - 0.1 * X4[t-1]^3 + e5",
]
_B2_PREFIX_8 = [
    "X8[t] = 0.4 * X7[t]^2 - 0.12 * X7[t]^3 + e8",
    "X7[t] = 0.35 * X6[t-1]^2 - 0.08 * X6[t-1]^3 + e7",
]


_C1_4: dict[int, list[str]] = {
    2: [
        "X4[t] = 0.25 * cos(X1[t-2] * pi/2) + trend4[t] + season4[t] + e4",
        "X3[t] = 0.35 * (X4[t])^2 + trend3[t] + season3[t] + e3",
        "X2[t] = 0.3 * sin(X3[t-1] * pi/2) + trend2[t] + season2[t] + e2",
        "X1[t] = 0.4 * (X2[t])^3 + trend1[t] + season1[t] + e1",
    ],
    3: [
        "X4[t] = 0.25 * cos(X1[t-2] * pi/2) + trend4[t] + season4[t] + e4",
        "X3[t] = 0.35 * (X4[t])^2 + 0.2 * cos(X2[t-3] * pi/2) + trend3[t] + season3[t] + e3",
        "X2[t] = 0.3 * sin(X3[t-1] * pi/2) + trend2[t] + season2[t] + e2",
        "X1[t] = 0.4 * (X2[t])^3 + trend1[t] + season1[t] + e1",
    ],
    4: [
        "X4[t] = 0.25 * cos(X1[t-4] * pi/2) + trend4[t] + season4[t] + e4",
        "X3[t] = 0.35 * (X4[t])^2 + 0.2 * cos(X2[t-3] * pi/2) + trend3[t] + season3[t] + e3",
        "X2[t] = 0.3 * sin(X3[t-1] * pi/2) + trend2[t] + season2[t] + e2",
        "X1[t] = 0.4 * (X2[t])^3 + trend1[t] + season1[t] + e1",
    ],
}


def _c1_equations(n_vars: int, max_lag: int) -> list[str]:
    """C1 DSL for any registry width (c1.py:19-109). 6/8-var prepend the
    chain extensions (trig analogs of A1's); at max_lag=2 X4 gains a lag-1
    X5 term that the lag-3/4 configs drop again ("Removed X5[t-1] term"
    comments in the script). 8-var X6's coefficient is 0.45, not 6-var's
    0.85 — same asymmetry as A1."""
    core = list(_C1_4.get(max_lag, []))
    if not core:
        return []
    if n_vars == 4:
        return core
    if max_lag == 2:
        core = [
            "X4[t] = 0.25 * cos(X1[t-2] * pi/2) + 0.3 * sin(X5[t-1] * pi/2)"
            " + trend4[t] + season4[t] + e4"
        ] + core[1:]
    x5 = "X5[t] = 0.4 * cos(X4[t-1] * pi/2) + trend5[t] + season5[t] + e5"
    if n_vars == 6:
        return [
            "X6[t] = 0.85 * sin(X5[t] * pi/2) + trend6[t] + season6[t] + e6",
            x5,
        ] + core
    if n_vars == 8:
        return [
            "X8[t] = 0.4 * sin(X7[t] * pi/2) + trend8[t] + season8[t] + e8",
            "X7[t] = 0.35 * cos(X6[t-1] * pi/2) + trend7[t] + season7[t] + e7",
            "X6[t] = 0.45 * sin(X5[t] * pi/2) + trend6[t] + season6[t] + e6",
            x5,
        ] + core
    return []


# A2 (irregular sampling, Codes/a2.py:20-106): 4-var configs are identical
# to A1; 6/8-var make X5 implicitly exogenous via the literal string
# "X5[t] = noise_extra" that the parser skips (quirk Q3).
_A2_PREFIX_6 = ["X6[t] = 0.85 * X5[t] + e6", "X5[t] = noise_extra"]
_A2_PREFIX_8 = [
    "X8[t] = 0.4 * X7[t] + e8",
    "X7[t] = 0.35 * X6[t-1] + e7",
    "X6[t] = 0.45 * X5[t] + e6",
    "X5[t] = noise_extra",
]


def _a2_equations(n_vars: int, max_lag: int) -> list[str]:
    core = list(_A1.get((4, max_lag), []))
    if not core:
        return []
    if n_vars == 4:
        return core
    # a2.py:48-50: 6/8-var add a 0.3*X5[t-1] feedback term into X4.
    core[0] = core[0].replace(" + e4", " + 0.3 * X5[t-1] + e4")
    if n_vars == 6:
        return _A2_PREFIX_6 + core
    if n_vars == 8:
        return _A2_PREFIX_8 + core
    return []


# Families that declare no registry of their own and run another family's
# equations: b1 (reverse-derived from the corpus, no committed b1.py) and
# d2 read b2's, d1 reads a1's, d3 reads c2's; a2c and b2c declare
# verbatim-identical registries to a1c and b1c (Codes/a2c.py:19,
# Codes/b2c.py:19).
_SHARES = {"b1": "b2", "d1": "a1", "d2": "b2", "d3": "c2",
           "a2c": "a1c", "b2c": "b1c"}


def equations(family: str, n_vars: int, max_lag: int) -> list[str]:
    """DSL strings for a configuration; [] for unknown configs (the
    reference's registries return [] off-grid, a1.py:106)."""
    family = _SHARES.get(family, family)
    if family == "a1":
        return list(_A1.get((n_vars, max_lag), []))
    if family == "b2":
        if n_vars == 4:
            return list(_B2_4.get(max_lag, []))
        if n_vars == 6:
            return _B2_PREFIX_6 + equations("b2", 4, max_lag)
        if n_vars == 8:
            return _B2_PREFIX_8 + equations("b2", 6, max_lag)
        return []
    if family == "c1":
        return _c1_equations(n_vars, max_lag)
    if family == "a2":
        return _a2_equations(n_vars, max_lag)
    if family == "c2":
        # c2.py:19-58: 4-var configs equal C1's; 6/8-var prepend two extra
        # equations (continuous-time seasonality happens in the kernel, not
        # the DSL text).
        core = list(_C1_4.get(max_lag, []))
        if not core:
            return []
        if n_vars == 4:
            return core
        add6 = [
            "X6[t] = 0.45 * sin(X5[t] * pi/2) + trend6[t] + season6[t] + e6",
            "X5[t] = 0.3 * cos(X4[t-1] * pi/2) + trend5[t] + season5[t] + e5",
        ]
        if n_vars == 6:
            return add6 + core
        if n_vars == 8:
            add8 = [
                "X8[t] = 0.4 * sin(X7[t] * pi/2) + trend8[t] + season8[t] + e8",
                "X7[t] = 0.35 * cos(X6[t-1] * pi/2) + trend7[t] + season7[t] + e7",
            ]
            return add8 + add6 + core
        return []
    from .registry_confounded import CONFOUNDED_REG

    return list(CONFOUNDED_REG.get((family, n_vars, max_lag), []))


def _rows() -> list[tuple[str, int, int, int, str]]:
    out = []
    for family in ("a1", "b2", "c1"):
        for n_vars in (4, 6, 8):
            for max_lag in (2, 3, 4):
                for idx, eq in enumerate(equations(family, n_vars, max_lag)):
                    out.append((family, n_vars, max_lag, idx, eq))
    return out


EQUATION_ROWS: list[tuple[str, int, int, int, str]] = _rows()
