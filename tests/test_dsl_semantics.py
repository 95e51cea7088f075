"""Parser fidelity: the relational parse must equal the reference's
split-chain parsers on the same registry — including quirk Q1 (the '+'-only
split drops '- coef * X^3' tails, keeping the first term's coef and power).

Reference semantics re-implemented here independently (linear:
Codes/a1.py:214-235; polynomial: b2.py:160-194; trig: c1.py:248-290) and run
over the engine's own registry strings.
"""

from __future__ import annotations

from synth_timeseries_data_spark.dsl.registry import EQUATION_ROWS, equations
from synth_timeseries_data_spark.queries import all_queries


def _ref_parse(family: str, eqs: list[str]):
    """(target, source, lag>=0, func) -> coef, per the reference split chains."""
    out = {}
    for eq in eqs:
        if "=" not in eq:
            continue
        left, right = [s.strip() for s in eq.split("=")]
        target = left.split("[")[0]
        for term in (t.strip() for t in right.split("+")):
            if "X" not in term or (family != "c1" and "*" not in term):
                continue
            coef = float(term.split("*")[0].strip())
            if family == "a1":
                var_part = term.split("*")[1].strip()
                source = var_part.split("[")[0]
                lag_part = var_part.split("[")[1].split("]")[0]
                func = "linear"
            elif family == "b2":
                var_part = term.split("*")[1].strip()
                base = var_part.split("^")[0] if "^" in var_part else var_part
                source = base.split("[")[0]
                lag_part = base.split("[")[1].split("]")[0]
                power = (
                    int(var_part.split("^")[1].split(" ")[0]) if "^" in var_part else 1
                )
                func = f"power{power}"
            else:  # c1
                source = "X" + term.split("X")[1].split("[")[0]
                lag_part = "t-" + term.split("[t-")[1].split("]")[0] if "[t-" in term else "t"
                if "cos(" in term:
                    func = "cos"
                elif "sin(" in term:
                    func = "sin"
                elif "^" in term:
                    func = "power" + term.split("^")[1].strip()
                else:
                    func = "linear"
            lag = 0 if lag_part == "t" else int(lag_part.split("-")[1])
            out[(target, source, lag, func)] = coef
    return out


def test_parse_matches_reference_parsers(duck):
    q = all_queries()["parse_edges"]
    got = duck.execute(q.oracle).df()
    for family in ("a1", "b2", "c1"):
        for n_vars in (4, 6, 8):
            for max_lag in (2, 3, 4):
                eqs = equations(family, n_vars, max_lag)
                expect = _ref_parse(family, eqs)
                sub = got[
                    (got.family == family)
                    & (got.n_vars == n_vars)
                    & (got.max_lag == max_lag)
                ]
                actual = {
                    (r.target, r.source, r.lag, r.func): r.coef
                    for r in sub.itertuples()
                }
                assert actual == expect, (family, n_vars, max_lag)


def test_kernel_compile_matches_parse_oracle():
    """The edges the generation kernels compile (the structure sidecar's
    rows) equal the relational parse's DuckDB oracle on a1/b2/c1, as a
    multiset. No Spark: the oracle text reads only the registry VALUES."""
    from collections import Counter

    import duckdb

    from synth_timeseries_data_spark.generation.kernel import structure_edges
    from synth_timeseries_data_spark.queries.dsl import _PARSE_ORACLE

    oracle = duckdb.connect().execute(_PARSE_ORACLE).fetchall()
    compiled = [
        (family, n_vars, max_lag, target, source, lag, func, coef)
        for family in ("a1", "b2", "c1")
        for n_vars in (4, 6, 8)
        for max_lag in (2, 3, 4)
        for source, target, lag, func, coef in structure_edges(family, n_vars, max_lag)
    ]
    assert len(compiled) == 184
    assert Counter(compiled) == Counter(oracle)


def test_q1_quirk_cubic_dropped(duck):
    """B-family equations declare '- 0.1 * X^3' but the effective parse keeps
    only the quadratic with the first coef (SURVEY.md Q1)."""
    q = all_queries()["parse_edges"]
    got = duck.execute(q.oracle).df()
    b2 = got[(got.family == "b2") & (got.n_vars == 4) & (got.max_lag == 2)]
    assert set(b2.func) == {"power2"}
    x4 = b2[(b2.target == "X4")]
    assert len(x4) == 1 and x4.iloc[0].coef == 0.25 and x4.iloc[0].lag == 2


def test_tensor_symmetrizes_val_not_graph(duck):
    """a1.py:263-265: lag-0 weights mirror into val, graph stays directed."""
    q = all_queries()["edge_tensor"]
    got = duck.execute(q.oracle).df()
    cfg = got[(got.n_vars == 4) & (got.max_lag == 2)]
    # X3[t] = 0.35 * X4[t]: direct cell (si=3, ti=2, k=0)
    direct = cfg[(cfg.i == 3) & (cfg.j == 2) & (cfg.k == 0)].iloc[0]
    mirror = cfg[(cfg.i == 2) & (cfg.j == 3) & (cfg.k == 0)].iloc[0]
    assert direct.val == 0.35 and direct.graph == 1
    assert mirror.val == 0.35 and mirror.graph == 0


def test_registry_matches_reference_registry():
    """Spot-pin registry contents against the reference's composition rules."""
    assert len(equations("a1", 8, 4)) == 8
    assert equations("b2", 8, 2)[0].startswith("X8[t] = 0.4 * X7[t]^2")
    assert len(EQUATION_ROWS) == sum(
        len(equations(f, v, l))
        for f in ("a1", "b2", "c1")
        for v in (4, 6, 8)
        for l in (2, 3, 4)
    )
