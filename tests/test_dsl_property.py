"""Hypothesis property tests for the DSL compile/scheduling kernel layer.

The reference's parsers were only ever exercised on the ~150 registry
strings; these properties pin the engine's equation compile on the whole
linear grammar (arbitrary coefficients, lags, and term orders) and the
topological scheduler on arbitrary contemporaneous DAGs — the robustness
the single-digit-index reference parser (quirk Q6) lacks.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from synth_timeseries_data_spark.generation.kernel import (
    compile_equations,
    topo_order,
)


@st.composite
def linear_equations(draw):
    """A synthesized linear DSL equation plus its ground-truth term list."""
    n_vars = draw(st.integers(min_value=2, max_value=9))
    target = draw(st.integers(min_value=1, max_value=n_vars))
    n_terms = draw(st.integers(min_value=1, max_value=4))
    terms = []
    for _ in range(n_terms):
        coef = draw(
            st.decimals(
                min_value="0.01", max_value="0.99", places=2, allow_nan=False
            )
        )
        src = draw(st.integers(min_value=1, max_value=n_vars))
        lag = draw(st.integers(min_value=0, max_value=4))
        terms.append((float(coef), src, lag))
    parts = [
        f"{c} * X{s}[t]" if k == 0 else f"{c} * X{s}[t-{k}]"
        for c, s, k in terms
    ]
    with_noise = draw(st.booleans())
    if with_noise:
        parts.append(f"e{target}")
    eq = f"X{target}[t] = " + " + ".join(parts)
    return eq, target, terms, with_noise


@given(linear_equations())
@settings(max_examples=200, deadline=None)
def test_parse_linear_roundtrip(case):
    """Every synthesized (coef, source, lag) term — and nothing else — must
    come back from the compile, with the noise term iff declared."""
    eq, target, terms, with_noise = case
    [(tgt, parsed)] = compile_equations("a1", [eq])
    assert tgt == target - 1  # compile is 0-indexed
    got_noise = [t for t in parsed if t[0] == "noise"]
    got_terms = [
        (t[1], t[2] + 1, t[3]) for t in parsed if t[0] == "lin"
    ]
    assert len(got_noise) == (1 if with_noise else 0)
    assert sorted(got_terms) == sorted(terms)


@st.composite
def contemporaneous_dags(draw):
    """A random acyclic lag-0 dependency structure as linear equations,
    compiled to a ``{target: terms}`` program."""
    n_vars = draw(st.integers(min_value=2, max_value=8))
    eqs = []
    for v in range(n_vars):
        # acyclic by construction: v may depend only on w > v at lag 0
        deps = draw(
            st.lists(
                st.integers(min_value=v + 1, max_value=n_vars - 1),
                unique=True,
                max_size=max(0, n_vars - 1 - v),
            )
        ) if v < n_vars - 1 else []
        eqs.append(
            f"X{v + 1}[t] = "
            + "".join(f"0.5 * X{w + 1}[t] + " for w in deps)
            + f"e{v + 1}"
        )
    return n_vars, dict(compile_equations("a1", eqs))


@given(contemporaneous_dags())
@settings(max_examples=200, deadline=None)
def test_topo_order_respects_dependencies(case):
    """Every lag-0 source must be scheduled before its target."""
    n_vars, program = case
    order = topo_order(program, n_vars)
    assert sorted(order) == list(range(n_vars))
    pos = {v: i for i, v in enumerate(order)}
    for v, terms in program.items():
        for t in terms:
            if t[0] == "lin" and t[3] == 0:
                assert pos[t[2]] < pos[v], (v, t)
