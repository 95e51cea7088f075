"""Pin the driver-side integer weight step of quality_classifier
(_qlr_step_weights) to the SQL w{t} CTE it replaced (r11 optimization).

The step's one sharp edge is integer-division semantics: Spark's DIV and
DuckDB's // both TRUNCATE TOWARD ZERO, while Python's // floors — a naive
`gm // 16` would mis-step every negative gradient not divisible by the
shift. The grid here covers signs, shift multiples, off-by-one remainders
and zero against both engines' semantics; the end-to-end 5-round
bit-exactness stays pinned by test_corpus_mining's oracle replay."""

from __future__ import annotations

from synth_timeseries_data_spark.queries.corpus_mining import (
    _QLR_FEATS,
    _QLR_LR_SHIFT,
    _qlr_step_weights,
    _qlr_w_sql,
)

_GMS = [
    0, 1, -1, 15, -15, 16, -16, 17, -17, 31, -31, 32, -32,
    12345678901, -12345678901, 7 * _QLR_LR_SHIFT + 9,
    -(7 * _QLR_LR_SHIFT + 9),
]


def test_qlr_step_div_matches_duckdb():
    import duckdb

    con = duckdb.connect()
    for gm in _GMS:
        expected = con.execute(
            f"SELECT 0 - (CAST({gm} AS BIGINT) // {_QLR_LR_SHIFT})"
        ).fetchone()[0]
        got = _qlr_step_weights({}, [(7, gm)])[7]
        assert got == expected, f"gm={gm}: python {got} != duckdb {expected}"


def test_qlr_step_div_matches_spark(spark):
    rows = spark.sql(
        "SELECT gm, 0 - (gm DIV %d) AS wm FROM VALUES %s AS t(gm)"
        % (_QLR_LR_SHIFT, ", ".join(f"(CAST({g} AS BIGINT))" for g in _GMS))
    ).collect()
    for r in rows:
        got = _qlr_step_weights({}, [(7, r.gm)])[7]
        assert got == r.wm, f"gm={r.gm}: python {got} != spark {r.wm}"


def test_qlr_step_full_join_semantics():
    # w-only features persist untouched; grad-only features step from 0;
    # overlapping features step in place; NULL gm coalesces to 0.
    w = {1: 100, 2: -50}
    grad = [(2, 32), (3, -32), (4, None)]
    out = _qlr_step_weights(w, grad)
    assert out == {1: 100, 2: -52, 3: 2, 4: 0}
    # input dict is not mutated
    assert w == {1: 100, 2: -50}


def test_qlr_weight_literal_returns_every_weight(spark):
    """The per-round weight literal is BIGINT-typed and returns each
    feature's weight exactly — negative values, values past 2^31 (an
    INT-typed literal would overflow or fail) — and 0 for a feature the
    dict lacks, at both ends of the feature range."""
    last = _QLR_FEATS - 1
    w = {0: -7, 5: 3_000_000_000, 6: -(2**40), 9: 2**31, last: -(2**31) - 1}
    feats = [0, 1, 5, 6, 8, 9, last - 1, last]
    expr = _qlr_w_sql(w)
    rows = spark.sql(
        f"SELECT f, {expr} AS wm, typeof({expr}) AS t FROM VALUES "
        + ", ".join(f"(CAST({f} AS BIGINT))" for f in feats)
        + " AS v(f)"
    ).collect()
    assert {r.f: r.wm for r in rows} == {f: w.get(f, 0) for f in feats}
    assert {r.t for r in rows} == {"bigint"}
    assert _qlr_w_sql({}) == _qlr_w_sql({3: 0})
