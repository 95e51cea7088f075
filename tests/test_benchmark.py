"""EP1→EP3 composed benchmark (queries/benchmark.py + the `benchmark`
CLI): generation → persisted corpus → screener → M1-M5 → rollup cube.

The pin is an INDEPENDENT re-scoring: every persisted config is re-scored
in plain numpy/python from the written parquet — exact FLOOR-micro bigint
sums, the shared IEEE correlation formula, capacity-matched top-m with
the unique-key tiebreak, and the reference's confusion/SHD semantics
(metrics_helper.py:7-138 — reversal costs 1, self-edges add/delete only)
— and every metric column must match the engine's scores table exactly.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest

from synth_timeseries_data_spark.__main__ import main
from synth_timeseries_data_spark.queries.benchmark import (
    _SCOREABLE,
    rollup_scores,
)


def _gt_cells(spark):
    """Deduped ground-truth cells per (family, n_vars, max_lag) from the
    attested parse pipeline."""
    from synth_timeseries_data_spark.queries.dsl import _parsed_edges

    cells = {}
    for r in _parsed_edges(spark).collect():
        key = (r.family, r.n_vars, r.max_lag)
        cells.setdefault(key, set()).add(
            (int(r.target[1:]), int(r.source[1:]), r.lag)
        )
    return cells


def _rescore_config(pdf: pd.DataFrame, n_vars: int, max_lag: int,
                    gt: set) -> dict:
    """Numpy re-implementation of the screener + scoring for ONE config's
    long-form frame."""
    wide = {}
    for v in range(1, n_vars + 1):
        sv = pdf[pdf["var"] == f"X{v}"].sort_values("t")["value"].to_numpy()
        wide[v] = sv
    n_pts = len(wide[1])

    def micro_sum(x):
        return int(np.floor(x * 1000000.0).astype(np.int64).sum())

    rho = {}
    for vs in range(1, n_vars + 1):
        for vt in range(1, n_vars + 1):
            for k in range(0, max_lag + 1):
                x = wide[vs][: n_pts - k] if k else wide[vs]
                y = wide[vt][k:] if k else wide[vt]
                n = len(x)
                sx, sy = micro_sum(x), micro_sum(y)
                sxy, sxx = micro_sum(x * y), micro_sum(x * x)
                syy = micro_sum(y * y)
                nf = float(n)
                sxf, syf = sx / 1000000.0, sy / 1000000.0
                sxyf, sxxf = sxy / 1000000.0, syy / 1000000.0
                sxxf = sxx / 1000000.0
                syyf = syy / 1000000.0
                den = math.sqrt(
                    max((nf * sxxf - sxf * sxf) * (nf * syyf - syf * syf),
                        0.0)
                )
                r = None if den == 0.0 else (nf * sxyf - sxf * syf) / den
                rho[(vs, vt, k)] = r

    cand = [(vs, vt, k) for (vs, vt, k) in rho
            if not (vs == vt and k == 0)]
    cand.sort(key=lambda c: (-(abs(rho[c]) if rho[c] is not None
                               else -math.inf), c[0], c[1], c[2]))
    m = len(gt)
    pred = set((vt, vs, k) for (vs, vt, k) in cand[:m])

    cells = [(i, j, k) for i in range(1, n_vars + 1)
             for j in range(1, n_vars + 1)
             for k in range(0, max_lag + 1) if not (i == j and k == 0)]
    tp = sum(1 for c in cells if c in gt and c in pred)
    fp = sum(1 for c in cells if c not in gt and c in pred)
    fn = sum(1 for c in cells if c in gt and c not in pred)
    tn = sum(1 for c in cells if c not in gt and c not in pred)

    # reversal-aware SHD: unordered-pair groups, reversal costs 1
    shd_rev = 0
    seen = set()
    for (i, j, k) in cells:
        lo, hi = min(i, j), max(i, j)
        if (lo, hi, k) in seen:
            continue
        seen.add((lo, hi, k))
        if lo == hi:
            g = 1 if (lo, lo, k) in gt else 0
            p = 1 if (lo, lo, k) in pred else 0
            shd_rev += abs(g - p)
            continue
        g_lo = 1 if (lo, hi, k) in gt else 0      # edge hi -> lo? (i=lo,j=hi)
        g_hi = 1 if (hi, lo, k) in gt else 0
        p_lo = 1 if (lo, hi, k) in pred else 0
        p_hi = 1 if (hi, lo, k) in pred else 0
        shd_rev += abs((g_lo + g_hi) - (p_lo + p_hi))
        if g_lo + g_hi == 1 and p_lo + p_hi == 1 and g_lo != p_lo:
            shd_rev += 1

    tpr = 0.0 if tp + fn == 0 else tp / (tp + fn)
    fdr = 0.0 if tp + fp == 0 else fp / (tp + fp)
    f1 = 0.0 if 2 * tp + fp + fn == 0 else 2 * tp / (2 * tp + fp + fn)
    return dict(tp=tp, fp=fp, fn=fn, tn=tn, tpr=tpr, fdr=fdr, f1=f1,
                shd=fp + fn, shd_rev=shd_rev)


@pytest.fixture(scope="module")
def bench_out(spark):
    out = tempfile.mkdtemp(prefix="cli_bm_")
    assert main(["benchmark", "--families", "b2", "--out", out]) == 0
    yield out
    shutil.rmtree(out, ignore_errors=True)


def test_cli_benchmark_rescore_numpy(spark, bench_out):
    scores = spark.read.parquet(os.path.join(bench_out, "scores"))
    rows = {r.config_id: r for r in scores.collect()}
    assert len(rows) == 24  # b2 complete grid
    gt_all = _gt_cells(spark)
    corpus = pd.read_parquet(os.path.join(bench_out, "complete"))
    for cid, r in rows.items():
        pdf = corpus[corpus["config_id"] == cid]
        gt = gt_all[(r.family, r.n_vars, r.max_lag)]
        want = _rescore_config(pdf, r.n_vars, r.max_lag, gt)
        got = dict(tp=r.tp, fp=r.fp, fn=r.fn, tn=r.tn, tpr=r.tpr,
                   fdr=r.fdr, f1=r.f1, shd=r.shd, shd_rev=r.shd_rev)
        assert got == want, f"{cid}: {got} != {want}"
        assert r.tp + r.fn == len(gt)  # capacity-matched predictor


def test_cli_benchmark_rollup_consistent(spark, bench_out):
    scores = spark.read.parquet(os.path.join(bench_out, "scores"))
    cube = {(r.family, r.n_vars, r.max_lag): r
            for r in rollup_scores(spark, scores).collect()}
    cfg = scores.collect()
    grand = cube[("ALL", "ALL", "ALL")]
    assert grand.n_configs == len(cfg)
    assert grand.tp == sum(r.tp for r in cfg)
    assert grand.avg_f1 == pytest.approx(
        sum(r.f1 for r in cfg) / len(cfg))
    fam = cube[("b2", "ALL", "ALL")]
    assert fam.g_family == 0 and fam.g_n_vars == 1
    assert fam.n_configs == len(cfg)


def test_benchmark_registry_entry_scores_subgrid(spark, smoke_sf_dir):
    from synth_timeseries_data_spark.queries import all_queries

    df = all_queries()["benchmark_scores"].build(spark, smoke_sf_dir)
    rows = df.collect()
    assert len(rows) == 66  # n=500 slice of a1/b2/c1 complete grids
    assert {r.family for r in rows} == set(_SCOREABLE)
    # non-degenerate: the screener recovers structure on linear families
    a1 = [r for r in rows if r.family == "a1"]
    assert sum(r.tp for r in a1) > 0
    for r in rows:
        assert r.shd == r.fp + r.fn


def test_benchmark_scores_parity_golden(spark, smoke_sf_dir):
    """benchmark_scores has no DuckDB oracle: its 66-row score vector is
    pinned by a committed canonical hash instead (columns sorted, rows
    sorted, floats by their IEEE bits — perfbench.checks.canon_rows). The
    vector comes from the generated sub-grid alone, so any sf dir serves.
    An intended change of its output rewrites tests/data/
    benchmark_scores.sha256 with the digest this test reports."""
    import hashlib

    from perfbench.checks import canon_rows
    from synth_timeseries_data_spark.queries import all_queries

    df = all_queries()["benchmark_scores"].build(spark, smoke_sf_dir)
    rows = df.collect()
    digest = hashlib.sha256(
        repr(canon_rows(df.columns, rows)).encode()
    ).hexdigest()
    golden = os.path.join(
        os.path.dirname(__file__), "data", "benchmark_scores.sha256"
    )
    with open(golden) as f:
        assert digest == f.read().strip(), f"{len(rows)} rows hash to {digest}"


def test_score_predictions_perfect_and_reversed(spark):
    """score_predictions (the external-algorithm scoring path): feeding
    the parsed ground truth back as predictions must score PERFECTLY
    (tp = m, fp = fn = 0, f1 = 1, both SHDs 0) for every config; then
    reversing the orientation of exactly one non-symmetric edge must
    cost fp=1 fn=1 (shd_xor=2) but shd_rev=1 — the reference's
    reversal-costs-1 semantics (metrics_helper.py:80-138)."""
    from synth_timeseries_data_spark.queries.benchmark import (
        score_predictions,
    )

    gt = _gt_cells(spark)
    rows = []
    for (fam, v, lag), cells in gt.items():
        for (i, j, k) in cells:
            rows.append((fam, v, lag, i, j, k))
    preds = spark.createDataFrame(
        rows, "family string, n_vars int, max_lag int, i int, j int, k int"
    )
    perfect = score_predictions(spark, preds).collect()
    assert len(perfect) == len(gt)
    for r in perfect:
        m = len(gt[(r.family, r.n_vars, r.max_lag)])
        assert (r.tp, r.fp, r.fn) == (m, 0, 0), r
        assert r.f1 == 1.0 and r.shd == 0 and r.shd_rev == 0

    # reverse one a1 (4,2) edge whose mirror is NOT also a gt edge
    key = ("a1", 4, 2)
    cells = gt[key]
    flip = next((i, j, k) for (i, j, k) in sorted(cells)
                if i != j and (j, i, k) not in cells)
    mutated = [
        (f, v, l, j, i, k) if (f, v, l) == key and (i, j, k) == flip
        else (f, v, l, i, j, k)
        for (f, v, l, i, j, k) in rows
    ]
    preds2 = spark.createDataFrame(
        mutated,
        "family string, n_vars int, max_lag int, i int, j int, k int",
    )
    got = {(r.family, r.n_vars, r.max_lag): r
           for r in score_predictions(spark, preds2).collect()}
    r = got[key]
    assert (r.fp, r.fn, r.shd, r.shd_rev) == (1, 1, 2, 1), r
    # every other config still perfect
    for other, rr in got.items():
        if other != key:
            assert rr.shd == 0 and rr.shd_rev == 0


def test_cli_benchmark_predictions_mode(spark, tmp_path):
    from synth_timeseries_data_spark.queries.dsl import _parsed_edges

    pe = _parsed_edges(spark)
    preds = pe.selectExpr(
        "family", "n_vars", "max_lag",
        "CAST(SUBSTRING(target, 2) AS INT) AS i",
        "CAST(SUBSTRING(source, 2) AS INT) AS j",
        "lag AS k",
    )
    pdir = str(tmp_path / "preds")
    preds.write.parquet(pdir)
    out = str(tmp_path / "bmout")
    assert main(["benchmark", "--predictions", pdir, "--out", out]) == 0
    cube = spark.read.parquet(os.path.join(out, "metrics"))
    grand = cube.where(
        "g_family = 1 AND g_n_vars = 1 AND g_max_lag = 1"
    ).collect()[0]
    assert grand.avg_f1 == 1.0 and grand.avg_shd == 0.0


def test_tetrad_decode_composes_into_scorer(spark, oracle_sf_dir):
    """Decoder → scorer composition: tetrad_edges' decoded output (the
    reference's adjmatrix_to_causal_tensor path) adapts via
    predictions_from_edges into score_predictions with no manual column
    surgery; the scored row is structurally coherent (full confusion
    partition over the cell space, capacity identity tp+fn = |gt|)."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.queries.benchmark import (
        predictions_from_edges,
        score_predictions,
    )

    decoded = all_queries()["tetrad_edges"].build(spark, oracle_sf_dir)
    preds = predictions_from_edges(decoded, "a1", 4, 4)
    r = score_predictions(spark, preds).collect()
    assert len(r) == 1
    row = r[0]
    gt = _gt_cells(spark)[("a1", 4, 4)]
    n_cells = 4 * 4 * 5 - 4  # V*V*(L+1) minus self-at-lag-0
    assert row.tp + row.fp + row.fn + row.tn == n_cells
    assert row.tp + row.fn == len(gt)
    assert row.shd == row.fp + row.fn


def test_cli_benchmark_rejects_unscoreable_family(spark):
    out = tempfile.mkdtemp(prefix="cli_bmr_")
    try:
        assert main(["benchmark", "--families", "d1", "--out", out]) == 2
    finally:
        shutil.rmtree(out, ignore_errors=True)
