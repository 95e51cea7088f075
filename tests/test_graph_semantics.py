"""Semantic fidelity of the graph-metrics queries vs the reference behavior.

The oracle test only proves Spark == DuckDB on the same SQL; this test proves
the SQL computes what helper_funcs/metrics_helper.py computes. We rebuild
dense (p, p, L+1) bool tensors from the engine's own cell table and score
them with an independent numpy implementation of the documented rules:
confusion counts (metrics_helper.py:7-18), 0-guarded TPR/FDR/F1 (:20-35),
XOR SHD (:37-43), and reversal-aware SHD with self-loop add/delete (:80-138).
"""

from __future__ import annotations

import numpy as np
import pytest

from synth_timeseries_data_spark.queries import _DUCK_D, all_queries
from synth_timeseries_data_spark.queries.graph import _edges_cte


@pytest.fixture(scope="module")
def cells(duck):
    sql = _edges_cte(_DUCK_D) + "SELECT config_id, i, j, k, gt, pred FROM edges"
    return duck.execute(sql).df()


def _tensors(cells, config_id):
    sub = cells[cells["config_id"] == config_id]
    p = int(max(sub["i"].max(), sub["j"].max())) + 1
    L = int(sub["k"].max()) + 1
    gt = np.zeros((p, p, L), dtype=bool)
    pred = np.zeros((p, p, L), dtype=bool)
    gt[sub["i"], sub["j"], sub["k"]] = sub["gt"].astype(bool)
    pred[sub["i"], sub["j"], sub["k"]] = sub["pred"].astype(bool)
    return gt, pred


def _ref_shd_reversal(gt: np.ndarray, pred: np.ndarray) -> int:
    # Independent implementation of the documented rules: per unordered pair
    # and lag, cost = |gt_count - pred_count|, +1 if both have exactly one
    # edge with opposite orientation; self-edges cost add/delete only.
    p, _, L = gt.shape
    shd = 0
    for k in range(L):
        for i in range(p):
            for j in range(i + 1, p):
                gc, pc = int(gt[i, j, k]) + int(gt[j, i, k]), int(pred[i, j, k]) + int(
                    pred[j, i, k]
                )
                cost = abs(gc - pc)
                if gc == 1 and pc == 1 and gt[i, j, k] != pred[i, j, k]:
                    cost += 1
                shd += cost
            if gt[i, i, k] != pred[i, i, k]:
                shd += 1
    return shd


def test_metrics_match_reference_semantics(duck, cells):
    qs = all_queries()
    conf = duck.execute(qs["edge_confusion"].oracle).df().set_index("config_id")
    scores = duck.execute(qs["edge_scores"].oracle).df().set_index("config_id")
    sx = duck.execute(qs["shd_xor"].oracle).df().set_index("config_id")
    sr = duck.execute(qs["shd_reversal"].oracle).df().set_index("config_id")

    for config_id in conf.index[:12]:  # spot-check a dozen configs
        gt, pred = _tensors(cells, config_id)
        tp = int((gt & pred).sum())
        fp = int((~gt & pred).sum())
        fn = int((gt & ~pred).sum())
        tn = int((~gt & ~pred).sum())
        row = conf.loc[config_id]
        assert (tp, fp, fn, tn) == (row.tp, row.fp, row.fn, row.tn), config_id

        tpr = tp / (tp + fn) if tp + fn else 0.0
        fdr = fp / (tp + fp) if tp + fp else 0.0
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        srow = scores.loc[config_id]
        assert abs(srow.tpr - tpr) < 1e-6 and abs(srow.fdr - fdr) < 1e-6
        assert abs(srow.f1 - f1) < 1e-6, config_id

        assert sx.loc[config_id].shd == int((gt ^ pred).sum()), config_id
        assert sr.loc[config_id].shd == _ref_shd_reversal(gt, pred), config_id


def test_shd_identities(duck):
    """SHD_xor == FP + FN; SHD_reversal <= SHD_xor (reversal merges an FP+FN
    pair into cost 2 as well, so equality can hold, never exceed)."""
    qs = all_queries()
    conf = duck.execute(qs["edge_confusion"].oracle).df().set_index("config_id")
    sx = duck.execute(qs["shd_xor"].oracle).df().set_index("config_id")
    sr = duck.execute(qs["shd_reversal"].oracle).df().set_index("config_id")
    for config_id in conf.index:
        row = conf.loc[config_id]
        assert sx.loc[config_id].shd == row.fp + row.fn
        assert sr.loc[config_id].shd <= sx.loc[config_id].shd
