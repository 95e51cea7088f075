"""Sampled full-corpus audit as a suite-speed regression net: one file per
family directory through the same build/compare machinery as
scripts/corpus_audit.py (whose full 4320-file sweep (~30 s pooled) is the gold
standard — all exact as of round 4 cont.)."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from scripts.corpus_audit import ROOT, _build, _compare


def _one_file_per_family():
    out = []
    if not os.path.isdir(ROOT):
        return out
    for family in sorted(os.listdir(ROOT)):
        fdir = os.path.join(ROOT, family)
        if not os.path.isdir(fdir):
            continue
        picked = None
        for dirpath, _dirs, files in os.walk(fdir):
            for f in sorted(files):
                # prefer a small-n file so the sample stays fast
                if f.endswith(".csv") and "n500" in f:
                    picked = os.path.join(dirpath, f)
                    break
            if picked:
                break
        if picked:
            out.append((family, picked))
    return out


_SAMPLE = _one_file_per_family()


@pytest.mark.skipif(not _SAMPLE, reason=f"no reference corpus at {ROOT}")
@pytest.mark.parametrize(
    "family,path", _SAMPLE, ids=[f for f, _ in _SAMPLE]
)
def test_family_sample_bitexact(family, path):
    # D families return the full (missing, complete) pair (side-independent
    # worker cache); pick the side the filename names, like _check_one does.
    _which, got = _build(family, path)
    if isinstance(got, tuple):
        got = got[0] if path.endswith("_missing.csv") else got[1]
    ref = pd.read_csv(path, float_precision="round_trip")
    diff = _compare(got, ref)
    assert diff is None, f"{path}: {diff}"


def test_linear_4var_order_invariance():
    """For 4-var configs the reference's reverse index order IS a valid
    topological order, so corpus-mode and current-script-mode evaluation
    must agree bit-for-bit — the quirk table only ever bites 6/8-var."""
    from synth_timeseries_data_spark.generation import generate_linear_config

    a = generate_linear_config(300, 4, 3, "gaussian", seed=42, order_mode="corpus")
    b = generate_linear_config(300, 4, 3, "gaussian", seed=42, order_mode="script")
    assert (a.values == b.values).all()
