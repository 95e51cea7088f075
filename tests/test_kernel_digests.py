"""Bit-exact pin of every sweep grid config without the reference corpus.

`tests/data/kernel_digests.csv` holds, per config of the four generation
grids (530 rows), the long-form row count and the SHA-256 of the frame the
sweep emits for it (floats as IEEE bits). The file was written from the
kernels that last passed the full reference audit; regenerate it only for an
intended output change: ``python scripts/corpus_audit.py --digests --write``.
"""

from __future__ import annotations

import pandas as pd

from scripts.corpus_audit import (
    digest_mismatches,
    frame_digest,
    kernel_digests,
    read_digests,
)


def test_kernel_digests_match_goldens():
    want = read_digests()
    assert len(want) == 530
    bad = digest_mismatches(kernel_digests(), want)
    assert not bad, f"{len(bad)} configs differ:\n" + "\n".join(bad[:20])


def test_frame_digest_sees_float_bits_and_dtypes():
    base = pd.DataFrame({"var": ["X1", "X2"], "value": [0.0, float("nan")]})
    d = frame_digest(base)
    assert frame_digest(base.copy()) == d
    assert frame_digest(base.assign(value=[-0.0, float("nan")])) != d
    assert frame_digest(base.assign(value=base["value"].astype("float32"))) != d
    assert frame_digest(base.assign(var=["X2", "X1"])) != d
