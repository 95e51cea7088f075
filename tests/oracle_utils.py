"""Spark-vs-DuckDB comparison harness — mirrors the driver's correctness gate.

The driver runs each `queries()` entry and its `oracle_sql()` twin at sf0.01,
sorts columns by name, and hash-compares values EXACTLY. This module
reproduces that check bit-faithfully: floats are keyed by their IEEE bits
(so -0.0 != 0.0 — the class of bug that passed a tolerance-based compare in
round 2 and failed the driver's hash), NaN == NaN is the only equivalence,
and rows are compared order-insensitively. `pytest tests/` therefore fails
exactly when CORRECTNESS_r{N}.json would go red.
"""

from __future__ import annotations

import math
import struct

import pandas as pd


def canon_cell(v):
    """Bit-faithful canonical form: floats keyed by their IEEE-754 bits so
    that -0.0 != 0.0 and NaN == NaN, matching a byte-level value hash."""
    if v is None:
        return ("null",)
    if isinstance(v, float):
        if math.isnan(v):
            return ("nan",)
        return ("f", struct.pack("<d", v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, bytes):
        return ("y", v)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon_cell(x) for x in v))
    return ("s", str(v))


def _canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    out = []
    for row in pdf[cols].itertuples(index=False, name=None):
        out.append(tuple(canon_cell(_from_pandas(v)) for v in row))
    out.sort()
    return out


def _from_pandas(v):
    """Undo pandas' numpy boxing so canon_cell sees plain Python types."""
    if v is pd.NA or v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return v
    if hasattr(v, "item"):  # numpy scalar
        try:
            return v.item()
        except (ValueError, AttributeError):
            return v
    return v


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{name}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )
    a, b = _canon_rows(spark_pdf), _canon_rows(duck_pdf)
    if a == b:
        return
    diffs = [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
    raise AssertionError(
        f"{name}: bit-exact value mismatch — the driver's hash would fail. "
        f"First sorted-row diffs (index, spark, duck): {diffs}"
    )


# (user_id, event_id, ts_ns, value): the degenerate series the pacf
# contract is pinned on — an exact constant, a singleton, a two-point
# series, a perfect ramp (the 1 - S2 ≈ 0 stress) and a non-representable
# constant (quantization residuals that must clamp to NULL, not overflow
# an ANSI CAST)
PACF_DEGENERATE_ROWS = (
    [(1, i, i * 60_000_000_000, 5.0) for i in range(16)]
    + [(2, 0, 0, 7.5)]
    + [(3, 0, 0, 1.0), (3, 1, 60_000_000_000, 2.0)]
    + [(4, i, i * 60_000_000_000, float(i)) for i in range(64)]
    + [(5, i, i * 60_000_000_000, 0.1) for i in range(32)]
)


def write_events(dir_path, rows) -> str:
    """Write (user_id, event_id, ts_ns, value) rows as ``events.parquet``
    in the fixture's physical encoding (ts as timestamp[us]) and return
    the directory, usable as an ``sf_dir`` by both engines."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    uid, eid, ts, val = (list(c) for c in zip(*rows))
    table = pa.table(
        {
            "event_id": pa.array(eid, pa.int64()),
            "ts": pa.array([t // 1000 for t in ts], pa.timestamp("us")),
            "user_id": pa.array(uid, pa.int64()),
            "value": pa.array(val, pa.float64()),
        }
    )
    pq.write_table(table, str(dir_path / "events.parquet"))
    return str(dir_path)
