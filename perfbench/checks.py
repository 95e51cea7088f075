"""Output checks. Each returns an error string, or None when the output is right.

- ``queries`` ops: bit-exact comparison of the Spark result with the
  query's DuckDB oracle SQL over the same parquet (columns sorted by name,
  rows sorted, floats compared by IEEE bits so -0.0 != 0.0 and NaN == NaN);
- ``sweep`` ops: each family set's row count and order-independent digest
  must equal the fixed values in ``SWEEP_EXPECTED``.
"""

from __future__ import annotations

import math
import os
import struct

# family set -> (rows, digest) of the long-form series written by
# ``generate --families <set> --format parquet``. The generation kernels are
# seeded per config, so these do not depend on the benchmark's --seed.
SWEEP_EXPECTED = {
    "c2": (60000, 8388170889869125435),
    "c2c": (72000, 17988640529120130111),
    "d1": (72000, 12245083399673780502),
    "d1c": (90000, 16972001606827595445),
}


def _canon_cell(v):
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
        return ("l", tuple(_canon_cell(x) for x in v))
    return ("s", str(v))


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


def compare(cols, rows, ocols, orows) -> str | None:
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    a, b = canon_rows(cols, rows), canon_rows(ocols, orows)
    if a != b:
        i = next(i for i, (x, y) in enumerate(zip(a, b)) if x != y)
        return f"row {i} differs from the oracle: {a[i]!r:.200} vs {b[i]!r:.200}"
    return None


def oracle_connection(data_dir: str):
    import duckdb

    from perfbench.datagen import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_rows(con, sql: str):
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def check_query(con, oracle_sql: str, cols, rows) -> str | None:
    ocols, orows = oracle_rows(con, oracle_sql)
    return compare(cols, rows, ocols, orows)


def sweep_digest(out_dir: str) -> tuple[int, int]:
    """(rows, digest) of every long-form series row under ``out_dir``'s
    complete/ and masked/ datasets. The digest is the sum of per-row hashes
    mod 2**64, so it is independent of file layout and row order."""
    import duckdb

    con = duckdb.connect()
    rows = digest = 0
    for label in ("complete", "masked"):
        root = os.path.join(out_dir, label)
        if not os.path.isdir(root):
            continue
        n, h = con.execute(
            # _row (the table alias) is the whole row as a struct
            f"SELECT count(*), coalesce(sum(hash(_row)::HUGEINT), 0) % 18446744073709551616"
            f" FROM read_parquet('{root}/**/*.parquet', hive_partitioning = true) _row"
        ).fetchone()
        rows += int(n)
        digest = (digest + int(h)) % 2**64
    return rows, digest


def check_sweep(family_set: str, out_dir: str) -> str | None:
    got = sweep_digest(out_dir)
    want = SWEEP_EXPECTED[family_set]
    if got != want:
        return f"{family_set}: (rows, digest) {got} != expected {want}"
    return None
