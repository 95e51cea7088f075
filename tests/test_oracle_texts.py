"""Golden pin for every registry oracle text (the DuckDB twin).

The DuckDB twin plus the driver's value hash is the behavioural contract of
each registry query, so the twin's text must not drift when the templates
that render it are refactored. ``tests/data/oracle_texts.csv`` holds one row
per oracle query: its name and the SHA-256 of its oracle text with ``--``
comments stripped, whitespace collapsed and dropped before commas (no
oracle string literal holds a space before a comma); ``scm_output_stats``
reads a temp-dir parquet path, masked to a fixed token. No Spark session is
needed.

Regenerate (only for an intended oracle change) with:

    python tests/test_oracle_texts.py --write
"""

from __future__ import annotations

import csv
import hashlib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "oracle_texts.csv")


def _normalize(sql: str) -> str:
    from synth_timeseries_data_spark.queries.generation import _scm_output_path

    sql = sql.replace(_scm_output_path(), "<SCM_OUTPUT>")
    sql = re.sub(r"--[^\n]*", "", sql)
    return " ".join(sql.split()).replace(" ,", ",")


def oracle_digests() -> dict[str, str]:
    from synth_timeseries_data_spark.queries import all_queries

    return {
        name: hashlib.sha256(_normalize(q.oracle).encode()).hexdigest()
        for name, q in sorted(all_queries().items())
        if q.oracle is not None
    }


def _golden() -> dict[str, str]:
    with open(GOLDEN, newline="") as f:
        return {row["query"]: row["sha256"] for row in csv.DictReader(f)}


def test_oracle_texts_match_golden():
    got, want = oracle_digests(), _golden()
    assert sorted(got) == sorted(want)
    changed = sorted(n for n in want if got[n] != want[n])
    assert not changed, f"oracle text changed: {changed}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_oracle_texts.py --write")
    with open(GOLDEN, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["query", "sha256"])
        w.writerows(oracle_digests().items())
    print(f"wrote {GOLDEN}")
