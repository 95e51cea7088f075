"""Driver-facing query registry.

Each engine operator from SURVEY.md §2 is exposed as a named :class:`Query`
pairing the Spark DataFrame builder with its DuckDB oracle SQL (or ``None``
for genuinely non-SQL-expressible operators, which get a rows-only check).
Keeping the pair in one object is what guarantees the column-name contract:
the driver sorts columns by name before value-hashing, so every computed
column is aliased identically on both sides.

Cross-engine determinism rules (see functions/numeric.py, functions/detrand.py):
- sums/averages of doubles accumulate as FLOOR-micro BIGINTs (exact,
  order-independent; decimal accumulators were retired — Spark's >18-digit
  decimals run on the BigDecimal slow path);
- time scalars are microsecond-epoch BIGINTs;
- libm-dependent results (sin/cos/ln and stats built FROM the exact sums)
  are ROUND(.,6) where a final rounding is safe, raw IEEE where identical
  arithmetic already guarantees bit equality;
- every window/top-k ordering carries a unique-key tiebreak;
- divisions/sqrt that can hit zero on degenerate input carry
  NULLIF/GREATEST guards (Spark ANSI throws where DuckDB yields inf/nan —
  NULL is the one value both engines produce identically).
"""

from __future__ import annotations

import os as _os

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over pre-registered views, or None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


_CLEANUP_PATHS: set[str] = set()


def _cleanup_at_exit(path: str) -> None:
    """Register a per-process tmp output directory for removal at process
    exit — the PID-suffixed workflow outputs (curated corpus, plot bundle)
    would otherwise accumulate one copy per bench/pytest/driver process."""
    import atexit
    import shutil

    if not _CLEANUP_PATHS:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _CLEANUP_PATHS
            ]
        )
    _CLEANUP_PATHS.add(path)


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` under ``name``.

    The registered build is wrapped with :func:`session.tune_for_input`:
    before every build the session's shuffle DOP and AQE posture are sized
    to the input footprint (cost-based DOP selection — fixture-small inputs
    run a plain DAG with one shuffle partition per ~1 MiB of input, capped
    at the core count; at data scale the configured cluster posture with
    AQE stands). The footprint walk is memoized per dataset fingerprint, so
    the wrapper costs a few stat() calls."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query id: {name}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            from ..session import tune_for_input

            tune_for_input(spark, sf_dir)
            return fn(spark, sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        tuned.__wrapped__ = fn
        REGISTRY[name] = Query(
            name=name, build=tuned, oracle=oracle, doc=doc or fn.__doc__ or ""
        )
        return fn

    return wrap


# --------------------------------------------------------------------------
# Dialect table: the one place a dual-engine template learns its engine.
# Every builder that renders a Spark text and its DuckDB twin takes one of
# these dicts as ``d`` and spells each engine difference through an entry;
# semantics are identical. An inline ``d is _SPARK_D`` test marks a
# deliberate plan difference (a hint, a one-pass Spark aggregate against
# the oracle's relational form, a stack against an unnest of structs) and
# says why next to it.
# --------------------------------------------------------------------------

_SPARK_D = {
    "split": lambda s, sep="' '": f"split({s}, {sep})",
    "nl": "'\\n'",
    "len": lambda a: f"size({a})",
    "distinct": lambda a: f"array_distinct({a})",
    "el": lambda a, i: f"element_at({a}, {i})",
    "filter": lambda a, lam: f"filter({a}, {lam})",
    "minarr": lambda a: f"array_min({a})",
    "transform": lambda a, lam: f"transform({a}, {lam})",
    "retokens": lambda s, p: f"size(regexp_extract_all({s}, '{p}', 0))",
    # select-list row expansion: one row per integer in [lo, hi]
    "expand": lambda lo, hi: f"explode(sequence({lo}, {hi}))",
    "seq": lambda lo, hi: f"sequence({lo}, {hi})",
    "unnest": lambda a: f"explode({a})",
    "array": lambda items: f"array({items})",
    # k elements of ``a`` from 1-based ``start`` (truncates at the end);
    # ``bare`` drops the DuckDB bound parentheses (a spelling only)
    "slice": lambda a, start, k, bare=False: f"slice({a}, {start}, {k})",
    "joinarr": lambda a, sep="' '": f"array_join({a}, {sep})",
    # the elements of ``a`` but its first and last
    "inner": lambda a: f"slice({a}, 2, size({a}) - 2)",
    "startswith": "startswith",
    "endswith": "endswith",
    "rlike": lambda x, p: f"{x} rlike '{p}'",
    "intersect": "array_intersect",
    "set_agg": lambda x: f"collect_set({x})",
    # event-time micros: ts is an epoch-ns BIGINT in Spark (sources/tables.py
    # load normalizes it), a TIMESTAMP in DuckDB
    "tus": "(ts div 1000)",
    # window value skipping NULLs
    "lastnn": lambda x: f"last_value({x}, true)",
    "firstnn": lambda x: f"first_value({x}, true)",
    "idiv": "DIV",
    "str": "STRING",
    "hex2int": lambda e: f"CAST(CONV({e}, 16, 10) AS BIGINT)",
    "farr": lambda a: f"transform({a}, x -> CAST(x AS DOUBLE))",
    # the sequential higher-order fold: a flat 64-term element_at sum was
    # A/B'd expecting a codegen win and measured 4x SLOWER (1.7 s vs 0.4 s
    # at sf0.1, semdedup) — the giant expression falls off the fast path
    "dot": lambda a, b: (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    ),
    "norm": lambda a: (
        f"SQRT(aggregate({a}, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
    ),
    # one row per embedding component: (vec_id, 1-based dim, DOUBLE x)
    "comps": lambda src="embeddings": (
        "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x "
        f"FROM {src} LATERAL VIEW posexplode(embedding) AS pos, x"
    ),
    # regexp_replace replaces every match; DuckDB needs the global flag
    "gflag": "",
    # word tokens of w.ws, one row per token, keyed by ``keys``
    "terms": lambda keys="": (
        f"SELECT {keys}tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
    ),
    # one row per element of ``a`` as column ``col`` beside ``src``'s
    # columns, read back as lcol(col). Names only: ``alias`` is DuckDB's
    # unnest relation, ``gen`` Spark's generator (a bare ``AS`` names it
    # "as").
    "lateral": lambda src, a, col, alias="u", gen="": (
        f"{src} LATERAL VIEW explode({a}) {gen} AS {col}"
    ),
    "lcol": lambda col: col,
    # Compute-heavy templates (explode/md5 per word or char) read this
    # instead of `documents`: a view pre-repartitioned to the session's
    # parallelism. The fixture is one parquet row group → one task; without
    # the spread, the whole explode+hash pipeline runs single-threaded no
    # matter how many cores exist. The tiny doc-id shuffle (~KBs) buys
    # full-width execution of the expensive stage — same reasoning at 100 TB
    # when an upstream stage emits few large partitions. DuckDB reads the
    # plain table (it parallelizes within a row group natively).
    "pdocs": "documents_par",
}

_DUCK_D = {
    "split": lambda s, sep="' '": f"str_split({s}, {sep})",
    "nl": "chr(10)",
    "len": lambda a: f"len({a})",
    "distinct": lambda a: f"list_distinct({a})",
    "el": lambda a, i: f"list_extract({a}, {i})",
    "filter": lambda a, lam: f"list_filter({a}, {lam})",
    "minarr": lambda a: f"list_aggregate({a}, 'min')",
    "transform": lambda a, lam: f"list_transform({a}, {lam})",
    "retokens": lambda s, p: f"len(regexp_extract_all({s}, '{p}', 0))",
    "expand": lambda lo, hi: f"unnest(generate_series({lo}, {hi}))",
    "seq": lambda lo, hi: f"generate_series({lo}, {hi})",
    "unnest": lambda a: f"unnest({a})",
    "array": lambda items: f"[{items}]",
    "slice": lambda a, start, k, bare=False: (
        f"{a}[{start}:{start}+{k - 1}]"
        if bare
        else f"{a}[({start}):(({start}) + {k - 1})]"
    ),
    "joinarr": lambda a, sep="' '": f"array_to_string({a}, {sep})",
    "inner": lambda a: f"list_slice({a}, 2, len({a}) - 1)",
    "startswith": "starts_with",
    "endswith": "ends_with",
    "rlike": lambda x, p: f"regexp_matches({x}, '{p}')",
    "intersect": "list_intersect",
    "set_agg": lambda x: f"list(DISTINCT {x})",
    "tus": "epoch_us(ts)",
    "lastnn": lambda x: f"last_value({x} IGNORE NULLS)",
    "firstnn": lambda x: f"first_value({x} IGNORE NULLS)",
    "idiv": "//",
    "str": "VARCHAR",
    "hex2int": lambda e: f"CAST('0x' || {e} AS BIGINT)",
    "farr": lambda a: f"CAST({a} AS DOUBLE[])",
    "dot": lambda a, b: f"list_dot_product({a}, {b})",
    "norm": lambda a: f"SQRT(list_dot_product({a}, {a}))",
    "comps": lambda src="embeddings": (
        "SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
        f"CAST(unnest(embedding) AS DOUBLE) AS x FROM {src}"
    ),
    "gflag": ", 'g'",
    "terms": lambda keys="": f"SELECT {keys}u.term FROM w, unnest(w.ws) AS u(term)",
    "lateral": lambda src, a, col, alias="u", gen="": (
        f"{src}, unnest({a}) AS {alias}({col})"
    ),
    "lcol": lambda col: f"u.{col}",
    "pdocs": "documents",
}

for _d in (_SPARK_D, _DUCK_D):
    # composites, spelled once from the entries above
    _d["bucket"] = (
        lambda salt, col="doc_id", d=_d: d["hex2int"](
            f"SUBSTR(md5(CONCAT('{salt}|', CAST({col} AS {d['str']}))), 1, 15)"
        )
    )
    _d["cos"] = lambda a, b, d=_d: (
        f"{d['dot'](a, b)} / NULLIF({d['norm'](a)} * {d['norm'](b)}, 0.0)"
    )
del _d


def _dual(build):
    """(spark_sql, duck_sql) from a dialect-parameterized builder."""
    return build(_SPARK_D), build(_DUCK_D)


# --------------------------------------------------------------------------
# Driver window scheduling.
#
# The driver verifies the FIRST 50 registry entries each round (a hard cap —
# CORRECTNESS_r07/r08 each carry exactly 50 rows), so with more than 50
# oracle-checkable queries the registry must rotate which entries sit in the
# window. Rounds 1-8 maintained that rotation as a hand-written `_DEMOTED`
# tuple with a ledger comment per move (see this file in git history for the
# full ledger); at 100 oracle entries the hand arithmetic was already at the
# exact capacity of a two-round alternation, and round 9 (which registers 8
# more oracles) replaces it with the scheduler the ledger was approximating:
#
#   window(round N) = the 50 STALEST oracle entries, where staleness is the
#   newest round with a fully-green row (rows+schema+hash, no err) in the
#   committed CORRECTNESS_r*.json artifacts; never-attested entries are
#   stalest of all; ties break by name for determinism.
#
# This is the fair round-robin: with N oracle entries every entry is
# re-attested at least every ceil(N/50) rounds (N=108 -> every entry's
# attestation is at most 2 rounds old in steady state, the best any
# schedule can do under the cap), new entries enter the window immediately,
# and a window entry that FAILS at the driver stays stalest and is retried
# next round. The window derives from the committed artifacts, so the
# rotation is reproducible at the driver and self-maintaining round-over-
# round — no manual ledger to get wrong. tests/test_rotation_hygiene.py
# asserts the stalest-first property and the capacity-aware freshness bound
# against the actual artifacts at commit time.
#
# Every demoted entry remains bit-exactly replayed every session by
# tests/test_oracle.py and scripts/driver_gate.py regardless of window
# position.
# --------------------------------------------------------------------------

_DRIVER_CAP = 50
_REPO_ROOT = _os.path.dirname(
    _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
)


def _correctness_records():
    # parsed once per process: the committed artifacts are immutable for
    # a session's lifetime, and last_green_rounds + last_rowsonly_rounds
    # would otherwise each re-read every file on every all_queries() call
    global _RECORDS_CACHE
    if _RECORDS_CACHE is None:
        import glob
        import json
        import os
        import re

        recs = []
        for path in glob.glob(
            os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")
        ):
            m = re.search(r"_r(\d+)\.json$", path)
            if not m:
                continue
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            if isinstance(rec, dict):
                recs.append((int(m.group(1)), rec))
        _RECORDS_CACHE = recs
    return _RECORDS_CACHE


_RECORDS_CACHE: list | None = None


def last_green_rounds() -> dict[str, int]:
    """name -> newest round whose committed CORRECTNESS_r*.json carries a
    fully-green driver row (rows+schema+hash matched, no error)."""
    out: dict[str, int] = {}
    for rnd, rec in _correctness_records():
        for name, row in rec.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") is True
                and not row.get("err")
            ):
                out[name] = max(out.get(name, -(10**9)), rnd)
    return out


def last_rowsonly_rounds() -> dict[str, int]:
    """name -> newest round with ANY driver record that ran the query and
    counted rows (the rows-only attestation the driver emits for entries
    without an oracle: ``err == 'no_oracle'``, ``spark_rows`` set)."""
    out: dict[str, int] = {}
    for rnd, rec in _correctness_records():
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("spark_rows") is not None:
                out[name] = max(out.get(name, -(10**9)), rnd)
    return out


def stalest_window(oracle_names, rowsonly_names=()) -> frozenset[str]:
    """The ``_DRIVER_CAP`` stalest registry entries (never-attested first,
    then oldest attestation, name tiebreak).

    Oracle entries age by their last fully-green round; rows-only entries
    (no DuckDB oracle — generation sweeps, write workflows) age by their
    last rows-recorded round, so every registry entry — not just the
    oracle-checkable ones — is guaranteed a driver record within the
    capacity bound ceil(N_total/50). (Rounds ≤9 never rotated rows-only
    entries in at all, leaving 5 of them with zero lifetime records —
    VERDICT r9 'What's wrong' #1.)"""
    green = last_green_rounds()
    ran = last_rowsonly_rounds()
    last = {n: green.get(n, -1) for n in oracle_names}
    last.update({n: ran.get(n, -1) for n in rowsonly_names})
    ranked = sorted(last, key=lambda n: (last[n], n))
    return frozenset(ranked[:_DRIVER_CAP])


# Computed (not hand-maintained) on first all_queries() call; kept as a
# module name because tests import it to audit the rotation.
_DEMOTED: frozenset[str] = frozenset()



def all_queries() -> dict[str, Query]:
    # Import side-effect modules once, lazily, to populate REGISTRY.
    from . import relational  # noqa: F401
    from . import timeseries  # noqa: F401
    from . import graph  # noqa: F401
    from . import dsl  # noqa: F401
    from . import codec  # noqa: F401
    from . import masks  # noqa: F401
    from . import multimodal  # noqa: F401
    from . import streaming_analog  # noqa: F401
    from . import io_roundtrip  # noqa: F401
    from . import events_ext  # noqa: F401
    from . import projections  # noqa: F401
    from . import llm_pipeline  # noqa: F401
    from . import corpus_ext  # noqa: F401
    from . import corpus_mining  # noqa: F401
    from . import generation  # noqa: F401
    from . import discovery  # noqa: F401
    from . import benchmark  # noqa: F401

    # The driver verifies the first 50 registry entries in order, so ordering
    # is part of the contract: the stalest-attested entries first (stable in
    # import order within the window), then everything else. Rows-only
    # entries participate in the rotation (aged by their last rows-recorded
    # driver row) so no registry entry goes unattested forever.
    global _DEMOTED
    oracle_names = [q.name for q in REGISTRY.values() if q.oracle is not None]
    rowsonly_names = [q.name for q in REGISTRY.values() if q.oracle is None]
    window = stalest_window(oracle_names, rowsonly_names)
    _DEMOTED = frozenset(REGISTRY) - window
    ordered = sorted(REGISTRY.values(), key=lambda q: q.name in _DEMOTED)
    return {q.name: q for q in ordered}
