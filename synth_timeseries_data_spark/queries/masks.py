"""Missingness operators (G13 MCAR, G14 block/burst masking).

MCAR (Codes/d1.py:206-211): iid Bernoulli(rate) cell mask, swept over the
reference's rate grid [0.1, 0.2, 0.3] (d1.py:386).

Block masking (d2.py:112-138): the reference walks rows with Markov state —
with prob block_prob start a block of length U{5..20} hitting a random
subset of variables, suppressing new starts while a block is active. Engine
form is declarative seed-and-expand: Bernoulli seeds → `sequence`/`explode`
span expansion → union of overlapping spans (overlaps merge rather than
being suppressed — the d3.py:122 mask-union behavior; documented deviation
from start-suppression). Block counting is gaps-and-islands over the
expanded cells. Everything derives from the shared LCG so both engines
build the identical mask.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.detrand import lcg_uniform_sql
from ..sources import load
from . import _duck_expand, _spark_expand, register

# --------------------------------------------------------------------------
# G13 — MCAR over the events fixture, swept over the rate grid.
# --------------------------------------------------------------------------

_CELL_U = lcg_uniform_sql("event_id", salt=3)  # same stream as missing_profile


def _mcar_sql(tbl_events: str = "events") -> str:
    return f"""
    WITH rates AS (SELECT CAST(0.1 AS DOUBLE) AS rate UNION ALL SELECT 0.2 UNION ALL SELECT 0.3),
    masked AS (
      SELECT r.rate, e.event_type,
             CASE WHEN {_CELL_U} < r.rate THEN NULL ELSE e.value END AS value
      FROM {tbl_events} e CROSS JOIN rates r
    )
    SELECT rate, event_type,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(value) AS n_missing,
           ROUND(CAST(COUNT(*) - COUNT(value) AS DOUBLE) / COUNT(*), 6) AS empirical_rate
    FROM masked
    GROUP BY rate, event_type
    """


@register("mcar_mask", _mcar_sql())
def mcar_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone MCAR mask swept over the reference's rate grid
    (apply_mcar, d1.py:206-211; grid d1.py:386): deterministic per-cell
    uniform → NULL, profiled per rate × event_type. One scan, one shuffle."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_mcar_sql())


# --------------------------------------------------------------------------
# G14 — block masking on a generated (series, t, var) grid.
# --------------------------------------------------------------------------

_BM_SERIES = 4
_BM_POINTS = 1000
_BM_VARS = 4
_BM_PROB = 0.05

_SEED_U = lcg_uniform_sql("cellkey", salt=51)
_LEN_U = lcg_uniform_sql("cellkey", salt=52)
_NVAR_U = lcg_uniform_sql("cellkey", salt=54)
_VSEL_U = lcg_uniform_sql("(cellkey * 8 + v)", salt=53)


def _block_cte(expand) -> str:
    return f"""
    WITH s AS (SELECT {expand('0', str(_BM_SERIES - 1))} AS sid),
    rows_ AS (SELECT sid, {expand('0', str(_BM_POINTS - 1))} AS t FROM s),
    keyed AS (
      SELECT sid, t, CAST(sid * 100000 + t AS BIGINT) AS cellkey FROM rows_
    ),
    seeds AS (
      SELECT sid, t, cellkey,
             5 + CAST(FLOOR({_LEN_U} * 16) AS INT) AS blen,
             (1 + CAST(FLOOR({_NVAR_U} * {_BM_VARS}) AS INT)) AS n_affected
      FROM keyed
      WHERE {_SEED_U} < {_BM_PROB}
    ),
    seed_vars AS (
      SELECT sid, t, blen, v
      FROM (
        SELECT sid, t, blen, n_affected, cellkey,
               {expand('0', str(_BM_VARS - 1))} AS v
        FROM seeds
      ) sv
      WHERE {_VSEL_U} < CAST(n_affected AS DOUBLE) / {_BM_VARS}
    ),
    spans AS (
      SELECT sid, v,
             {expand('t', f'LEAST(t + blen - 1, {_BM_POINTS - 1})')} AS tt
      FROM seed_vars
    ),
    cells AS (SELECT DISTINCT sid, v, tt FROM spans),
    runs AS (
      SELECT sid, v, tt,
             tt - ROW_NUMBER() OVER (PARTITION BY sid, v ORDER BY tt) AS grp
      FROM cells
    )
    SELECT sid AS series_id, v AS var_idx,
           COUNT(*) AS n_missing,
           COUNT(DISTINCT grp) AS n_blocks,
           MIN(tt) AS first_missing, MAX(tt) AS last_missing
    FROM runs
    GROUP BY sid, v
    """


@register("block_mask", _block_cte(_duck_expand))
def block_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-missingness mask by seed-and-expand (G14, d2.py:112-138):
    Bernoulli seeds carry a drawn length and per-variable hit set, spans
    expand via sequence+explode, overlapping spans union, and block counts
    come from a gaps-and-islands window — no sequential state, scales as one
    shuffle on (series, var)."""
    return spark.sql(_block_cte(_spark_expand))
