"""Graph-scoring metrics layer (M1-M5) — the evaluation half of the reference.

The reference scores a predicted causal-graph tensor against ground truth with
elementwise numpy ops over dense ``(p, p, L+1)`` bool tensors
(``helper_funcs/metrics_helper.py:7-43`` confusion/TPR/FDR/F1/SHD-XOR,
``:80-138`` reversal-aware SHD). The engine form is an **edge-cell table**
``(config_id, i, j, k, gt, pred)`` — one row per tensor cell — scored with
joins + conditional aggregates, one shuffle on the config key, which is the
shape that scales to millions of configs.

Fixture story: the test corpus has no edge tables, so both engines
deterministically construct the same cell table from the 72-config sweep grid
(VALUES literals) expanded by per-config sequences, with gt/pred drawn from
the shared integer-LCG formula (functions/detrand.py) — bit-identical across
Spark and DuckDB. The only engine-dialect difference is row expansion:
Spark ``explode(sequence(..))`` vs DuckDB ``unnest(generate_series(..))`` —
everything downstream is one shared SQL text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.detrand import lcg_uniform_sql
from . import _duck_expand, _spark_expand, register
from .relational import _CONFIG_GRID_SQL

# Unique integer key per tensor cell, identical in both engines. BIGINT from
# the first operand: VALUES literals are 32-bit and Spark's ANSI mode errors
# on int32 overflow where DuckDB promotes. The LCG reduces mod 2^31 internally
# so bigint magnitude is safe.
_CELLKEY = (
    "((((CAST(n AS BIGINT) * 13 + n_vars) * 17 + max_lag) * 23 + "
    "(CASE WHEN noise = 'gaussian' THEN 0 ELSE 1 END)) * 1000000 + "
    "(i * 1024 + j) * 64 + k)"
)

_GT_U = lcg_uniform_sql("cellkey", salt=11)
_FLIP_U = lcg_uniform_sql("cellkey", salt=13)

# gt ~ Bernoulli(0.15) per cell; pred = gt XOR Bernoulli(0.12) — a noisy
# "algorithm output" with both false positives and false negatives, the shape
# metrics_helper.py is built to score.
_GT_P = 0.15
_FLIP_P = 0.12


def _edges_cte(expand) -> str:
    """Shared cell-table CTE; ``expand(lo, hi)`` renders the engine's
    select-list row expansion (explode/unnest)."""
    return f"""
    WITH grid AS ({_CONFIG_GRID_SQL}),
    g1 AS (SELECT config_id, n, n_vars, max_lag, noise,
                  {expand('0', 'n_vars - 1')} AS i FROM grid),
    g2 AS (SELECT config_id, n, n_vars, max_lag, noise, i,
                  {expand('0', 'n_vars - 1')} AS j FROM g1),
    cells AS (SELECT config_id, n, n_vars, max_lag, noise, i, j,
                     {expand('0', 'max_lag')} AS k FROM g2),
    keyed AS (SELECT config_id, i, j, k, {_CELLKEY} AS cellkey FROM cells),
    edges AS (
      SELECT config_id, i, j, k,
             CASE WHEN {_GT_U} < {_GT_P} THEN 1 ELSE 0 END AS gt,
             CASE WHEN ({_GT_U} < {_GT_P}) != ({_FLIP_U} < {_FLIP_P})
                  THEN 1 ELSE 0 END AS pred
      FROM keyed)
    """


def _dual(body: str):
    """(spark_sql, duck_sql) for a query body over the shared `edges` CTE."""
    return _edges_cte(_spark_expand) + body, _edges_cte(_duck_expand) + body


# --------------------------------------------------------------------------
# M1 — confusion counts (metrics_helper.py:7-18): TP/FP/FN/TN per config via
# conditional aggregation — elementwise logical_and sums become SUM(CASE).
# --------------------------------------------------------------------------

_CONFUSION_BODY = """
    SELECT config_id,
           CAST(SUM(CASE WHEN gt = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN gt = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN gt = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN gt = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM edges
    GROUP BY config_id
    """

_CONFUSION_SPARK, _CONFUSION_DUCK = _dual(_CONFUSION_BODY)


@register("edge_confusion", _CONFUSION_DUCK)
def edge_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TP/FP/FN/TN between gt and predicted edge tensors, per sweep config —
    metrics_helper.py:7-18 as a single conditional aggregate (one shuffle on
    config_id; partial aggregation makes the map side do the counting)."""
    return spark.sql(_CONFUSION_SPARK)


# --------------------------------------------------------------------------
# M2+M3 — TPR/FDR/precision/recall/F1 (metrics_helper.py:20-35), 0-guarded
# exactly like the reference (denominator 0 → 0.0).
# --------------------------------------------------------------------------

_SCORES_BODY = """
    , counts AS (
      SELECT config_id,
             SUM(CASE WHEN gt = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN gt = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN gt = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn
      FROM edges GROUP BY config_id
    ),
    rates AS (
      SELECT config_id,
             CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS tpr,
             CASE WHEN tp + fp > 0 THEN CAST(fp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS fdr,
             CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (tp + fp) ELSE 0.0 END AS precision,
             CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (tp + fn) ELSE 0.0 END AS recall
      FROM counts
    )
    SELECT config_id,
           ROUND(tpr, 6) AS tpr,
           ROUND(fdr, 6) AS fdr,
           ROUND(CASE WHEN precision + recall > 0
                      THEN 2 * precision * recall / (precision + recall)
                      ELSE 0.0 END, 6) AS f1
    FROM rates
    """

_SCORES_SPARK, _SCORES_DUCK = _dual(_SCORES_BODY)


@register("edge_scores", _SCORES_DUCK)
def edge_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPR/FDR (metrics_helper.py:20-29) and F1 (:31-35) per config, with the
    reference's 0-guards (empty denominators score 0.0, not NULL/NaN)."""
    return spark.sql(_SCORES_SPARK)


# --------------------------------------------------------------------------
# M4 — SHD by XOR (metrics_helper.py:37-43): elementwise disagreement count.
# Identity vs M1: shd_xor == fp + fn (covered by a property test).
# --------------------------------------------------------------------------

_SHD_XOR_BODY = """
    SELECT config_id,
           CAST(SUM(CASE WHEN gt != pred THEN 1 ELSE 0 END) AS BIGINT) AS shd
    FROM edges
    GROUP BY config_id
    """

_SHD_XOR_SPARK, _SHD_XOR_DUCK = _dual(_SHD_XOR_BODY)


@register("shd_xor", _SHD_XOR_DUCK)
def shd_xor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural Hamming Distance as elementwise XOR count
    (metrics_helper.py:37-43), per config."""
    return spark.sql(_SHD_XOR_SPARK)


# --------------------------------------------------------------------------
# M5 — reversal-aware SHD (metrics_helper.py:80-138): per unordered pair and
# lag, cost = |gt_count − pred_count| (+1 when both sides have exactly one
# edge with opposite orientation); self-loops cost additions/deletions only.
# The dense double-loop becomes a GROUP BY (least, greatest, lag) with
# orientation kept via conditional MAX — no self-join materialization.
# --------------------------------------------------------------------------

_SHD_REV_BODY = """
    , pairs AS (
      SELECT config_id, LEAST(i, j) AS lo, GREATEST(i, j) AS hi, k,
             MAX(CASE WHEN i < j THEN gt ELSE 0 END) AS gt_lo,
             MAX(CASE WHEN i > j THEN gt ELSE 0 END) AS gt_hi,
             MAX(CASE WHEN i < j THEN pred ELSE 0 END) AS pred_lo,
             MAX(CASE WHEN i > j THEN pred ELSE 0 END) AS pred_hi
      FROM edges WHERE i != j
      GROUP BY config_id, LEAST(i, j), GREATEST(i, j), k
    ),
    pair_cost AS (
      SELECT config_id,
             ABS((gt_lo + gt_hi) - (pred_lo + pred_hi)) +
             CASE WHEN gt_lo + gt_hi = 1 AND pred_lo + pred_hi = 1
                       AND gt_lo != pred_lo
                  THEN 1 ELSE 0 END AS cost
      FROM pairs
    ),
    self_cost AS (
      SELECT config_id, ABS(gt - pred) AS cost FROM edges WHERE i = j
    )
    SELECT config_id, CAST(SUM(cost) AS BIGINT) AS shd
    FROM (SELECT config_id, cost FROM pair_cost
          UNION ALL
          SELECT config_id, cost FROM self_cost) all_costs
    GROUP BY config_id
    """

_SHD_REV_SPARK, _SHD_REV_DUCK = _dual(_SHD_REV_BODY)


@register("shd_reversal", _SHD_REV_DUCK)
def shd_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reversal-aware SHD including autoregressive self-edges
    (metrics_helper.py:80-138): unordered-pair grouping with orientation
    preserved by conditional MAX; reversal (exactly one edge each side,
    opposite direction) costs +1; self-edges count add/delete only."""
    return spark.sql(_SHD_REV_SPARK)
