"""Deterministic component projections (G9 trend, G10 seasonality, G11
nonlinear term eval, G3 noise mixture).

All four are pure column expressions in the engine — the reference computes
them as vectorized numpy per series (trend/season: Codes/c1.py:126-141;
nonlinear terms: c1.py:143-187; Gaussian⊕Laplace mixture: b2.py:75-85).
Everything lives in whole-stage codegen; libm results are ROUND(·,6) before
cross-engine hashing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detrand import gaussian_sql, laplace_sql, lcg_uniform_sql
from ..functions.spread import register_spread_view
from ..sources import load
from . import _DUCK_D, _SPARK_D, register

# --------------------------------------------------------------------------
# G9+G10 — trend + two-harmonic seasonality over the reference's (trend,
# seasonal) strength grid (c1.py:428-429), n=200 points, 4 variables.
# trend = strength · 0.5(i+1) · t  (c1.py:126-130)
# season = strength · (sin(2πt/T + φ) + 0.5·cos(4πt/T + φ)), φ = 2πi/8,
# T = 12 (c1.py:132-141).
# --------------------------------------------------------------------------

_TS_N = 200
_TS_PERIOD = 12


def _trend_season_cte(d) -> str:
    return f"""
    WITH strengths AS (
      SELECT ts.trend_strength, ss.seasonal_strength
      FROM (SELECT CAST(0.01 AS DOUBLE) AS trend_strength UNION ALL SELECT 0.02) ts
      CROSS JOIN (SELECT CAST(0.3 AS DOUBLE) AS seasonal_strength UNION ALL SELECT 0.5) ss
    ),
    vars_ AS (SELECT trend_strength, seasonal_strength,
                     {d['expand']('0', '3')} AS var_idx FROM strengths),
    pts AS (SELECT trend_strength, seasonal_strength, var_idx,
                   {d['expand']('0', str(_TS_N - 1))} AS t FROM vars_)
    SELECT trend_strength, seasonal_strength, var_idx, t,
           -- + 0.0 normalizes IEEE signed zero: ROUND can yield -0.0 in one
           -- engine and +0.0 in the other for sin/cos sums that cancel, which
           -- breaks exact value-hash comparison; (-0.0) + 0.0 = +0.0 in both.
           ROUND(trend_strength * (var_idx + 1) * 0.5 * t, 6) + 0.0 AS trend,
           ROUND(seasonal_strength *
                 (SIN(2 * PI() * t / {_TS_PERIOD} + 2 * PI() * var_idx / 8) +
                  0.5 * COS(4 * PI() * t / {_TS_PERIOD} + 2 * PI() * var_idx / 8)),
                 6) + 0.0 AS season
    FROM pts
    """


@register("trend_season", _trend_season_cte(_DUCK_D))
def trend_season(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic trend + seasonality components over the c1 sweep grid —
    pure projection, zero shuffles, whole-stage codegen end to end."""
    return spark.sql(_trend_season_cte(_SPARK_D))


# --------------------------------------------------------------------------
# G11 — nonlinear term evaluation over real data (events.value):
# f ∈ {linear, x², x³, sin(x·π/2), cos(x·π/2)} with the registry's
# coefficient shapes (c1.py:143-187 evaluate_term).
# --------------------------------------------------------------------------

_NONLINEAR_SQL = """
    SELECT event_id, user_id,
           value,
           -- + 0.0 normalizes IEEE signed zero (same reasoning as
           -- trend_season): ROUND of a tiny negative product yields -0.0 in
           -- one engine and +0.0 in the other, breaking exact value-hash.
           ROUND(0.4 * value, 6) + 0.0 AS f_linear,
           ROUND(0.35 * value * value, 6) + 0.0 AS f_power2,
           ROUND(0.2 * value * value * value, 6) + 0.0 AS f_power3,
           ROUND(0.3 * SIN(value * PI() / 2), 6) + 0.0 AS f_sin,
           ROUND(0.25 * COS(value * PI() / 2), 6) + 0.0 AS f_cos
    FROM events
    """


@register("nonlinear_proj", _NONLINEAR_SQL)
def nonlinear_proj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's nonlinear term kinds as one projection over the event
    stream (evaluate_term, c1.py:143-187; powers b2.py:24-27) — narrow scan
    (2 data columns), no shuffle."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_NONLINEAR_SQL)


# --------------------------------------------------------------------------
# G3 — Gaussian⊕Laplace mixture noise (b2.py:75-85): Bernoulli(ratio) mask
# selects the component per draw; swept over the reference's mix ratios
# [0.3, 0.5, 0.7] (b2.py:333). Aggregated with exact decimal sums of the
# pre-rounded draws so the profile is order-independent in both engines.
# --------------------------------------------------------------------------

_MIX_SEL = lcg_uniform_sql("event_id", salt=61)
_MIX_G = gaussian_sql("event_id", salt=62, mean=0.0, std=0.1)
_MIX_L = laplace_sql("event_id", salt=64, loc=0.0, scale=0.1)

_MIX_SQL = f"""
    WITH ratios AS (SELECT CAST(0.3 AS DOUBLE) AS ratio UNION ALL SELECT 0.5 UNION ALL SELECT 0.7),
    base AS (
      -- one projection computes each stream once; the per-ratio CASE then
      -- works on plain columns (keeps the codegen'd expression tree small —
      -- inlining the Box-Muller/LCG text into every branch tripled compile
      -- and eval cost)
      SELECT {_MIX_SEL} AS u_sel,
             ROUND({_MIX_G}, 6) AS g,
             ROUND({_MIX_L}, 6) AS l
      FROM events e
    ),
    draws AS (
      SELECT r.ratio,
             CASE WHEN b.u_sel < r.ratio THEN b.g ELSE b.l END AS x,
             CASE WHEN b.u_sel < r.ratio THEN 1 ELSE 0 END AS is_gauss
      FROM base b CROSS JOIN ratios r
    )
    SELECT ratio,
           COUNT(*) AS n,
           CAST(SUM(CAST(is_gauss AS BIGINT)) AS BIGINT) AS n_gaussian,
           ROUND(CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) AS mean_x,
           ROUND(CAST(SUM(CAST(FLOOR(ROUND(x * x, 6) * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) AS mean_x2,
           ROUND(MIN(x), 6) AS min_x,
           ROUND(MAX(x), 6) AS max_x
    FROM draws
    GROUP BY ratio
    """


@register("noise_mixture", _MIX_SQL)
def noise_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-noise profile per mix ratio: deterministic LCG Bernoulli
    selector over Box-Muller Gaussian vs inverse-CDF Laplace draws
    (generate_noise, b2.py:75-85), moments via exact decimal accumulation of
    pre-rounded draws — bit-stable across engines and partition orders.

    Spark reads a pre-repartitioned view: the per-row math (LCG + ln/cos
    Box-Muller × 3 ratios) is compute-bound and the fixture is one parquet
    row group → one task; the tiny event-id shuffle buys full-width
    execution of the expensive projection (result is order-independent by
    construction)."""
    register_spread_view(
        spark,
        "events_par",
        lambda: load(spark, sf_dir, "events"),
        sf_dir,
        "event_id",
    )
    return spark.sql(_MIX_SQL.replace("FROM events e", "FROM events_par e"))
