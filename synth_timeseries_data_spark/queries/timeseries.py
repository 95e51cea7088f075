"""Irregular-time operators: timestamp generation (G7), the nearest-abs
as-of lag lookup (G8, quirk Q5), and rolling-frame stats (W4).

The as-of op is the reference's hardest relational semantic: for lag k at
irregular time t it takes the argmin of |past_ts − (ts_t − k·mean_gap)| over
ALL past rows (Codes/a2.py:162-167) with mean_gap computed over the WHOLE
series (a2.py:220-223 — deliberate look-ahead, quirk Q5). A plain last-before
ASOF JOIN is not equivalent: a later-but-closer past row wins.

Two scale notes baked into the plan:
- mean(diff(ts)) telescopes to (max−min)/(n−1), so the look-ahead is one
  grouped aggregate, not a window over sorted diffs.
- the argmin over an ever-growing prefix is O(n²) in the reference. Because
  timestamps are sorted within a series, the nearest-abs past row is always
  one of the two rows BRACKETING the target time: the last row at-or-below
  it (max ts ≤ target, min rn on ties) or the first past row above it. The
  Spark plan finds the bracket with a merge-style union (points + probes
  sorted on the time key) and carries both candidates' full PAYLOADS in
  the same relation via two running `last(..) ignore nulls` window passes
  (forward for below, reverse for above), then picks min-by (delta, rn) —
  exact argmin semantics, O(n) rows, zero joins, zero aggregations. The
  DuckDB oracle keeps the direct banded scan; the band is proven equal to
  the unbounded prefix in tests/test_asof.py, so both forms compute the
  same argmin by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detrand import exponential_sql
from ..sources import load
from . import _DUCK_D, _SPARK_D, register

# ---------------------------------------------------------------------------
# G7 — irregular timestamps: cumulative exponential gaps with a min-gap floor.
# The reference's generator (a2.py:146-160) adapts the gap scale to the
# remaining budget and rescales on overflow — inherently sequential state, so
# that exact variant lives in the tier-(b) kernel. The engine's declarative
# form uses the fixed scale total_time/n_points (same marginal gap family)
# and a prefix-sum window — one shuffle on the series key.
# ---------------------------------------------------------------------------

_N_SERIES = 8
_N_POINTS = 500
_TOTAL_TIME = 100.0
_MIN_GAP = 0.1
_SCALE = _TOTAL_TIME / _N_POINTS

_GAP_U = exponential_sql("cellkey", salt=41, scale=_SCALE)


def _irr_cte(d) -> str:
    return f"""
    WITH s AS (SELECT {d['expand']('0', str(_N_SERIES - 1))} AS series_id),
    pts AS (SELECT series_id, {d['expand']('1', str(_N_POINTS))} AS i FROM s),
    keyed AS (
      SELECT series_id, i,
             CAST(series_id * 100000 + i AS BIGINT) AS cellkey
      FROM pts
    ),
    gaps AS (
      SELECT series_id, i,
             CASE WHEN {_GAP_U} > {_MIN_GAP} THEN {_GAP_U}
                  ELSE {_MIN_GAP} END AS gap
      FROM keyed
    )
    SELECT series_id, i,
           ROUND(gap, 6) AS gap,
           ROUND(SUM(gap) OVER (PARTITION BY series_id ORDER BY i
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS ts
    FROM gaps
    """


@register("irregular_ts", _irr_cte(_DUCK_D))
def irregular_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Irregular timestamps as a prefix-sum of floored exponential gaps
    (G7, a2.py:146-160 family) — LCG-uniform → inverse-CDF exponential →
    running-sum window; bit-built from the same SQL text in both engines
    (ln() rounded to 6)."""
    return spark.sql(_irr_cte(_SPARK_D))


# ---------------------------------------------------------------------------
# G8 / Q5 — nearest-abs as-of lag over the events fixture.
# ---------------------------------------------------------------------------

def _asof_sql(d) -> str:
    """Banded nearest-abs as-of oracle with a DATA-DERIVED band.

    The candidate band is not a fixture-calibrated constant: ``band``
    computes B = max over rows i of (rn_i − #{rows with tus < tus_i −
    2·mean_gap}) + max same-(user, tus) group size + 1. Every probe's
    target sits at tus_i − k·mean_gap with k ≤ 2, and rn order equals tus
    order, so the bracket rows (last at-or-below target, first above) and
    the full tie-run at the winning tus all have rn > rn_i − B by
    construction — the band is provably sufficient for ANY gap
    distribution, including bursts of arbitrarily many rows inside one
    mean gap (asserted on an adversarial fixture in tests/test_asof.py).
    On near-regular series B evaluates to single digits, so the oracle
    join also touches fewer candidates than the old fixed 100-row band.
    """
    return f"""
    WITH ev AS (
      SELECT user_id, event_id, value, {d['tus']} AS tus,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events
    ),
    stats AS (
      SELECT user_id,
             (MAX(tus) - MIN(tus)) / CAST(COUNT(*) - 1 AS DOUBLE) AS mean_gap
      FROM ev GROUP BY user_id HAVING COUNT(*) > 1
    ),
    cuts AS (
      SELECT e.user_id, e.rn, e.tus - 2 * s.mean_gap AS cut
      FROM ev e JOIN stats s ON s.user_id = e.user_id
    ),
    bmerged AS (
      SELECT user_id, CAST(tus AS DOUBLE) AS key, 1 AS is_ev,
             CAST(NULL AS BIGINT) AS cut_rn
      FROM ev
      UNION ALL
      SELECT user_id, cut AS key, 0, rn FROM cuts
    ),
    bcount AS (
      -- cut rows sort before event rows at an equal key (is_ev 0 < 1), so
      -- n_below counts events with tus STRICTLY below the cut
      SELECT user_id, cut_rn, is_ev,
             SUM(is_ev) OVER (PARTITION BY user_id ORDER BY key, is_ev
                              ROWS UNBOUNDED PRECEDING) AS n_below
      FROM bmerged
    ),
    maxgrp AS (
      -- equal-delta ties resolve to the FIRST row of the winning tus value
      -- (np.argmin rule); that tie-run can start up to (group size − 1)
      -- rows before the counted boundary, so the largest same-(user, tus)
      -- group widens the band
      SELECT MAX(cnt) AS g
      FROM (SELECT COUNT(*) AS cnt FROM ev GROUP BY user_id, tus) t
    ),
    band AS (
      SELECT COALESCE(MAX(cut_rn - n_below), 1) + (SELECT g FROM maxgrp) + 1 AS b
      FROM bcount WHERE is_ev = 0
    ),
    lags AS (SELECT 1 AS k UNION ALL SELECT 2),
    cur AS (
      SELECT e.user_id, e.event_id, e.rn, l.k,
             e.tus - l.k * s.mean_gap AS target_t
      FROM ev e
      JOIN stats s ON s.user_id = e.user_id
      CROSS JOIN lags l
      WHERE e.rn >= 2
    ),
    cand AS (
      SELECT c.user_id, c.event_id, c.k,
             p.value AS lag_value, p.event_id AS lag_event_id,
             ABS(p.tus - c.target_t) AS delta,
             ROW_NUMBER() OVER (PARTITION BY c.user_id, c.event_id, c.k
                                ORDER BY ABS(p.tus - c.target_t), p.rn) AS pick
      FROM cur c
      JOIN ev p ON p.user_id = c.user_id
               AND p.rn >= c.rn - (SELECT b FROM band) AND p.rn <= c.rn - 1
    )
    SELECT user_id, event_id, k, lag_value, lag_event_id,
           -- no ROUND: delta is pure IEEE arithmetic on identical inputs, so
           -- it is bit-identical across engines already; ROUND(x, 6) is the
           -- only divergence point (Spark rounds the exact binary value via
           -- BigDecimal HALF_UP, DuckDB rounds the scaled double), and delta
           -- lands exactly on .5 micro boundaries whenever (max-min) divides
           -- evenly by 2(n-1).
           delta / 1000000.0 AS delta_sec
    FROM cand WHERE pick = 1
    """


_ASOF_DUCK = _asof_sql(_DUCK_D)

# Spark plan: bracket-based exact argmin, JOIN-FREE (see module docstring).
# For each probe (event, k) the answer is either the last point at-or-below
# target_t (ties in ts → min rn, matching np.argmin's first-index rule) or
# the first past point above it. Both candidate PAYLOADS (tus, rn, value,
# event_id) are carried through the merged points+probes relation by two
# running-window passes — forward for the below bracket, reverse for the
# above bracket — so no candidate fetch join and no final re-aggregation
# exist at all. Because rn order equals tus order, equal-tus tie runs are
# contiguous, and the run-START payload (the np.argmin winner within an
# equal-delta run) propagates inside the SAME sorted pass via
# LAST(... IGNORE NULLS) over a run-boundary flag — no (user, tus) re-sort.
# mean_gap telescopes to whole-partition window aggregates, eliminating the
# stats join. Physical plan: two exchanges on user_id (event spine, merged
# spine), zero joins, zero aggregations — O(n) rows at every stage, and
# each stage is a hash-partitioned window over the series key, the shape
# that scales linearly per decade on the weak-scaling ladder.
_ASOF_SPARK = f"""
    WITH ev AS (
      SELECT user_id, event_id, value, ts, (ts div 1000) AS tus,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             -- Guard: a singleton series has COUNT(*)-1 = 0; under Spark 4's
             -- default ANSI mode a bare division would throw DIVIDE_BY_ZERO.
             -- Singleton rows take the rn >= 2 ELSE branch below (rn = 1), so
             -- a NULL mean_gap is never consumed.
             CASE WHEN COUNT(*) OVER (PARTITION BY user_id) > 1 THEN
               (CAST(MAX(ts div 1000) OVER (PARTITION BY user_id)
                     - MIN(ts div 1000) OVER (PARTITION BY user_id) AS DOUBLE))
                 / (COUNT(*) OVER (PARTITION BY user_id) - 1)
             END AS mean_gap
      FROM events
    ),
    flagged AS (
      SELECT *,
             COALESCE(tus <> LAG(tus) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id),
                      true) AS is_start
      FROM ev
    ),
    evg AS (
      -- gpay = payload of the FIRST row of this row's equal-tus run
      SELECT user_id, tus, rn, mean_gap, event_id,
             LAST(CASE WHEN is_start THEN
                    STRUCT(CAST(tus AS DOUBLE) AS ctus, rn AS crn,
                           value AS cval, event_id AS cid) END, true)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gpay
      FROM flagged
    ),
    merged AS (
      -- ONE window pass feeds both row kinds: each event row explodes into
      -- its point row plus its k ∈ {1,2} probe rows (a union of a second
      -- ev-window subtree would recompute the rank/gap windows over the
      -- whole fact table a second time — measured 2× the stage cost at the
      -- sf10 ladder tier)
      SELECT user_id, r.key, r.is_probe, r.rn, r.gpay,
             r.event_id, r.k, r.probe_rn, r.target_t
      FROM evg
      LATERAL VIEW EXPLODE(CASE WHEN rn >= 2 THEN ARRAY(
        STRUCT(CAST(tus AS DOUBLE) AS key, 0 AS is_probe, rn AS rn,
               gpay AS gpay, CAST(NULL AS BIGINT) AS event_id,
               CAST(NULL AS INT) AS k, CAST(NULL AS INT) AS probe_rn,
               CAST(NULL AS DOUBLE) AS target_t),
        STRUCT(tus - mean_gap AS key, 1 AS is_probe, CAST(NULL AS INT) AS rn,
               NULL AS gpay, event_id AS event_id, 1 AS k, rn AS probe_rn,
               tus - mean_gap AS target_t),
        STRUCT(tus - 2 * mean_gap AS key, 1 AS is_probe,
               CAST(NULL AS INT) AS rn, NULL AS gpay, event_id AS event_id,
               2 AS k, rn AS probe_rn, tus - 2 * mean_gap AS target_t)
      ) ELSE ARRAY(
        STRUCT(CAST(tus AS DOUBLE) AS key, 0 AS is_probe, rn AS rn,
               gpay AS gpay, CAST(NULL AS BIGINT) AS event_id,
               CAST(NULL AS INT) AS k, CAST(NULL AS INT) AS probe_rn,
               CAST(NULL AS DOUBLE) AS target_t)
      ) END) x AS r
    ),
    bracketed AS (
      SELECT user_id, event_id, k, probe_rn, target_t, is_probe,
             -- below: last event run at key ≤ target (events sort before
             -- probes at an equal key, so at-or-below includes exact hits);
             -- the carried gpay is that run's FIRST row — the argmin
             -- tie-break winner
             LAST(CASE WHEN is_probe = 0 THEN gpay END, true)
               OVER (PARTITION BY user_id ORDER BY key, is_probe, rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS below,
             -- above: first event run at key > target, found by the reverse
             -- scan (probes sort before events at an equal key here, so
             -- exact hits are excluded); scanning rn DESC ends each run on
             -- its FIRST row, whose gpay is itself — so the same carried
             -- gpay is again the run's argmin tie-break winner
             LAST(CASE WHEN is_probe = 0 THEN gpay END, true)
               OVER (PARTITION BY user_id ORDER BY key DESC, is_probe DESC, rn DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS above
      FROM merged
    ),
    scored AS (
      SELECT user_id, event_id, k,
             CASE WHEN below.crn <= probe_rn - 1
                  THEN STRUCT(ABS(below.ctus - target_t) AS delta,
                              below.crn AS rn, below.cval AS lag_value,
                              below.cid AS lag_event_id) END AS b,
             CASE WHEN above.crn <= probe_rn - 1
                  THEN STRUCT(ABS(above.ctus - target_t) AS delta,
                              above.crn AS rn, above.cval AS lag_value,
                              above.cid AS lag_event_id) END AS a
      FROM bracketed WHERE is_probe = 1
    )
    SELECT user_id, event_id, k,
           LEAST(b, a).lag_value AS lag_value,
           LEAST(b, a).lag_event_id AS lag_event_id,
           LEAST(b, a).delta / 1000000.0 AS delta_sec
    FROM scored
    WHERE b IS NOT NULL OR a IS NOT NULL
    """


@register("asof_lag", _ASOF_DUCK)
def asof_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-abs as-of lag (G8): argmin |past_ts − (ts − k·mean_gap)| over
    past rows, k ∈ {1,2}, mean_gap = whole-series mean(diff) computed as
    (max−min)/(n−1) (a2.py:162-167, 220-223; quirk Q5 — nearest wins even if
    farther below, and the mean gap look-ahead is deliberate). Ties break to
    the earlier row exactly like np.argmin. Spark plan is the join-free
    bracket-based exact argmin (see the _ASOF_SPARK comment): two window
    passes carry both bracket payloads — zero joins, zero aggregations,
    O(n) rows end-to-end, no per-probe candidate scan."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ASOF_SPARK)


# ---------------------------------------------------------------------------
# W4 — rolling-frame statistics over the event stream.
# ---------------------------------------------------------------------------

_ROLL_ORACLE = """
    SELECT user_id, event_id,
           -- micro-floored rolling mean: Spark evaluates sliding frames
           -- incrementally (add/retract) while DuckDB recomputes them, so a
           -- double AVG can differ in the last ulp; the bigint frame sum is
           -- exact under both strategies
           ROUND(CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) OVER w AS DOUBLE)
                 / 1000000.0 / (COUNT(*) OVER w), 6) + 0.0 AS roll_mean,
           MIN(value) OVER w AS roll_min,
           MAX(value) OVER w AS roll_max,
           COUNT(*) OVER w AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """


@register("rolling_stats", _ROLL_ORACLE)
def rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling last-10 mean/min/max per series (W4) — one window shuffle on
    the series key, frame evaluated incrementally by both engines."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    ev = load(spark, sf_dir, "events")
    micro_sum = F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint")).over(w)
    return ev.select(
        "user_id",
        "event_id",
        (
            F.round(
                micro_sum.cast("double") / 1000000.0 / F.count("*").over(w), 6
            )
            + 0.0
        ).alias("roll_mean"),
        F.min("value").over(w).alias("roll_min"),
        F.max("value").over(w).alias("roll_max"),
        F.count("*").over(w).alias("roll_n"),
    )


_ROLL_MEDIAN_ORACLE = """
    SELECT user_id, event_id,
           quantile_cont(value, 0.5) OVER w AS roll_median,
           quantile_cont(value, 0.9) OVER w AS roll_p90
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    """

def _lerp_quantile(arr: str, q: str) -> str:
    """Exact Spark-`percentile` interpolation over a sorted array column.

    Replicates Percentile.getPercentile (Spark sql/catalyst): position =
    q·(n−1); if ceil(position) == floor(position) return a[position], else
    the symmetric form (hi − pos)·a[lo] + (pos − lo)·a[hi]. Evaluating this
    as codegen'd array arithmetic is bit-identical to the interpreted
    `percentile` window aggregate (and, gate-verified, to DuckDB's
    quantile_cont) while staying inside whole-stage codegen.
    """
    # q must be a DOUBLE literal ('0.9D'): a bare 0.9 parses as DECIMAL(1,1)
    # and (ceil(pos) - pos) then runs exact decimal arithmetic, diverging
    # from the aggregate's double arithmetic by 1 ulp on some frames.
    pos = f"({q} * (size({arr}) - 1))"
    lo = f"FLOOR({pos})"
    hi = f"CEILING({pos})"
    lo_v = f"element_at({arr}, CAST({lo} AS INT) + 1)"
    hi_v = f"element_at({arr}, CAST({hi} AS INT) + 1)"
    return (
        f"CASE WHEN size({arr}) = 0 THEN CAST(NULL AS DOUBLE) "
        f"WHEN {hi} = {lo} THEN {lo_v} "
        f"ELSE ({hi} - {pos}) * {lo_v} + ({pos} - {lo}) * {hi_v} END"
    )


_ROLL_MEDIAN_SPARK = f"""
    SELECT user_id, event_id,
           {_lerp_quantile('fr', '0.5D')} AS roll_median,
           {_lerp_quantile('fr', '0.9D')} AS roll_p90
    FROM (
      SELECT user_id, event_id,
             array_sort(collect_list(value) OVER w) AS fr
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
    )
    """


@register("rolling_median", _ROLL_MEDIAN_ORACLE)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median and p90 over the last-10 frame per series — the
    order-statistics window op. Spark's `percentile` window aggregate is an
    interpreted ImperativeAggregate that rebuilds a count-map per frame;
    for a bounded 10-row frame, collecting the frame with `collect_list`
    (a cheap buffer append per row) and evaluating sort + linear
    interpolation as codegen'd array expressions is ~4× faster and
    bit-identical (DuckDB `quantile_cont` uses the same interpolation on
    the sorted frame). One window shuffle on the series key, like every W4
    frame op; frame arrays are bounded (≤10), so memory is O(rows·10)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_ROLL_MEDIAN_SPARK)


# --------------------------------------------------------------------------
# interpolate_ts: linear gap-fill of a masked irregular series (round 8) —
# the reconstruction complement of the masking family: mcar_mask PROFILES
# the deterministic Bernoulli holes; this fills them the way downstream
# consumers do before a model sees the series (linear interpolation from
# the bracketing surviving observations, forward/back-fill at the series
# edges). Uses the SAME per-cell LCG stream as mcar_mask (salt 3), so the
# holes it fills are bit-identically the holes that query reports.
# --------------------------------------------------------------------------

_ITP_RATE = 0.2  # the rate grid's middle point (d1.py:386)


def _interpolate_sql(d, carry: tuple = ()) -> str:
    """``carry``: (source_expr, name) pass-through columns for composers —
    imputation_error carries the TRUTH value and event_type through the
    pipeline instead of joining back to the events scan (r10
    optimization); interpolate_ts itself always calls with carry=() so
    its declared projection is byte-identical to the attested form."""
    from ..functions.detrand import lcg_uniform_sql

    u = lcg_uniform_sql("event_id", salt=3)
    carry_src = "".join(f", {src} AS {name}" for src, name in carry)
    carry_thru = "".join(f", {name}" for _, name in carry)
    lastnn, firstnn = d["lastnn"], d["firstnn"]
    return f"""
    WITH m AS (
      SELECT user_id, event_id, {d['tus']} AS ts_us,
             CASE WHEN {u} < {_ITP_RATE} THEN NULL ELSE value END AS v{carry_src}
      FROM events
    ),
    w AS (
      SELECT user_id, event_id, ts_us, v{carry_thru},
             {lastnn('v')} OVER prevw AS pv,
             {lastnn('CASE WHEN v IS NOT NULL THEN ts_us END')}
               OVER prevw AS pt,
             {firstnn('v')} OVER nextw AS nv,
             {firstnn('CASE WHEN v IS NOT NULL THEN ts_us END')}
               OVER nextw AS nt
      FROM m
      WINDOW prevw AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             nextw AS (PARTITION BY user_id ORDER BY ts_us, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, ts_us{carry_thru},
           v IS NULL AS was_masked,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt != pt
                  THEN pv + (nv - pv) * (CAST(ts_us - pt AS DOUBLE)
                       / CAST(nt - pt AS DOUBLE))
                WHEN pv IS NOT NULL THEN pv
                ELSE nv END AS value_filled
    FROM w
    """


_ITP_DUCK = _interpolate_sql(_DUCK_D)


@register("interpolate_ts", _ITP_DUCK)
def interpolate_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill of the MCAR-masked event series: each masked cell
    (the SAME deterministic Bernoulli holes mcar_mask profiles, salt-3
    LCG stream, rate 0.2) is reconstructed from its bracketing surviving
    observations by exact linear interpolation on the microsecond axis —
    forward-fill past the last observation, back-fill before the first,
    NULL only for an all-masked series. The reconstruction step every
    downstream model consumer runs between the missingness family and a
    training batch. Oracle-registered since round 9 (_ITP_DUCK); the twin
    is also bit-exactly replayed every session by the suite's canon
    compare.

    Scale shape: ONE series-keyed exchange feeding two ignore-nulls
    running-value window passes over the same sort (forward bracket,
    backward bracket — the asof_lag device), then a row-local CASE; no
    joins, nothing series-quadratic, skew bound = longest single series.
    The interpolation arithmetic is exact-integer time deltas cast to
    double, so both engines emit bit-identical doubles."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_interpolate_sql(_SPARK_D))


# --------------------------------------------------------------------------
# outlier_flags: robust per-series anomaly detection (round 8) — the
# median/MAD rule every series-profiling pass runs before trusting a
# sensor: a point is anomalous iff |v - median| > 3 * MAD. Both statistics
# use EXACT RANK arithmetic (the length_percentiles device): the median is
# the lower-middle ELEMENT under (value, event_id) ordering — an existing
# value, never an interpolation — and the MAD is the same rule over
# |v - median|, so no engine-divergent percentile interpolation exists
# anywhere and the flag comparison is a deterministic double compare.
# --------------------------------------------------------------------------


def _outlier_sql(d) -> str:
    tus, idiv = d["tus"], d["idiv"]
    return f"""
    WITH base AS (
      SELECT user_id, event_id, {tus} AS ts_us, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    med AS (
      SELECT user_id, event_id, ts_us, value,
             MAX(CASE WHEN rn = (n + 1) {idiv} 2 THEN value END)
               OVER (PARTITION BY user_id) AS med
      FROM base
    ),
    dev AS (
      SELECT user_id, event_id, ts_us, value, med,
             ABS(value - med) AS adev,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ABS(value - med), event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM med
    )
    SELECT user_id, event_id, ts_us, value, med,
           MAX(CASE WHEN rn = (n + 1) {idiv} 2 THEN adev END)
             OVER (PARTITION BY user_id) AS mad,
           adev > 3 * MAX(CASE WHEN rn = (n + 1) {idiv} 2 THEN adev END)
             OVER (PARTITION BY user_id) AS is_outlier
    FROM dev
    """


_OUTLIER_DUCK = _outlier_sql(_DUCK_D)


@register("outlier_flags", _OUTLIER_DUCK)
def outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series outlier detection: |v - median| > 3 * MAD per
    user series, with BOTH statistics as exact rank picks (lower-middle
    element under a unique-key tiebreak — the length_percentiles device,
    so no percentile interpolation can diverge between engines) and the
    flag a plain double comparison. A constant series has MAD 0 and
    flags nothing (strict >). Oracle-registered since round 9
    (_OUTLIER_DUCK); full canon-compare pin in the suite as well.

    Scale shape: three window passes over ONE user-keyed exchange (two
    value-ordered rank sorts + the full-partition MAX picks); no joins;
    skew bound = longest single series. At 100 TB the same plan runs
    per-partition after a series-keyed repartition — nothing is
    corpus-global."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_outlier_sql(_SPARK_D))


# --------------------------------------------------------------------------
# imputation_error: the benchmark metric over the gap-fill (round 8) — the
# engine GENERATES masked series (mcar_mask), RECONSTRUCTS them
# (interpolate_ts), and here SCORES the reconstruction against the ground
# truth it held back: MAE / RMSE over exactly the masked cells, per event
# type. This is the evaluation loop a missing-data benchmark runs — the
# reference exists to generate exactly such benchmark datasets.
# --------------------------------------------------------------------------


def _imputation_error_sql(d) -> str:
    if d is _SPARK_D:
        # r10 optimization: the truth value and event_type are columns of
        # the SAME events scan the interpolation pipeline masks, so carry
        # them through the window instead of joining the filled relation
        # back to a second events scan on event_id — the join (an extra
        # corpus-sized scan + equi-join at any scale) disappears; rows and
        # every aggregate are identical because the join was 1:1 on
        # event_id. The DuckDB oracle keeps the composed join form.
        filled = _interpolate_sql(
            d, carry=(("value", "v_true"), ("event_type", "event_type"))
        )
        return f"""
    WITH filled AS ({filled})
    SELECT f.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN f.value_filled IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unfilled,
           CAST(SUM(CAST(FLOOR(ABS(f.value_filled - f.v_true) * 1000000.0)
                         AS BIGINT)) AS BIGINT) AS sae_micro,
           CAST(SUM(CAST(FLOOR((f.value_filled - f.v_true)
                               * (f.value_filled - f.v_true) * 1000000.0)
                         AS BIGINT)) AS BIGINT) AS sse_micro,
           CAST(SUM(CAST(FLOOR(ABS(f.value_filled - f.v_true) * 1000000.0)
                         AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(f.value_filled) AS DOUBLE)
                * CAST(1000000.0 AS DOUBLE)) AS mae,
           ROUND(SQRT(CAST(SUM(CAST(FLOOR((f.value_filled - f.v_true)
                                          * (f.value_filled - f.v_true)
                                          * 1000000.0) AS BIGINT))
                           AS DOUBLE)
                      / (CAST(COUNT(f.value_filled) AS DOUBLE)
                         * CAST(1000000.0 AS DOUBLE))), 9) + 0.0 AS rmse
    FROM filled f
    WHERE f.was_masked
    GROUP BY f.event_type
    """
    filled = _interpolate_sql(d)
    return f"""
    WITH filled AS ({filled})
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_masked,
           CAST(SUM(CASE WHEN f.value_filled IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unfilled,
           CAST(SUM(CAST(FLOOR(ABS(f.value_filled - e.value) * 1000000.0)
                         AS BIGINT)) AS BIGINT) AS sae_micro,
           CAST(SUM(CAST(FLOOR((f.value_filled - e.value)
                               * (f.value_filled - e.value) * 1000000.0)
                         AS BIGINT)) AS BIGINT) AS sse_micro,
           CAST(SUM(CAST(FLOOR(ABS(f.value_filled - e.value) * 1000000.0)
                         AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(f.value_filled) AS DOUBLE)
                * CAST(1000000.0 AS DOUBLE)) AS mae,
           ROUND(SQRT(CAST(SUM(CAST(FLOOR((f.value_filled - e.value)
                                          * (f.value_filled - e.value)
                                          * 1000000.0) AS BIGINT))
                           AS DOUBLE)
                      / (CAST(COUNT(f.value_filled) AS DOUBLE)
                         * CAST(1000000.0 AS DOUBLE))), 9) + 0.0 AS rmse
    FROM filled f
    JOIN events e ON e.event_id = f.event_id
    WHERE f.was_masked
    GROUP BY e.event_type
    """


_IMP_ERR_DUCK = _imputation_error_sql(_DUCK_D)


@register("imputation_error", _IMP_ERR_DUCK)
def imputation_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The evaluation step of the missingness loop: MAE/RMSE of
    interpolate_ts' reconstruction against the held-back true values,
    over exactly the masked cells (same salt-3 LCG holes), per event
    type — what a missing-data benchmark built on the generated corpora
    reports. Error sums accumulate as FLOOR-micro BIGINTs
    (order-independent); MAE is their exact-integer quotient; RMSE's
    sqrt is the one libm call, snapped ROUND(.,9)+0.0. Unfillable cells
    (all-masked series) are counted, not silently dropped. Oracle-
    registered since round 9 (_IMP_ERR_DUCK); canon-compare pin in the
    suite as well.

    Scale shape: interpolate_ts' one series-keyed window exchange, an
    event_id-equi join back to the truth scan, and one
    event-type-bounded aggregation with map-side partials."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_imputation_error_sql(_SPARK_D))


# --------------------------------------------------------------------------
# acf: per-series autocorrelation function (round 9) — the first statistic
# a consumer of synthetic SCM series verifies: does the generated corpus
# carry the lag structure its equations imply (an AR term at lag k must
# show up as autocorrelation mass at k; an independent-noise series must
# not). Complements trend_fit (deterministic structure) and
# sampling_hist (time axis) on the verification side, and the
# generation-layer stitched-ACF property test with an ORACLE-CHECKED
# relational form. Same exact-sum discipline as corr_matrix: per (series,
# lag) raw sums as FLOOR-micro BIGINTs over the lag-aligned pairs, one
# shared IEEE correlation formula, NULLIF degenerate guard.
# --------------------------------------------------------------------------

_ACF_LAGS = 8


def _acf_sql(d) -> str:
    tus = d["tus"]
    lags = ", ".join(
        f"LAG(value, {k}) OVER win AS l{k}" for k in range(1, _ACF_LAGS + 1)
    )
    if d is _SPARK_D:
        # stack() unpivots in ONE pass of the window relation; a UNION ALL
        # of per-lag branches would re-execute the window 8x (Spark
        # inlines CTEs — the discovery_benchmark metric-tail lesson)
        unpivot = (
            "LATERAL VIEW stack("
            + str(_ACF_LAGS)
            + ", "
            + ", ".join(f"{k}, l{k}" for k in range(1, _ACF_LAGS + 1))
            + ") u AS k, y"
        )
        pairs = f"SELECT user_id, value AS x, k, y FROM w {unpivot}"
    else:
        structs = ", ".join(
            f"{{'k': {k}, 'y': l{k}}}" for k in range(1, _ACF_LAGS + 1)
        )
        pairs = (
            f"SELECT user_id, value AS x, "
            f"unnest([{structs}], recursive := true) FROM w"
        )
    def m(expr: str, alias: str) -> str:
        return f"SUM(CAST(FLOOR(({expr}) * 1000000.0) AS BIGINT)) AS {alias}"

    return f"""
    WITH w AS (
      SELECT user_id, value, {lags}
      FROM (SELECT user_id, event_id, {tus} AS ts_us, value FROM events) e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    p AS ({pairs}),
    s AS (
      SELECT user_id, k, COUNT(*) AS n,
             {m('x', 's_x')}, {m('y', 's_y')}, {m('x * y', 's_xy')},
             {m('x * x', 's_xx')}, {m('y * y', 's_yy')}
      FROM p WHERE y IS NOT NULL
      GROUP BY user_id, k
    ),
    d AS (
      SELECT user_id, k, CAST(n AS BIGINT) AS n_pairs,
             CAST(n AS DOUBLE) AS nd,
             CAST(s_x AS DOUBLE) / 1000000.0 AS sx,
             CAST(s_y AS DOUBLE) / 1000000.0 AS sy,
             CAST(s_xy AS DOUBLE) / 1000000.0 AS sxy,
             CAST(s_xx AS DOUBLE) / 1000000.0 AS sxx,
             CAST(s_yy AS DOUBLE) / 1000000.0 AS syy
      FROM s
    )
    SELECT user_id, CAST(k AS INT) AS lag, n_pairs,
           (nd * sxy - sx * sy)
             / NULLIF(SQRT(GREATEST((nd * sxx - sx * sx)
                                    * (nd * syy - sy * sy), 0.0)), 0.0)
             AS acf
    FROM d
    """


_ACF_DUCK = _acf_sql(_DUCK_D)


@register("acf", _ACF_DUCK)
def acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation at lags 1..8 — the lag-structure
    verification statistic for generated SCM corpora (see section
    comment). Exact FLOOR-micro raw sums over lag-aligned pairs + one
    shared IEEE correlation formula; a constant or too-short series
    yields NULL acf (NULLIF guard — the one degenerate value both
    engines produce identically).

    Scale shape: ONE series-keyed window exchange computes all 8 lag
    columns over a single sort; stack() unpivots them in the same pass
    (no re-execution, no join); the aggregation is series×8-bounded with
    map-side partials. Skew bound = longest single series."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_acf_sql(_SPARK_D))


# --------------------------------------------------------------------------
# pacf: per-series PARTIAL autocorrelation at lags 1..8 (round 9) — the
# AR-order identification statistic that pairs with acf: an AR(p) series
# generated by the SCM kernel's recurrence (reference data_generator.py's
# lagged equation terms) must show pacf cutting off after lag p while its
# acf decays geometrically, so pacf is how a consumer verifies the ORDER
# of the generated lag structure, not just its presence. Computed by
# Durbin-Levinson on the standard biased autocovariance estimator (common
# full-series mean, c0 denominator — the PSD estimator DL requires).
#
# Cross-engine discipline: the recursion state is INTEGER (nano-unit
# BIGINTs): every intermediate — the autocorrelations r_k, each level's
# phi vector, the reflection coefficient — is snapped to ROUND(x * 1e9)
# after arithmetic on exactly-representable integer-valued doubles, so the
# state after every level is bit-identical across engines regardless of
# how each engine schedules the arithmetic (ROUND-half-away-from-zero
# matches for doubles on both; probed). Both engines compute the rn state
# with the same SQL prefix; Spark then runs the recursion as a vectorized
# numpy mapInPandas stage (_pacf_dl_batches, binary HALF_UP emulation
# plus validity masks), DuckDB as a recursive CTE (its list_reduce cannot
# carry a list accumulator) whose sums carry an explicit any-NULL guard
# to replicate the numpy fold's NULL-strict cascade.
# Quantization error vs float Durbin-Levinson: ≤ 1.5e-8 measured on the
# fixtures (each level compounds ~1e-9 snaps); the suite pins a 1e-5
# tolerance against an independent float reimplementation.
# --------------------------------------------------------------------------

_PACF_LAGS = 8


def _pacf_snap(v: str, limit: str) -> str:
    """Snap-with-clamp: a near-constant series can leave c0 a quantization
    residual (~1e-18) instead of exactly 0, making the nano ratio
    astronomically large — under ANSI that CAST would THROW. Any |r| > 2
    or |phi| beyond its mathematical envelope is quantization garbage on
    a degenerate series; both forms map it to NULL identically (ABS of
    NULL is NULL, NULL > x is NULL, CASE falls through to a NULL ROUND)."""
    return (
        f"CASE WHEN ABS({v}) > {limit} THEN CAST(NULL AS BIGINT)"
        f" ELSE CAST(ROUND({v}) AS BIGINT) END"
    )


def _pacf_prefix(d) -> str:
    """The CTEs both engines share, without the WITH keyword: the lag
    window, the lag-pair unpivot, the exact-sum aggregation and the pivot
    ``r`` — one row per series carrying the nano-scaled autocorrelation
    BIGINTs rn1..rnL, the whole input of the Durbin-Levinson fold."""
    L = _PACF_LAGS
    tus = d["tus"]
    lags = ", ".join(
        f"LAG(value, {k}) OVER win AS l{k}" for k in range(1, L + 1)
    )
    if d is _SPARK_D:
        # lag 0 rides in the same stack() unpivot: its row is the series'
        # own (n, Σx, Σx²) — the c0/mean inputs — so no separate totals
        # aggregation or join is needed.
        unpivot = (
            "LATERAL VIEW stack("
            + str(L + 1)
            + ", 0, value, "
            + ", ".join(f"{k}, l{k}" for k in range(1, L + 1))
            + ") u AS k, y"
        )
        pairs = f"SELECT user_id, value AS x, k, y FROM w {unpivot}"
    else:
        structs = ", ".join(
            ["{'k': 0, 'y': value}"]
            + [f"{{'k': {k}, 'y': l{k}}}" for k in range(1, L + 1)]
        )
        pairs = (
            f"SELECT user_id, value AS x, "
            f"unnest([{structs}], recursive := true) FROM w"
        )

    # One conditional-aggregation pivot turns the (user, k) sum rows into
    # per-user columns; a too-short series simply has no k row → NULL
    # column → NULL r_k → NULL pacf from that lag on (DL genuinely needs
    # every lower lag).
    pivots = []
    for k in range(0, L + 1):
        for col in ("n", "s_x", "s_y", "s_xy"):
            alias = col.replace("_", "") + str(k)
            pivots.append(f"MAX(CASE WHEN k = {k} THEN {col} END) AS {alias}")
    mean = "(CAST(sx0 AS DOUBLE) / 1000000.0 / CAST(n0 AS DOUBLE))"
    c0 = (
        f"(CAST(sxy0 AS DOUBLE) / 1000000.0"
        f" - CAST(n0 AS DOUBLE) * {mean} * {mean})"
    )
    rns = []
    for k in range(1, L + 1):
        ck = (
            f"(CAST(sxy{k} AS DOUBLE) / 1000000.0"
            f" - {mean} * (CAST(sx{k} AS DOUBLE) + CAST(sy{k} AS DOUBLE))"
            f" / 1000000.0"
            f" + CAST(n{k} AS DOUBLE) * {mean} * {mean})"
        )
        rk = f"1000000000.0 * {ck} / NULLIF({c0}, 0.0)"
        rns.append(f"{_pacf_snap(rk, '2000000000.0')} AS rn{k}")
    return f"""
    w AS (
      SELECT user_id, value, {lags}
      FROM (SELECT user_id, event_id, {tus} AS ts_us, value FROM events) e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    p AS ({pairs}),
    s AS (
      SELECT user_id, k, COUNT(*) AS n,
             SUM(CAST(FLOOR((x) * 1000000.0) AS BIGINT)) AS s_x,
             SUM(CAST(FLOOR((y) * 1000000.0) AS BIGINT)) AS s_y,
             SUM(CAST(FLOOR((x * y) * 1000000.0) AS BIGINT)) AS s_xy
      FROM p WHERE y IS NOT NULL
      GROUP BY user_id, k
    ),
    r AS (
      SELECT user_id, {", ".join(pivots)}, {", ".join(rns)}
      FROM (SELECT user_id, k, n, s_x, s_y, s_xy FROM s) sp
      GROUP BY user_id
    )"""


def _pacf_dl_duck(rlt: str = "rlt") -> str:
    """The DuckDB Durbin-Levinson fold over ``rlt`` (user_id, rl
    BIGINT[L]): the recursive ``dl`` CTE (no WITH keyword) and the final
    select. DuckDB's list_aggregate('sum') SKIPS NULL elements where the
    numpy fold is NULL-strict, so each sum carries an explicit any-NULL
    guard."""
    L = _PACF_LAGS

    def strict(terms: str) -> str:
        return (
            f"CASE WHEN len(list_filter({terms}, t -> t IS NULL)) > 0 "
            f"THEN NULL ELSE CAST(list_aggregate({terms}, 'sum')"
            f" AS BIGINT) END"
        )

    s1terms = (
        "list_transform(generate_series(1, m), j -> "
        "CAST(ROUND(CAST(phis[j] AS DOUBLE)"
        " * CAST(rl[m + 1 - j] AS DOUBLE) / 1000000000.0) AS BIGINT))"
    )
    s2terms = (
        "list_transform(generate_series(1, m), j -> "
        "CAST(ROUND(CAST(phis[j] AS DOUBLE)"
        " * CAST(rl[j] AS DOUBLE) / 1000000000.0) AS BIGINT))"
    )
    phim_v = (
        f"1000000000.0 * (CAST(rl[m + 1] AS DOUBLE)"
        f" - CAST({strict(s1terms)} AS DOUBLE))"
        f" / NULLIF(1000000000.0 - CAST({strict(s2terms)} AS DOUBLE),"
        f" 0.0)"
    )
    phim = _pacf_snap(phim_v, "2000000000.0")
    newphi_v = (
        f"CAST(p AS DOUBLE) - CAST({phim} AS DOUBLE)"
        f" * CAST(phis[m + 1 - j0] AS DOUBLE) / 1000000000.0"
    )
    newphis = (
        f"list_append(list_transform(phis, (p, j0) -> "
        f"{_pacf_snap(newphi_v, '1000000000000000.0')}), {phim})"
    )
    return f"""
    dl AS (
      SELECT user_id, rl, 1 AS m, [rl[1]] AS phis FROM {rlt}
      UNION ALL
      SELECT user_id, rl, m + 1, {newphis}
      FROM dl WHERE m < {L}
    )
    SELECT user_id, CAST(m AS INT) AS lag,
           CAST(phis[m] AS DOUBLE) / 1000000000.0 AS pacf
    FROM dl
    """


_PACF_RNS = ", ".join(f"rn{k}" for k in range(1, _PACF_LAGS + 1))
_PACF_DUCK = f"""
    WITH RECURSIVE {_pacf_prefix(_DUCK_D).lstrip()},
    rlt AS (SELECT user_id, [{_PACF_RNS}] AS rl FROM r),
    {_pacf_dl_duck().lstrip()}"""
_PACF_RL_SPARK = f"""
    WITH {_pacf_prefix(_SPARK_D).lstrip()}
    SELECT user_id, {_PACF_RNS} FROM r
    """


def _dl_round_half_up(x):
    """Spark's ROUND on DoubleType (BigDecimal HALF_UP — away from zero),
    vectorized. Binary emulation floor(x+0.5)/ceil(x-0.5) is exact for
    |x| < 2^52: x±0.5 is then exactly representable, and any decimal-tie
    double (shortest repr "k.5") is binary-exactly k.5, so binary and
    decimal HALF_UP agree. Every fold intermediate is bounded well under
    2^52 (|phi| snapped at 1e15, |s-terms| <= 2e15, |r| snapped at 2e9)."""
    import numpy as np

    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def _pacf_dl_batches(batches):
    """Vectorized Durbin-Levinson over (user_id, rn1..rnL) rows —
    bit-exact replication of the DuckDB fold in ``_pacf_dl_duck`` (integer
    nano-state, snap-with-clamp at every level, NULL-strict sums, NULL
    contaminating every later lag). State is float64 value + bool
    validity mask per series; all arithmetic follows the SQL expression
    order term-for-term (see test_pacf_numpy_matches_duckdb for the
    bit-equality pin on the fixture and the degenerate series)."""
    import numpy as np
    import pandas as pd

    L = _PACF_LAGS
    for pdf in batches:
        s = len(pdf)
        if s == 0:
            continue
        uid = pdf["user_id"].to_numpy()
        # rl: (S, L) float64 + validity; int64 -> float64 exact (< 2^53)
        rl = np.empty((s, L), dtype=np.float64)
        rl_ok = np.empty((s, L), dtype=bool)
        for k in range(1, L + 1):
            col = pdf[f"rn{k}"]
            ok = col.notna().to_numpy()
            rl_ok[:, k - 1] = ok
            v = col.to_numpy(dtype="float64", na_value=np.nan)
            rl[:, k - 1] = np.where(ok, v, 0.0)

        phis = np.zeros((s, L), dtype=np.float64)
        phis_ok = np.zeros((s, L), dtype=bool)
        diag = np.zeros((s, L), dtype=np.float64)
        diag_ok = np.zeros((s, L), dtype=bool)
        phis[:, 0], phis_ok[:, 0] = rl[:, 0], rl_ok[:, 0]
        diag[:, 0], diag_ok[:, 0] = rl[:, 0], rl_ok[:, 0]

        for m in range(2, L + 1):
            # s1 = sum_j ROUND(phis[j] * rl[m-j] / 1e9), NULL-strict
            s1 = np.zeros(s, dtype=np.float64)
            s2 = np.zeros(s, dtype=np.float64)
            s_ok = np.ones(s, dtype=bool)
            for j in range(1, m):
                t1 = _dl_round_half_up(phis[:, j - 1] * rl[:, m - j - 1]
                                       / 1000000000.0)
                t2 = _dl_round_half_up(phis[:, j - 1] * rl[:, j - 1]
                                       / 1000000000.0)
                s_ok &= phis_ok[:, j - 1] & rl_ok[:, m - j - 1] \
                    & rl_ok[:, j - 1]
                s1 += t1
                s2 += t2
            # phim = snap(1e9 * (rm - s1) / NULLIF(1e9 - s2, 0), 2e9)
            rm, rm_ok = rl[:, m - 1], rl_ok[:, m - 1]
            denom = 1000000000.0 - s2
            with np.errstate(divide="ignore", invalid="ignore"):
                phim_v = 1000000000.0 * (rm - s1) / denom
            pm_ok = s_ok & rm_ok & (denom != 0.0) \
                & ~np.isnan(phim_v) & (np.abs(phim_v) <= 2000000000.0)
            pm = np.where(pm_ok, _dl_round_half_up(phim_v), 0.0)
            # newphi[j0] = snap(p - pm * phis[m-1-j0]/1e9, 1e15)
            new_phis = phis.copy()
            new_ok = phis_ok.copy()
            for j0 in range(0, m - 1):
                p, p_ok = phis[:, j0], phis_ok[:, j0]
                q, q_ok = phis[:, m - 2 - j0], phis_ok[:, m - 2 - j0]
                v = p - (pm * q) / 1000000000.0
                ok = p_ok & pm_ok & q_ok & ~np.isnan(v) \
                    & (np.abs(v) <= 1000000000000000.0)
                new_phis[:, j0] = np.where(ok, _dl_round_half_up(v), 0.0)
                new_ok[:, j0] = ok
            new_phis[:, m - 1], new_ok[:, m - 1] = pm, pm_ok
            phis, phis_ok = new_phis, new_ok
            diag[:, m - 1], diag_ok[:, m - 1] = pm, pm_ok

        out_uid = np.repeat(uid, L)
        out_lag = np.tile(np.arange(1, L + 1, dtype=np.int32), s)
        vals = (diag / 1000000000.0).reshape(-1)
        ok = diag_ok.reshape(-1)
        # nullable Float64 (masked) — NaN would survive Arrow as a VALUE,
        # but undefined lags must be genuine NULLs
        pacf_col = pd.array(vals, dtype="Float64")
        pacf_col[~ok] = pd.NA
        yield pd.DataFrame(
            {"user_id": out_uid, "lag": out_lag, "pacf": pacf_col}
        )


@register("pacf", _PACF_DUCK)
def pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series partial autocorrelation at lags 1..8 via integer-state
    Durbin-Levinson on the biased autocovariance estimator — the AR-order
    identification statistic pairing with acf (see section comment for
    the cross-engine recursion discipline). A constant series (c0 = 0),
    a singleton, or any series too short for lag k yields NULL pacf from
    the first undefined lag onward — DL genuinely requires every lower
    lag, and NULL is the one degenerate value both engines produce
    identically.

    Scale shape: the same ONE series-keyed window exchange as acf (all 8
    lag columns over a single sort, lag 0 riding in the same stack()
    unpivot so no totals join), one series×9-bounded aggregation with
    map-side partials, then the whole Durbin-Levinson recursion as one
    vectorized numpy mapInPandas stage over one tiny row per series — no
    joins, no recursion-driven shuffles, skew bound = longest single
    series. The retired interpreted SQL fold cost ~3 ms/series and lost
    at every measured tier; an explicit REPARTITION of the fold stage
    measured WORSE (24 -> 77 s at sf10 — the exchange cost exceeds any
    parallelism win on a 150k-row relation). FLOOR.md §r10-pacf."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_PACF_RL_SPARK).mapInPandas(
        _pacf_dl_batches, schema="user_id bigint, lag int, pacf double"
    )


# --------------------------------------------------------------------------
# cusum_changepoint: per-series CUSUM mean-shift detection (round 9) — the
# regime-change diagnostic for generated series: a corpus whose equations
# switch coefficients mid-series (or whose confounder turns on at time T,
# reference kernel_confounded's U-injection) must show the CUSUM peak at
# the switch point, and a stationary series must not. Statistic: the
# classic max_t |S_t| / (sigma * sqrt(n)) over centered cumulative sums.
#
# Determinism: the cumulative sum runs over exact FLOOR-micro BIGINTs
# (order-fixed by the window sort), and the centered value is computed
# division-FIRST — R_t - t * (Sx / n) — so every operand stays well inside
# double exactness (n * R_t as integers would overflow int64 past ~1e5-row
# series); identical IEEE ops on identical exact inputs are bit-equal
# across engines. The argmax is a ROW_NUMBER over (|C_t| DESC, t ASC) —
# the deterministic tiebreak device, not engine-specific arg_max. A
# constant series has C_t exactly 0 at every t (t*X - t*X with X*n well
# under 2^53) and sigma 0 → cp_pos 1 (the all-zero tie resolves to the
# first point) with NULL cusum_stat via the NULLIF guard.
# --------------------------------------------------------------------------


def _cusum_sql(d) -> str:
    tus = d["tus"]
    return f"""
    WITH e AS (
      SELECT user_id, event_id, {tus} AS ts_us, value FROM events
    ),
    w AS (
      SELECT user_id, ts_us,
             ROW_NUMBER() OVER win AS t,
             SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) OVER win AS r_t,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT))
               OVER (PARTITION BY user_id) AS sx,
             SUM(CAST(FLOOR(value * value * 1000000.0) AS BIGINT))
               OVER (PARTITION BY user_id) AS sxx
      FROM e
      WINDOW win AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    c AS (
      SELECT user_id, ts_us, t, n, sx, sxx,
             ABS(CAST(r_t AS DOUBLE)
                 - CAST(t AS DOUBLE)
                   * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) AS abs_c
      FROM w
    ),
    ranked AS (
      SELECT user_id, ts_us, t, n, sx, sxx, abs_c,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY abs_c DESC, t ASC) AS rn
      FROM c
    )
    SELECT user_id,
           CAST(n AS BIGINT) AS n_points,
           CAST(t AS BIGINT) AS cp_pos,
           CAST(ts_us AS BIGINT) AS cp_ts_us,
           abs_c / 1000000.0 AS cusum_abs,
           (abs_c / 1000000.0) / NULLIF(SQRT(GREATEST(
               CAST(sxx AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)
               - (CAST(sx AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / 1000000.0 / CAST(n AS DOUBLE)),
               0.0))
             * SQRT(CAST(n AS DOUBLE)), 0.0) AS cusum_stat
    FROM ranked WHERE rn = 1
    """


_CUSUM_DUCK = _cusum_sql(_DUCK_D)


@register("cusum_changepoint", _CUSUM_DUCK)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM changepoint: the position/timestamp of the maximal
    centered cumulative sum and its sigma*sqrt(n)-standardized statistic
    (see section comment for the exact-integer cumsum + division-first
    centering discipline and the degenerate contracts). One row per
    series.

    Scale shape: ONE series-keyed exchange carries both window passes
    (the ts-ordered cumsum and the |C| ranking re-sort the partition
    in place) and the rn = 1 filter reduces to one row per series before
    anything leaves the stage; no joins, no data-proportional shuffle
    beyond the initial series partitioning. Skew bound = longest single
    series."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_cusum_sql(_SPARK_D))


# --------------------------------------------------------------------------
# asof_join_orders: two-TABLE as-of join (round 9) — every event enriched
# with the customer's latest order at-or-before the event timestamp. The
# canonical temporal-relational operator Spark lacks natively (DuckDB
# grew ASOF JOIN; Flink/kdb call it temporal/aj): asof_lag is the
# SELF-series bracket, this is the cross-table form a feature pipeline
# runs ("state of the dimension as of the fact's timestamp").
#
# Spark-first plan: NOT a join at all — the probe and build relations
# union into one stream tagged (typ 0 = order, 1 = event), ONE
# customer-keyed window sort orders them by (ts, typ, id), and
# LAST_VALUE ... IGNORE NULLS carries the most recent order's attributes
# forward onto every event row; filtering typ = 1 yields exactly the
# as-of match. typ 0 sorts before typ 1 at equal timestamps, so an order
# AT the event instant matches (>= semantics, same as DuckDB's ASOF).
# Build-side ties (several orders at one (cust, date)) resolve INSIDE
# the same window: orders at equal ts sort by o_orderkey ASC, so
# LAST_VALUE carries the HIGHEST orderkey — ASOF tie behavior is
# engine-unspecified, so this makes the semantics total. (r9 shipped a
# separate ROW_NUMBER dedup window over orders first; the r10 floor
# audit measured that second exchange+sort as the DOMINANT component —
# 0.55 s of the 0.86 s total at sf0.1 — and the fold-into-one-window
# form is row-identical and 2.2x faster, 0.45 vs 0.97 s. FLOOR.md §r10.)
#
# The oracle is DuckDB's NATIVE ASOF LEFT JOIN — a genuinely independent
# implementation of the semantics, not a shared SQL template.
# --------------------------------------------------------------------------

_ASOFJ_SPARK = """
    WITH u AS (
      SELECT o_custkey AS uid, od_us AS ts_us, 0 AS typ,
             CAST(NULL AS BIGINT) AS event_id,
             o_orderkey, o_totalprice
      FROM orders_us
      UNION ALL
      SELECT user_id AS uid, ts DIV 1000 AS ts_us, 1 AS typ, event_id,
             CAST(NULL AS BIGINT) AS o_orderkey,
             CAST(NULL AS DOUBLE) AS o_totalprice
      FROM events
    ),
    b AS (
      SELECT uid, ts_us, typ, event_id,
             LAST_VALUE(o_orderkey) IGNORE NULLS OVER win AS last_ok,
             LAST_VALUE(o_totalprice) IGNORE NULLS OVER win AS last_tp,
             LAST_VALUE(CASE WHEN typ = 0 THEN ts_us END) IGNORE NULLS
               OVER win AS last_ots
      FROM u
      WINDOW win AS (PARTITION BY uid
                     ORDER BY ts_us ASC, typ ASC,
                              COALESCE(event_id, o_orderkey) ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, uid AS user_id, ts_us,
           last_ok AS o_orderkey, last_tp AS o_totalprice,
           ts_us - last_ots AS us_since_order
    FROM b WHERE typ = 1
"""

_ASOFJ_DUCK = """
    WITH od AS (
      SELECT uid, od_us, o_orderkey, o_totalprice FROM (
        SELECT o_custkey AS uid, epoch_us(o_orderdate) AS od_us,
               o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey,
                                               epoch_us(o_orderdate)
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
      ) x WHERE rn = 1
    ),
    e AS (SELECT event_id, user_id AS uid, epoch_us(ts) AS ts_us FROM events)
    SELECT e.event_id, e.uid AS user_id, e.ts_us,
           od.o_orderkey, od.o_totalprice,
           e.ts_us - od.od_us AS us_since_order
    FROM e ASOF LEFT JOIN od
      ON e.uid = od.uid AND e.ts_us >= od.od_us
"""


def _orders_us_view(spark: SparkSession, sf_dir: str) -> None:
    """Register ``orders_us``: orders with o_orderdate normalized to an
    epoch-microsecond BIGINT on whatever session we were handed — the
    sources/tables.py events device applied to the orders dimension
    (TIMESTAMP_NTZ needs timezone-free arithmetic; TIMESTAMP uses
    unix_micros)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    orders = load(spark, sf_dir, "orders")
    odt = orders.schema["o_orderdate"].dataType
    if isinstance(odt, T.TimestampNTZType):
        ou = orders.withColumn(
            "od_us",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)"
            ),
        )
    else:
        ou = orders.withColumn("od_us", F.unix_micros("o_orderdate"))
    ou.createOrReplaceTempView("orders_us")


@register("asof_join_orders", _ASOFJ_DUCK)
def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table as-of join: each event joined to its user's latest order
    at-or-before the event timestamp (see section comment for the
    join-free union-bracket plan and the native-ASOF oracle). Events of
    users with no prior order keep NULL order columns (left semantics).

    Scale shape: ONE customer-keyed exchange of orders+events together,
    one window sort, no join operator at all — the classic two-sided
    as-of alternative (range join or per-key broadcast) shuffles both
    relations anyway and then pays the probe; the union form pays
    exactly one exchange and inherits skew bounds from the busiest
    single customer. Build-side tie resolution rides the same window
    (r10: the separate orders-dedup window was the dominant measured
    component and is folded away — FLOOR.md §r10)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    _orders_us_view(spark, sf_dir)
    return spark.sql(_ASOFJ_SPARK)
