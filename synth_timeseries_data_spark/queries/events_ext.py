"""Event-table extensions: JSON property parsing and the missing-pattern
plot data (the third G19 plot query).

props is a JSON string column ({"k": <int>}); the engine parses it with the
real JSON path functions (Spark get_json_object / DuckDB json_extract), not
string surgery — at scale the JSON parse is JVM-side and vectorized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.detrand import lcg_uniform_sql
from ..sources import load
from . import _DUCK_D, _SPARK_D, register

_PROPS_ORACLE = """
    WITH parsed AS (
      -- TRY_CAST twice: DuckDB's json_extract ERRORS on malformed JSON
      -- (Spark's get_json_object yields NULL) and CAST errors on a
      -- non-numeric k (as Spark's ANSI cast would) — the try forms give
      -- both engines the identical NULL-and-skip profiling semantic.
      SELECT event_type,
             TRY_CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INT) AS k
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(k) AS n_with_k,
           MIN(k) AS min_k,
           MAX(k) AS max_k,
           ROUND(AVG(k), 6) AS avg_k
    FROM parsed
    GROUP BY event_type
    """


@register("props_parse", _PROPS_ORACLE)
def props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse events.props JSON and profile the extracted key per event type
    — get_json_object stays inside whole-stage codegen; one shuffle.
    try_cast (both engines): props is arbitrary JSON, and a non-numeric k
    would otherwise throw in BOTH engines (Spark ANSI cast, DuckDB
    conversion error) — NULL-and-skip is the profiling semantic, and
    COUNT(k) already counts only parseable keys."""
    ev = load(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.expr("try_cast(get_json_object(props, '$.k') AS INT)").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("k").alias("n_with_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.round(F.avg("k"), 6).alias("avg_k"),
    )


# G19 — missing-pattern plot data (d1.py:327-337): where in time are the
# holes, per variable/group. MCAR mask (rate 0.2, same stream as
# missing_profile) bucketed by hour.
_MCAR_U = lcg_uniform_sql("event_id", salt=3)


def _pattern_sql(d) -> str:
    return f"""
    WITH masked AS (
      SELECT event_type,
             CAST(FLOOR({d['tus']} / 3600000000.0) AS BIGINT) AS hour_bucket,
             CASE WHEN {_MCAR_U} < 0.2 THEN 1 ELSE 0 END AS is_missing
      FROM events
    )
    SELECT hour_bucket, event_type,
           COUNT(*) AS n_rows,
           CAST(SUM(is_missing) AS BIGINT) AS n_missing,
           ROUND(CAST(SUM(is_missing) AS DOUBLE) / COUNT(*), 6) AS missing_rate
    FROM masked
    GROUP BY hour_bucket, event_type
    """


@register("missing_pattern", _pattern_sql(_DUCK_D))
def missing_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-pattern heatmap data (G19, d1.py:327-337): MCAR-mask holes
    bucketed by hour × event type — the per-cell counts behind the
    reference's missing-pattern plot."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_pattern_sql(_SPARK_D))


def _funnel_sql(d) -> str:
    # Ordered view → click → purchase funnel per user: each stage's entry
    # time is the MIN event time strictly after the previous stage's entry.
    # Three chained per-user aggregates (t1 feeds t2 feeds t3) — every join
    # is user-keyed and the whole pipeline clusters on one key, so at scale
    # it is one partitioning reused across stages, never an event×event
    # join. Times are integer microseconds; counts are exact.
    return f"""
    WITH e AS (SELECT user_id, event_type, {d['tus']} AS tus FROM events),
    s1 AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN tus END) AS t1
      FROM e GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(CASE WHEN e.event_type = 'click'
                                  AND e.tus > s1.t1 THEN e.tus END) AS t2
      FROM e JOIN s1 ON s1.user_id = e.user_id AND s1.t1 IS NOT NULL
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(CASE WHEN e.event_type = 'purchase'
                                  AND e.tus > s2.t2 THEN e.tus END) AS t3
      FROM e JOIN s2 ON s2.user_id = e.user_id AND s2.t2 IS NOT NULL
      GROUP BY e.user_id
    ),
    stages AS (
      SELECT s1.user_id, s1.t1, s2.t2, s3.t3
      FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
              LEFT JOIN s3 ON s3.user_id = s1.user_id
    )
    SELECT
      COUNT(*) AS n_users_seen,
      COUNT(t1) AS n_viewed,
      COUNT(t2) AS n_clicked_after_view,
      COUNT(t3) AS n_purchased_after_click,
      -- raw rational double: exact-int division is bit-identical in both
      -- engines, while ROUND could land on a .5 tie they break differently.
      -- NULLIF guards the zero-'view' fixture: Spark (non-ANSI) yields NULL
      -- on x/0 while DuckDB errors/infs — NULL/NULL keeps them bit-equal.
      CAST(COUNT(t3) AS DOUBLE) / NULLIF(COUNT(t1), 0) AS view_to_purchase_rate
    FROM stages
    """


# Spark-side funnel: the oracle's chained-aggregate form re-shuffles the
# events table once per stage (s2 and s3 each join `e` again). Spark instead
# does ONE shuffle: group events by user, aggregating t1 = first 'view' time
# plus the sorted per-user click/purchase time arrays, then walks the stages
# with codegen'd array lambdas — t2 is the first click strictly after t1, t3
# the first purchase strictly after t2 (a NULL prior stage nulls the lambda
# comparison, so the filter yields empty → try_element_at NULL, exactly the
# oracle's left-join semantics). Per-user arrays are bounded by that user's
# click/purchase counts — at 100 TB a single hot user would need the
# s1/s2/s3 form back, but the one-shuffle walk is the right plan for any
# human-scale user cardinality. collect_list skips the CASE's NULLs, so the
# arrays hold only the matching event type.
_FUNNEL_SPARK = """
    WITH peru AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'view' THEN ts div 1000 END) AS t1,
        array_sort(collect_list(
          CASE WHEN event_type = 'click' THEN ts div 1000 END)) AS clicks,
        array_sort(collect_list(
          CASE WHEN event_type = 'purchase' THEN ts div 1000 END)) AS purch
      FROM events GROUP BY user_id
    ),
    stages AS (
      SELECT user_id, t1,
        try_element_at(filter(clicks, x -> x > t1), 1) AS t2,
        try_element_at(filter(purch, x -> x > t2), 1) AS t3
      FROM peru
    )
    SELECT
      COUNT(*) AS n_users_seen,
      COUNT(t1) AS n_viewed,
      COUNT(t2) AS n_clicked_after_view,
      COUNT(t3) AS n_purchased_after_click,
      CAST(COUNT(t3) AS DOUBLE) / NULLIF(COUNT(t1), 0) AS view_to_purchase_rate
    FROM stages
    """


@register("funnel", _funnel_sql(_DUCK_D))
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase, strictly
    increasing event times) with per-stage user counts — the classic event
    analytics rollup. One user-keyed shuffle + array-lambda stage walk (see
    _FUNNEL_SPARK); the oracle keeps the equivalent chained-aggregate
    relational form."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_FUNNEL_SPARK)


_WEEK_US = 7 * 24 * 3600 * 1000000


def _retention_sql(d) -> str:
    # Weekly cohort retention: users cohorted by their first-signup week,
    # counted distinct in each later activity week. Integer week indices
    # and exact distinct counts — nothing float anywhere. Two user-keyed
    # aggregates + one (cohort, offset) rollup; the user->cohort dim join
    # broadcasts at any corpus size where users << events.
    return f"""
    WITH e AS (SELECT user_id, event_type,
                      CAST(FLOOR({d['tus']} / {_WEEK_US}.0) AS BIGINT) AS week
               FROM events),
    cohort AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN week END) AS w0
      FROM e GROUP BY user_id
    ),
    activity AS (SELECT DISTINCT user_id, week FROM e)
    SELECT c.w0 AS cohort_week,
           a.week - c.w0 AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_active
    FROM activity a
    JOIN cohort c ON c.user_id = a.user_id AND c.w0 IS NOT NULL
    WHERE a.week >= c.w0
    GROUP BY c.w0, a.week - c.w0
    """


# Spark-side retention: the oracle's relational form costs four exchanges
# (cohort agg, DISTINCT, join, COUNT(DISTINCT) rollup). Spark collapses it
# to TWO: one user-keyed aggregate computes the signup week AND the user's
# distinct active-week set together (collect_set dedups inside the agg, so
# the separate DISTINCT shuffle disappears and the user→cohort join becomes
# a same-row lookup), then exploding (user, week) rows — unique by
# construction — lets the final (cohort, offset) rollup use plain COUNT(*)
# instead of a two-phase COUNT(DISTINCT) expand. Per-user state is the
# distinct-week set (bounded by corpus weeks, not events), so the agg
# map-side-combines at 100 TB.
_RETENTION_SPARK = f"""
    WITH peru AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN
                   CAST(FLOOR((ts div 1000) / {_WEEK_US}.0) AS BIGINT) END) AS w0,
             collect_set(CAST(FLOOR((ts div 1000) / {_WEEK_US}.0) AS BIGINT)) AS weeks
      FROM events GROUP BY user_id
    )
    SELECT w0 AS cohort_week,
           wk - w0 AS week_offset,
           COUNT(*) AS n_active
    FROM peru LATERAL VIEW explode(weeks) AS wk
    WHERE w0 IS NOT NULL AND wk >= w0
    GROUP BY w0, wk - w0
    """


@register("retention_cohorts", _retention_sql(_DUCK_D))
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (first-signup week × weeks-since,
    distinct active users) — the standard product-analytics rollup; exact
    integer weeks and distinct counts. Spark runs the two-exchange
    collect_set form (_RETENTION_SPARK); the oracle keeps the equivalent
    relational join/COUNT-DISTINCT form."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_RETENTION_SPARK)


def _plot_frames_sql(d) -> str:
    # One tagged-union relation carrying all three G19 plot frames —
    # decomposition points+trend (c1.py:391-411), sampling-interval
    # histogram (c2.py:332-341), missing-pattern cells (d1.py:327-337) —
    # in a common (frame, k1, k2, label, v1, v2, v3) schema so the whole
    # bundle sits under ONE cross-engine value hash. Counts ride as exact
    # doubles (integer-valued, bit-identical); trend = intercept +
    # slope·x_day is raw IEEE (two double ops in both engines, inputs
    # bit-identical from the exact-sum OLS); x_day divides a DOUBLE
    # numerator (the DuckDB-decimal-literal trap, see _trend_fit_sql).
    from .relational import _T0_US, _trend_fit_sql

    td = f"(CAST({d['tus']} - {_T0_US} AS DOUBLE) / 86400000000.0)"
    return f"""
    WITH fit AS ({_trend_fit_sql(d)}),
    decomp AS (
      SELECT 'decomposition' AS frame, p.user_id AS k1, p.event_id AS k2,
             '' AS label, p.x_day AS v1, p.value AS v2,
             f.intercept + f.slope * p.x_day AS v3
      FROM (SELECT user_id, event_id, {td} AS x_day, value FROM events) p
      JOIN fit f ON f.user_id = p.user_id
    ),
    gaps AS (
      SELECT {d['tus']} - LAG({d['tus']}, 1)
               OVER (PARTITION BY user_id ORDER BY {d['tus']}, event_id) AS gap_us
      FROM events
    ),
    hist AS (
      SELECT 'sampling_hist' AS frame,
             CAST(FLOOR(gap_us / 60000000.0) AS BIGINT) AS k1,
             CAST(0 AS BIGINT) AS k2, '' AS label,
             CAST(COUNT(*) AS DOUBLE) AS v1,
             CAST(NULL AS DOUBLE) AS v2, CAST(NULL AS DOUBLE) AS v3
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY CAST(FLOOR(gap_us / 60000000.0) AS BIGINT)
    ),
    mp AS ({_pattern_sql(d)})
    SELECT frame, k1, k2, label, v1, v2, v3 FROM decomp
    UNION ALL
    SELECT frame, k1, k2, label, v1, v2, v3 FROM hist
    UNION ALL
    SELECT 'missing_pattern' AS frame, hour_bucket AS k1,
           CAST(0 AS BIGINT) AS k2, event_type AS label,
           CAST(n_rows AS DOUBLE) AS v1, CAST(n_missing AS DOUBLE) AS v2,
           missing_rate AS v3
    FROM mp
    """


@register("plot_frames", _plot_frames_sql(_DUCK_D))
def plot_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The plot bundle's three frames as one oracle-checked tagged union —
    the value-hash companion to `plot_bundle` (which checks the WRITE
    workflow rows-only): every cell the bundle materializes is pinned
    against the composed DuckDB oracle, the same strengthening
    `curate_decisions` gives `curated_corpus`. Three independent
    aggregation branches over the events scan, exactly the bundle's three
    frame jobs, unioned under a common schema."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_plot_frames_sql(_SPARK_D))


@register("plot_bundle", None)
def plot_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G19 end-to-end workflow: materialize the three plot-data frames the
    reference renders per run (decomposition series+trend c1.py:391-411,
    sampling-interval histogram c2.py:332-341, missing-pattern cells
    d1.py:327-337) as ONE hive-partitioned dataset (frame=<name>/ dirs)
    and return the per-frame row-count summary read back from the written
    parquet footers. Rows-only check: the three constituent frames are
    each independently oracle-checked (trend_fit, sampling_hist,
    missing_pattern); this entry checks the bundle WRITE workflow."""
    import os
    import tempfile

    from ..sinks import write_plot_bundle

    from . import _cleanup_at_exit

    # PID in the path: two concurrent sessions on the same fixture (bench
    # run + pytest) must not overwrite each other's output mid-read;
    # registered for at-exit removal so processes don't leak copies.
    out = os.path.join(
        tempfile.gettempdir(),
        f"plot_bundle_{os.path.basename(sf_dir)}_{os.getpid()}",
    )
    _cleanup_at_exit(out)
    return write_plot_bundle(spark, sf_dir, out)
