"""Batch-checkable analogs of the streaming surface (SURVEY.md §2.2 EXT):
tumbling / sliding / session windows over the event stream.

The true Structured-Streaming forms (readStream → withWatermark → window /
session_window → sink) live in synth_timeseries_data_spark/streaming and are
exercised by behavior tests (tests/test_streaming.py) — watermark trigger
timing is not SQL-expressible, but the WINDOWED AGGREGATION SEMANTICS are,
so each analog here is oracle-checked and must agree with its streaming
twin on the same input (also asserted in tests).

events.ts is an epoch-nanosecond BIGINT in Spark (see session.py), so
windows are integer bucket arithmetic on microseconds — identical text in
both engines apart from the µs conversion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import load
from . import _DUCK_D, _SPARK_D, register

_HOUR_US = 3_600_000_000
_QTR_US = 900_000_000
_GAP_US = 1_800_000_000  # 30 min session gap


def _tumbling_sql(d) -> str:
    return f"""
    WITH e AS (SELECT {d['tus']} AS tus, event_type, value FROM events)
    SELECT CAST(FLOOR(tus / {_HOUR_US}.0) AS BIGINT) AS hour_bucket,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_value
    FROM e
    GROUP BY CAST(FLOOR(tus / {_HOUR_US}.0) AS BIGINT), event_type
    """


@register("tumbling_agg", _tumbling_sql(_DUCK_D))
def tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows × event_type — the batch analog of
    `groupBy(window(ts, '1 hour'), event_type)`; one shuffle, map-side
    partial aggregation."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_tumbling_sql(_SPARK_D))


def _sliding_sql(d) -> str:
    # Single-aggregation form: each event in quarter q belongs to exactly
    # the windows starting at q-3..q, so explode by k=0..3 and aggregate
    # once on (win_start_qtr, event_type). The 4× row inflation happens on
    # the MAP side only — Spark's hash aggregate partial-aggregates before
    # the exchange, so shuffle volume is O(#windows × #types × #tasks)
    # partial rows, never O(4n). This replaces the round-4 two-level
    # rollup (partial per slide bucket, explode partials, re-aggregate):
    # that form's shuffle volume is the same asymptotically, but it pays
    # a SECOND exchange/stage barrier for the re-combine — one more AQE
    # wave locally (0.39 vs 0.34 s at sf0.1) and one more stage on a
    # cluster. One exchange, map-side combine, is the window(1h, 15m)
    # plan Structured Streaming itself runs. PAST the small-input tier the
    # balance flips (see _sliding_rollup_sql): the 4× Generate feeds every
    # fact row through the hash aggregate four times, and at the sf100
    # ladder tier (100M events) that map-side CPU is 42 s vs 13.5 s for the
    # rollup — so sliding_agg size-gates between the two forms on the
    # parquet footer row count (no job), the _nd_bits/_sd_k precedent.
    return f"""
    WITH e AS (SELECT {d['tus']} AS tus, event_type, value FROM events),
    assigned AS (
      SELECT CAST(FLOOR(tus / {_QTR_US}.0) AS BIGINT) - k AS win_start_qtr,
             event_type, value
      FROM {d['lateral']("e", d['seq']('0', '3'), "k", alias="ks", gen="ks")}
    )
    SELECT CAST(win_start_qtr AS DOUBLE) AS win_start_qtr,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS sum_value
    FROM assigned
    GROUP BY win_start_qtr, event_type
    """


def _sliding_rollup_sql(d) -> str:
    # Two-level rollup for the large-input tier: aggregate per quarter
    # bucket FIRST (tumbling-sized — each fact row passes the hash
    # aggregate exactly once), then explode the per-quarter PARTIALS by
    # k=0..3 and re-combine. The explode now runs over O(#quarters×#types)
    # rows instead of O(n) fact rows, so the 4× inflation costs nothing;
    # the price is a second (partial-sized) exchange. Gated in by
    # _SLIDING_ROLLUP_ROWS.
    return f"""
    WITH e AS (SELECT {d['tus']} AS tus, event_type, value FROM events),
    partials AS (
      SELECT CAST(FLOOR(tus / {_QTR_US}.0) AS BIGINT) AS qtr, event_type,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS sv
      FROM e
      GROUP BY CAST(FLOOR(tus / {_QTR_US}.0) AS BIGINT), event_type
    ),
    assigned AS (
      SELECT qtr - k AS win_start_qtr, event_type, n, sv
      FROM {d['lateral']("partials", d['seq']('0', '3'), "k", alias="ks", gen="ks")}
    )
    SELECT CAST(win_start_qtr AS DOUBLE) AS win_start_qtr,
           event_type,
           SUM(n) AS n_events,
           CAST(SUM(sv) AS DOUBLE) / 1000000.0 AS sum_value
    FROM assigned
    GROUP BY win_start_qtr, event_type
    """


# Above this many event rows the two-level rollup wins: the fixed extra
# stage wave (~50 ms locally) is repaid by not feeding every fact row
# through the hash aggregate 4×. Measured steady, quiet box: sf100 (100M
# events) 42 s one-level vs 13.5 s rollup; sf10 (10M) 1.8 s rollup; sf1
# (1M) 0.63 s one-level. The gate sits at 2M so driver/bench fixtures
# (≤100k) keep the one-exchange plan that wins at that tier.
_SLIDING_ROLLUP_ROWS = 2_000_000


@register("sliding_agg", _sliding_sql(_DUCK_D))
def sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 min — the `window(ts, '1h', '15m')`
    analog as ONE hash aggregation over the k=0..3 window explode; map-side
    partial aggregation keeps the shuffle O(buckets) at 100 TB. Past
    _SLIDING_ROLLUP_ROWS events (parquet footer count, no job) it switches
    to the two-level rollup, which aggregates per quarter before the 4×
    window explode — same result, map CPU linear in n instead of 4n."""
    from ..sources.tables import table_rows

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    if table_rows(sf_dir, "events") > _SLIDING_ROLLUP_ROWS:
        return spark.sql(_sliding_rollup_sql(_SPARK_D))
    return spark.sql(_sliding_sql(_SPARK_D))


def _session_sql(d) -> str:
    return f"""
    WITH e AS (
      SELECT user_id, event_id, {d['tus']} AS tus,
             LAG({d['tus']}, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, tus,
             CASE WHEN prev_tus IS NULL OR tus - prev_tus > {_GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    sessions AS (
      SELECT user_id, event_id, tus,
             -- explicit BIGINT: DuckDB's windowed SUM(int) yields HUGEINT,
             -- which arrow/pandas conversion coerces to float64 and breaks
             -- the schema contract vs Spark's bigint
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tus, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_no
      FROM marked
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           MIN(tus) AS session_start_us,
           MAX(tus) AS session_end_us
    FROM sessions
    GROUP BY user_id, session_no
    """


@register("session_agg", _session_sql(_DUCK_D))
def session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-min inactivity gap — gaps-and-islands
    (lag → new-session flag → running sum) per series; the batch analog of
    `session_window(ts, '30 minutes')` and the reference's burst-mask state
    (G14). One window shuffle on the series key."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_session_sql(_SPARK_D))
