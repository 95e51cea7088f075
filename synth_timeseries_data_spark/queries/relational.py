"""Relational core queries (SURVEY.md §2.2: scans, projections, joins,
aggregations, windows, sorts, set ops) — Phase 1 of the build plan.

Every query here is DuckDB-oracle-checkable. The `events` table stands in for
the reference's time-series tables (user_id = series id, ts = time,
value = Xi); `lineitem`/`orders`/dims exercise joins, aggregation, rollups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.detrand import lcg_uniform_sql
from ..functions.materialize import persisted
from ..functions.numeric import davg, dsum, sql_davg, sql_dsum
from ..functions.scale import BROADCAST_CAP_BYTES, broadcast_if_small
from ..sources import load, table_rows
from . import _DUCK_D, _SPARK_D, register

# Shared deterministic-uniform snippet: the Spark expression and the DuckDB
# oracle embed the *same* formula string, so masks match bit-for-bit.
_MCAR_U = lcg_uniform_sql("event_id", salt=3)

# --------------------------------------------------------------------------
# Window / lag queries — serve G4 lagged terms and M13 lagged design matrix
# (reference: Codes/a1.py:185-188, helper_funcs/py_tetrad_helper.py:225-237)
# --------------------------------------------------------------------------

_WIN_ORACLE = "PARTITION BY user_id ORDER BY ts, event_id"


@register(
    "lag_features",
    f"""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
           LAG(value, 1) OVER ({_WIN_ORACLE}) AS value_lag1,
           LAG(value, 2) OVER ({_WIN_ORACLE}) AS value_lag2,
           value - LAG(value, 1) OVER ({_WIN_ORACLE}) AS value_diff1
    FROM events
    """,
)
def lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series lagged features — the engine form of the reference's lagged
    term reads (Codes/a1.py:185-188). Window.partitionBy(series).orderBy(time)
    with a unique-key tiebreak; scales as one shuffle on the series key."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_id",
        F.expr(_SPARK_D["tus"]).alias("ts_us"),
        "value",
        F.lag("value", 1).over(w).alias("value_lag1"),
        F.lag("value", 2).over(w).alias("value_lag2"),
        (F.col("value") - F.lag("value", 1).over(w)).alias("value_diff1"),
    )


@register(
    "lagged_matrix",
    f"""
    SELECT * FROM (
      SELECT user_id, event_id,
             value AS value_0,
             LAG(value, 1) OVER ({_WIN_ORACLE}) AS value_1,
             LAG(value, 2) OVER ({_WIN_ORACLE}) AS value_2
      FROM events
    ) WHERE value_1 IS NOT NULL AND value_2 IS NOT NULL
    """,
)
def lagged_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged design matrix `{var}_{lag}` with incomplete rows dropped —
    helper_funcs/py_tetrad_helper.py:225-237 (create_lagged_df)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    out = ev.select(
        "user_id",
        "event_id",
        F.col("value").alias("value_0"),
        F.lag("value", 1).over(w).alias("value_1"),
        F.lag("value", 2).over(w).alias("value_2"),
    )
    return out.dropna(subset=["value_1", "value_2"])


@register(
    "ts_diff",
    f"""
    SELECT user_id, event_id,
           epoch_us(ts) - LAG(epoch_us(ts), 1) OVER ({_WIN_ORACLE}) AS gap_us
    FROM events
    """,
)
def ts_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.diff(time) per series (Codes/a2.py:336-347) — exact integer
    microsecond gaps."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    t = F.expr(_SPARK_D["tus"])
    return ev.select(
        "user_id",
        "event_id",
        (t - F.lag(t, 1).over(w)).alias("gap_us"),
    )


@register(
    "sampling_hist",
    f"""
    SELECT CAST(FLOOR(gap_us / 60000000.0) AS BIGINT) AS gap_min_bucket,
           COUNT(*) AS n
    FROM (
      SELECT epoch_us(ts) - LAG(epoch_us(ts), 1) OVER ({_WIN_ORACLE}) AS gap_us
      FROM events
    ) WHERE gap_us IS NOT NULL
    GROUP BY 1
    """,
)
def sampling_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-interval histogram (Codes/a2.py:342-347; c2.py:332-341):
    floor(gap/width) + groupBy().count()."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load(spark, sf_dir, "events")
    t = F.expr(_SPARK_D["tus"])
    gaps = ev.select((t - F.lag(t, 1).over(w)).alias("gap_us")).where(
        F.col("gap_us").isNotNull()
    )
    return gaps.groupBy(
        F.floor(F.col("gap_us") / 60000000.0).cast("bigint").alias("gap_min_bucket")
    ).agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# Aggregation queries — V1/V2/V5 summary & profiling, TPC-H-flavored joins
# --------------------------------------------------------------------------


# std_qty from exact micro-floored sums rather than STDDEV_SAMP: the two
# engines' variance aggregates are different streaming algorithms (Welford
# vs co-moment merging) whose round-6 agreement is data luck, and Spark's is
# an interpreted ImperativeAggregate; identical bigint sums + an identical
# IEEE formula are bit-deterministic with no rounding (same strategy as
# corr_matrix / trend_fit).
_SUMMARY_SQL = f"""
    WITH s AS (
      SELECT l_returnflag, l_linestatus,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(l_quantity * 1000000.0) AS BIGINT)) AS s_q,
             SUM(CAST(FLOOR(l_quantity * l_quantity * 1000000.0) AS BIGINT)) AS s_qq,
             SUM(CAST(FLOOR(l_extendedprice * 1000000.0) AS BIGINT)) AS s_p,
             SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000.0) AS BIGINT)) AS s_dp,
             MIN(l_quantity) AS min_qty,
             MAX(l_quantity) AS max_qty
      FROM lineitem
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           n AS n_rows,
           CAST(s_q AS DOUBLE) / 1000000.0 AS sum_qty,
           CAST(s_p AS DOUBLE) / 1000000.0 AS sum_price,
           CAST(s_dp AS DOUBLE) / 1000000.0 AS sum_disc_price,
           CAST(s_q AS DOUBLE) / 1000000.0 / n AS avg_qty,
           min_qty,
           max_qty,
           -- Degenerate-input guards: NULLIF — a single-row group has
           -- n·(n−1) = 0, and Spark 4's ANSI mode throws DIVIDE_BY_ZERO
           -- even for double division (DuckDB yields inf/nan); NULL is the
           -- one degenerate value both engines produce identically (sample
           -- std of 1 row is undefined anyway). GREATEST — the FLOOR-micro
           -- variance numerator can land epsilon-negative for a constant
           -- column, and DuckDB ERRORS on sqrt(negative) where Spark
           -- returns NaN; clamping at 0 gives std 0 in both.
           SQRT(GREATEST(CAST(n AS DOUBLE) * (CAST(s_qq AS DOUBLE) / 1000000.0)
                 - (CAST(s_q AS DOUBLE) / 1000000.0) * (CAST(s_q AS DOUBLE) / 1000000.0), 0.0)
                / NULLIF(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0), 0.0)) AS std_qty
    FROM s
    """


@register("summary_stats", _SUMMARY_SQL)
def summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.describe() analog (Codes/a1.py:374, b2.py:317-320) as a grouped
    aggregate — partial+final hash agg, map-side combine for free; sums and
    the sample stddev come from exact scaled-bigint accumulation (see
    _SUMMARY_SQL notes)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SUMMARY_SQL)


# Pearson correlation from raw scaled-bigint sums rather than the engines'
# own CORR aggregates. Three wins: (1) bit-determinism by construction —
# both engines compute IDENTICAL integer sums (FLOOR-micro of pre-scaled
# values, order-independent) and then the same IEEE double formula (SQRT is
# correctly rounded per IEEE-754), so no ROUND is needed at all, where
# CORR's two different streaming co-moment algorithms agreeing at round-6 is
# data luck; (2) Spark's corr is an interpreted ImperativeAggregate while
# bigint sums stay in whole-stage codegen (0.8 s → ~0.3 s at sf0.1);
# (3) one shared SQL text for both engines. Columns are pre-scaled to ~unit
# magnitude (price × 1e-5, discount × 10) so squared micro-sums stay far
# from the 2⁶³ bigint ceiling; correlation is scale-invariant so the
# factors cancel exactly in the ratio.
_CORR_SQL = None


def _corr_pair(x: str, y: str) -> str:
    # de-scale the micro sums (÷1e6) so first- and second-moment terms are
    # in the same units; every op below is deterministic IEEE on identical
    # integer inputs
    n = "CAST(n AS DOUBLE)"
    sx, sy = f"(CAST(s_{x} AS DOUBLE) / 1000000.0)", f"(CAST(s_{y} AS DOUBLE) / 1000000.0)"
    sxy = f"(CAST(s_{x}_{y} AS DOUBLE) / 1000000.0)"
    sxx = f"(CAST(s_{x}_{x} AS DOUBLE) / 1000000.0)"
    syy = f"(CAST(s_{y}_{y} AS DOUBLE) / 1000000.0)"
    # Degenerate-input guards (identical text both engines): GREATEST
    # clamps the variance terms at 0 — mathematically they are ≥0 but the
    # FLOOR-micro sums can land epsilon-NEGATIVE for a constant column,
    # and DuckDB ERRORS on sqrt(negative) where Spark returns NaN. NULLIF
    # then turns the zero-variance denominator into NULL — Spark 4's ANSI
    # mode throws DIVIDE_BY_ZERO even for double division (DuckDB yields
    # inf/nan); NULL is the identical-in-both-engines degenerate value and
    # matches the statistical convention (correlation undefined).
    return (
        f"(({n} * {sxy} - {sx} * {sy}) / "
        f"NULLIF(SQRT(GREATEST({n} * {sxx} - {sx} * {sx}, 0.0))"
        f" * SQRT(GREATEST({n} * {syy} - {sy} * {sy}, 0.0)), 0.0))"
    )


def _corr_sql() -> str:
    scaled = {
        "q": "l_quantity",
        "p": "(l_extendedprice * 0.00001)",
        "d": "(l_discount * 10.0)",
    }

    def msum(expr: str, alias: str) -> str:
        return f"SUM(CAST(FLOOR(({expr}) * 1000000.0) AS BIGINT)) AS {alias}"

    sums = [f"COUNT(*) AS n"]
    for k, e in scaled.items():
        sums.append(msum(e, f"s_{k}"))
        sums.append(msum(f"{e} * {e}", f"s_{k}_{k}"))
    for a, b in (("q", "p"), ("q", "d"), ("p", "d")):
        sums.append(msum(f"{scaled[a]} * {scaled[b]}", f"s_{a}_{b}"))
    return f"""
    WITH s AS (SELECT {', '.join(sums)} FROM lineitem)
    SELECT {_corr_pair('q', 'p')} AS corr_qty_price,
           {_corr_pair('q', 'd')} AS corr_qty_disc,
           {_corr_pair('p', 'd')} AS corr_price_disc
    FROM s
    """


_CORR_SQL = _corr_sql()


@register("corr_matrix", _CORR_SQL)
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation over variable pairs — df.corr()
    (Codes/b2.py:323-326) — computed from exact scaled-bigint raw sums in a
    single codegen'd aggregation pass (see _corr_sql notes)."""
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_CORR_SQL)


_T0_US = 1704067200000000  # 2024-01-01 UTC — fixed origin for trend regressions


def _trend_fit_sql(d) -> str:
    # degree-1 least squares from exact micro-floored sums: REGR_SLOPE /
    # REGR_INTERCEPT are differently-implemented streaming aggregates per
    # engine (agreement at round-6 was data luck), while identical bigint
    # sums + an identical IEEE double formula are bit-deterministic with no
    # rounding at all. Same strategy as corr_matrix.
    def m(expr: str, alias: str) -> str:
        return f"SUM(CAST(FLOOR(({expr}) * 1000000.0) AS BIGINT)) AS {alias}"

    # CAST the numerator: DuckDB parses 86400000000.0 as a DECIMAL literal,
    # and BIGINT / DECIMAL runs exact decimal division — higher precision
    # than Spark's double division, which then diverges inside
    # FLOOR(x·x·1e6). DOUBLE / DECIMAL promotes to double in both engines.
    td = f"(CAST({d['tus']} - {_T0_US} AS DOUBLE) / 86400000000.0)"
    return f"""
    WITH pts AS (SELECT user_id, value, {td} AS x FROM events),
    s AS (
      SELECT user_id, COUNT(*) AS n,
             {m('x', 's_x')}, {m('value', 's_y')},
             {m('x * value', 's_xy')}, {m('x * x', 's_xx')}
      FROM pts GROUP BY user_id
    ),
    d AS (
      SELECT user_id, CAST(n AS DOUBLE) AS n,
             CAST(s_x AS DOUBLE) / 1000000.0 AS sx,
             CAST(s_y AS DOUBLE) / 1000000.0 AS sy,
             CAST(s_xy AS DOUBLE) / 1000000.0 AS sxy,
             CAST(s_xx AS DOUBLE) / 1000000.0 AS sxx
      FROM s
    )
    SELECT user_id,
           -- NULLIF: a singleton or constant-time series has zero x-variance
           -- and Spark 4's ANSI mode throws DIVIDE_BY_ZERO even for double
           -- division (DuckDB yields inf/nan); NULL slope/intercept is the
           -- identical-in-both-engines degenerate value (OLS undefined).
           (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) AS slope,
           (sy - (n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0) * sx) / n AS intercept,
           CAST(n AS BIGINT) AS n_points
    FROM d
    """


@register("trend_fit", _trend_fit_sql(_DUCK_D))
def trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.polyfit(time, y, 1) per series (Codes/c1.py:400-403) — ordinary
    least squares from exact scaled-bigint raw sums in one codegen'd
    aggregation pass (see _trend_fit_sql notes)."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_trend_fit_sql(_SPARK_D))


@register(
    "revenue_by_nation",
    f"""
    SELECT n.n_name AS nation, r.r_name AS region,
           COUNT(*) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join + aggregate (TPC-H Q5 flavor), early-aggregated.

    The fact side reduces FIRST: lineitem⋈bridge → groupBy the int
    c_nationkey (25 groups), and only the 25-row aggregate joins the
    nation/region name dims. At 100 TB this is the textbook plan — the
    expensive agg runs on an integer key before any string column exists,
    and the name joins touch 25 rows instead of every fact row.

    The (o_orderkey → c_nationkey) BRIDGE is a session-lifetime persisted
    dimension index (`persisted`, VERDICT r04 item 1a): orders⋈customer is
    the same 2-int-column relation every execution, and rebuilding its
    broadcast input from parquet each run measured 0.16 s of the query's
    0.6 s floor — the session dimension cache cuts steady-state to ~0.44 s.

    The bridge is FACT-proportional (one row per order), so its broadcast
    hint is SIZE-GATED on the orders footer row count (~16 B/row for an
    int pair): through sf10 (15M orders, ~240 MB) the broadcast wins; at
    sf100 (150M orders, ~2.4 GB) the unconditional hint blew
    spark.driver.maxResultSize — caught by the 4th-decade ladder — and the
    gate now yields a sort-merge join on l_orderkey there. The customer
    side of the bridge build gets the same gate (one row per customer).

    In the NON-broadcast branch the fact side pre-aggregates per
    l_orderkey BEFORE the join: the map-side partial combine then shrinks
    the lineitem shuffle from one row per item (~4/order) to one row per
    order, and the SMJ sorts the reduced set (sf100: 114 s → measured
    faster with the pre-agg; 600M → 150M shuffled rows). Exactness is
    free — the micro-bigint sums are associative, so per-order partials
    re-summed per nation are bit-identical to the one-level sum. At
    broadcast scale the pre-agg would ADD an exchange (the broadcast join
    needs none), so it engages only past the gate. Past even that, the
    cluster-scale form is the bridge write_bucketed on o_orderkey and a
    co-located shuffle join — the fact side still aggregates on the int
    key before any string dim appears."""
    li = load(spark, sf_dir, "lineitem")
    # rows x 16 B: both relations are projected to an int pair
    bridge_bytes = table_rows(sf_dir, "orders") * 16
    cust_bytes = table_rows(sf_dir, "customer") * 16

    def _bridge() -> DataFrame:
        orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        return orders.join(
            broadcast_if_small(cust, cust_bytes),
            F.col("o_custkey") == F.col("c_custkey"),
        ).select("o_orderkey", "c_nationkey")

    def _dim() -> DataFrame:
        # nation⋈region pre-joined once: the name tail then costs ONE
        # 25-row broadcast per execution instead of two
        nation = load(spark, sf_dir, "nation")
        region = load(spark, sf_dir, "region")
        return nation.join(
            F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
        ).select("n_nationkey", "n_name", "r_name")

    bridge = persisted(spark, f"rev_bridge|{sf_dir}", _bridge)
    dim = persisted(spark, f"rev_dim|{sf_dir}", _dim)
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    fact = li.select("l_orderkey", rev.alias("rev"))
    if bridge_bytes < BROADCAST_CAP_BYTES:
        agg = (
            fact.join(
                F.broadcast(bridge), F.col("l_orderkey") == F.col("o_orderkey")
            )
            .groupBy("c_nationkey")
            .agg(F.count("*").alias("n_items"), dsum("rev", "revenue"))
        )
    else:
        # scale branch: per-order partials ride the join shuffle
        per_order = fact.groupBy("l_orderkey").agg(
            F.count("*").alias("n_part"),
            F.sum(F.floor(F.col("rev") * 1000000.0).cast("bigint")).alias("rev_u"),
        )
        agg = (
            per_order.join(bridge, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("c_nationkey")
            .agg(
                F.sum("n_part").alias("n_items"),
                (F.sum("rev_u").cast("double") / F.lit(1000000.0)).alias(
                    "revenue"
                ),
            )
        )
    return (
        agg.join(F.broadcast(dim), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("r_name").alias("region"),
            "n_items",
            "revenue",
        )
    )


@register(
    "missing_profile",
    f"""
    WITH masked AS (
      SELECT event_type,
             CASE WHEN {_MCAR_U} < 0.2 THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT(value) AS n_missing,
           CAST(COUNT(*) - COUNT(value) AS DOUBLE) / COUNT(*) AS missing_rate,
           {sql_davg("value")} AS mean_observed
    FROM masked
    GROUP BY event_type
    """,
)
def missing_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-data profiling (Codes/d1.py:350-378): apply a deterministic
    MCAR mask (rate 0.2) then count nulls / compare observed means per group.
    NULL is the canonical missing marker (SURVEY.md §1.3)."""
    ev = load(spark, sf_dir, "events")
    masked = ev.select(
        "event_type",
        F.when(F.expr(_MCAR_U) < 0.2, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    return masked.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("value")).alias("n_missing"),
        ((F.count("*") - F.count("value")).cast("double") / F.count("*")).alias(
            "missing_rate"
        ),
        davg("value", "mean_observed"),
    )


@register(
    "metrics_rollup",
    f"""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_returnflag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_linestatus,
           COUNT(*) AS n_rows,
           {sql_dsum("l_quantity")} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-level metric reporting over grid dims (G20 × M2-M5) — rollup
    with GROUPING() markers so subtotal rows are unambiguous."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            dsum("l_quantity", "sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_returnflag"),
            F.grouping("l_linestatus").cast("int").alias("g_linestatus"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "g_returnflag",
            "g_linestatus",
            "n_rows",
            "sum_qty",
        )
    )


# --------------------------------------------------------------------------
# Sorts / top-k / dedup / set ops
# --------------------------------------------------------------------------


@register(
    "topk_value",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 100
    """,
)
def topk_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with unique-key tiebreak — Catalyst compiles orderBy+limit to
    TakeOrderedAndProject (no global sort materialization)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type", "value")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(100)
    )


@register(
    "dedup_firstseen",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
      SELECT doc_id, lang, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def dedup_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen dedup (M11, py_tetrad_helper.py:91-96 order-preserving
    dedup) generalized to exact text dedup: keep the lowest doc_id per
    md5(text). One shuffle on the hash key; md5 agrees across engines."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars")
    )


_CONFIG_GRID_SQL = """
    SELECT 'n' || n || '_v' || n_vars || '_l' || max_lag || '_' || noise AS config_id,
           n, n_vars, max_lag, noise
    FROM (VALUES (500),(1000),(3000),(5000)) AS t1(n)
    CROSS JOIN (VALUES (4),(6),(8)) AS t2(n_vars)
    CROSS JOIN (VALUES (2),(3),(4)) AS t3(max_lag)
    CROSS JOIN (VALUES ('gaussian'),('student_t')) AS t4(noise)
    """


@register("config_grid", _CONFIG_GRID_SQL)
def config_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The factorial sweep grid (G20, Codes/a1.py:308-344): cross join of
    dimension literals → 72 configs — the scale-out axis for generation.

    One SQL string shared verbatim with the DuckDB oracle. Expressed as a
    single spark.sql over VALUES relations: Catalyst folds the whole grid into
    one LocalRelation, avoiding the 32×32×… cartesian *task* explosion that a
    crossJoin of separately-parallelized literal DataFrames would schedule."""
    return spark.sql(_CONFIG_GRID_SQL)


@register(
    "order_set_ops",
    """
    WITH flags AS (
      SELECT o_custkey,
             MAX(CASE WHEN o_orderdate <  TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS early,
             MAX(CASE WHEN o_orderdate >= TIMESTAMP '2000-01-01' THEN 1 ELSE 0 END) AS late
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(SUM(CASE WHEN early = 1 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN early = 1 AND late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_early_only,
           CAST(SUM(CASE WHEN early = 0 AND late = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_only,
           COUNT(*) AS n_any
    FROM flags
    """,
)
def order_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersect / except / union-distinct cardinalities — the engine form of
    M4's symmetric-difference SHD building block — computed in ONE pass: a
    per-key flag aggregate then a conditional count. The naive
    intersect/except/union plan scans `orders` ~8× and runs four wide
    distinct-shuffles; this plan is one scan + one shuffle on o_custkey,
    which is the shape that survives 100 TB."""
    orders = load(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("timestamp")
    flags = orders.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_orderdate") < cutoff, 1).otherwise(0)).alias("early"),
        F.max(F.when(F.col("o_orderdate") >= cutoff, 1).otherwise(0)).alias("late"),
    )
    both = (F.col("early") == 1) & (F.col("late") == 1)
    early_only = (F.col("early") == 1) & (F.col("late") == 0)
    late_only = (F.col("early") == 0) & (F.col("late") == 1)
    return flags.agg(
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias("n_both"),
        F.sum(F.when(early_only, 1).otherwise(0)).cast("bigint").alias("n_early_only"),
        F.sum(F.when(late_only, 1).otherwise(0)).cast("bigint").alias("n_late_only"),
        F.count("*").alias("n_any"),
    )
