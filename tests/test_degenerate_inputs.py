"""Degenerate-input crash class (round 6).

Spark 4's default ANSI mode throws DIVIDE_BY_ZERO for division by zero —
including DOUBLE division, where DuckDB yields inf/nan — so any statistic
whose denominator can reach exactly 0 on legal input (singleton series,
constant column, zero vector) would crash in Spark while the oracle
returns rows. Round 6 guards every such site with NULLIF: NULL is the one
degenerate value both engines produce identically. These tests pin the
contract engine-vs-engine on constructed degenerate fixtures.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from synth_timeseries_data_spark.queries import _DUCK_D, _SPARK_D
from synth_timeseries_data_spark.queries.relational import (
    _CORR_SQL,
    _SUMMARY_SQL,
    _trend_fit_sql,
)


def _run_both(spark, sdf, view, spark_sql, duck_sql, sort_cols):
    sdf.createOrReplaceTempView(view)
    try:
        got = (
            spark.sql(spark_sql)
            .toPandas()
            .sort_values(sort_cols)
            .reset_index(drop=True)
        )
    finally:
        spark.catalog.dropTempView(view)
    con = duckdb.connect()
    con.register(f"{view}_raw", sdf.toPandas())
    con.execute(f"CREATE VIEW {view} AS SELECT * FROM {view}_raw")
    want = (
        con.execute(duck_sql).df().sort_values(sort_cols).reset_index(drop=True)
    )
    con.close()
    return got, want


def test_trend_fit_singleton_and_constant_time_series(spark):
    """user 1: one event (zero x-variance); user 2: two events at the SAME
    timestamp (zero x-variance); user 3: healthy. No crash, NULL fit for
    the degenerate series, identical frames across engines.

    Timestamps sit exactly on the micro grid (x = whole days from the T0
    origin) so the FLOOR-micro sums make the denominator EXACTLY 0 — the
    input class that crashed the unguarded form under ANSI (off-grid
    degenerate series produce a deterministic-but-meaningless fit in both
    engines instead; only the exact-zero case divides by zero)."""
    from synth_timeseries_data_spark.queries.relational import _T0_US

    t0 = _T0_US * 1000  # ns
    day = 86_400_000_000_000
    rows = [
        (0, t0, 1, 5.0),
        (1, t0 + day, 2, 1.0),
        (2, t0 + day, 2, 2.0),
        (3, t0, 3, 1.0),
        (4, t0 + 2 * day, 3, 4.0),
    ]
    sdf = spark.createDataFrame(
        rows, "event_id BIGINT, ts BIGINT, user_id BIGINT, value DOUBLE"
    )
    # DuckDB side gets the SAME bigint-ns ts; reuse the Spark dialect's
    # (ts div 1000) conversion so both engines run identical arithmetic.
    got, want = _run_both(
        spark, sdf, "events",
        _trend_fit_sql(_SPARK_D),
        _trend_fit_sql({**_DUCK_D, "tus": "(ts // 1000)"}),
        ["user_id"],
    )
    assert got["slope"].isna().tolist() == [True, True, False]
    assert got["intercept"].isna().tolist() == [True, True, False]
    got = got.astype({c: want[c].dtype for c in want.columns})
    assert got.equals(want)


def test_summary_stats_single_row_group(spark):
    """A (returnflag, linestatus) group with ONE row: sample std is
    undefined → NULL in both engines, not a Spark ANSI crash."""
    rows = [
        ("A", "F", 10.0, 100.0, 0.1),
        ("N", "O", 1.0, 50.0, 0.0),
        ("N", "O", 3.0, 60.0, 0.2),
    ]
    sdf = spark.createDataFrame(
        rows,
        "l_returnflag STRING, l_linestatus STRING, l_quantity DOUBLE,"
        " l_extendedprice DOUBLE, l_discount DOUBLE",
    )
    got, want = _run_both(
        spark, sdf, "lineitem", _SUMMARY_SQL, _SUMMARY_SQL,
        ["l_returnflag", "l_linestatus"],
    )
    by_flag = {r["l_returnflag"]: r for _, r in got.iterrows()}
    assert pd.isna(by_flag["A"]["std_qty"])  # singleton group
    assert not pd.isna(by_flag["N"]["std_qty"])
    got = got.astype({c: want[c].dtype for c in want.columns})
    assert got.equals(want)


def test_corr_matrix_constant_column(spark):
    """A constant column has zero variance: correlation undefined → NULL
    in both engines (DuckDB's raw formula would give nan via 0/0)."""
    # realistic price magnitudes: the template scales price by 1e-5, so
    # tiny values would floor every second moment to 0 and null the
    # healthy pair as well
    rows = [(5.0, 10000.0, 0.1), (5.0, 20000.0, 0.3), (5.0, 15000.0, 0.2)]
    sdf = spark.createDataFrame(
        rows, "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE"
    )
    got, want = _run_both(
        spark, sdf, "lineitem", _CORR_SQL, _CORR_SQL, ["corr_price_disc"]
    )
    assert pd.isna(got.loc[0, "corr_qty_price"])  # constant qty
    assert pd.isna(got.loc[0, "corr_qty_disc"])
    assert not pd.isna(got.loc[0, "corr_price_disc"])
    assert got.isna().equals(want.isna())


def test_zero_vector_cosine_does_not_crash(spark):
    """The guarded cosine form: a zero vector yields NULL similarity (not
    an ANSI crash), which threshold predicates filter identically in both
    engines."""
    expr = (
        "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0.0 AS DOUBLE),"
        " (acc, x) -> acc + x)"
        " / NULLIF(SQRT(aggregate(a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))"
        " * SQRT(aggregate(b, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)), 0.0)"
    )
    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 2.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    )
    rows = df.selectExpr(f"{expr} AS cos_sim").collect()
    assert rows[0].cos_sim is None
    assert rows[1].cos_sim == 1.0


def test_props_parse_tolerates_malformed_json(spark):
    """props is arbitrary JSON: non-numeric k, missing k, and non-JSON
    strings must all profile as NULL (COUNT(k) skips them) in BOTH engines
    — not an ANSI cast crash (Spark) or conversion error (DuckDB)."""
    from synth_timeseries_data_spark.queries import all_queries

    rows = [
        (0, 1_000, 1, "view", 1.0, '{"k": 7}'),
        (1, 2_000, 1, "view", 1.0, '{"k": "abc"}'),
        (2, 3_000, 1, "view", 1.0, '{"other": 1}'),
        (3, 4_000, 1, "view", 1.0, "not json at all"),
        (4, 5_000, 1, "view", 1.0, None),
    ]
    sdf = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    q = all_queries()["props_parse"]
    sdf.createOrReplaceTempView("events")
    from pyspark.sql import functions as F

    parsed = sdf.select(
        "event_type",
        F.expr("try_cast(get_json_object(props, '$.k') AS INT)").alias("k"),
    )
    got = parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.count("k").alias("n_with_k")
    ).collect()[0]
    assert (got.n_events, got.n_with_k) == (5, 1)

    con = duckdb.connect()
    con.register("events_raw", sdf.toPandas())
    con.execute("CREATE VIEW events AS SELECT * FROM events_raw")
    want = con.execute(q.oracle).df()
    con.close()
    assert want.loc[0, "n_events"] == 5 and want.loc[0, "n_with_k"] == 1


def test_results_identical_with_ansi_disabled(spark, oracle_sf_dir):
    """A caller-owned session may run with spark.sql.ansi.enabled=false
    (the pre-Spark-4 default). The engine's degenerate-input guards
    (CASE/NULLIF/try-free arithmetic, bounds-safe element_at) are written
    to be MODE-INDEPENDENT — representative queries across the surface
    must return bit-identical rows either way."""
    names = [
        "asof_lag",          # the guarded mean_gap divisor + element_at brackets
        "trend_fit",         # NULLIF zero-variance OLS
        "repetition_ratio",  # array projection with sequence/element_at
        "sliding_agg",
        "unigram_xent",      # ln + division pipeline
        "summary_stats",
    ]
    from synth_timeseries_data_spark.queries import all_queries

    qs = all_queries()
    before = {n: qs[n].build(spark, oracle_sf_dir).collect() for n in names}
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        after = {n: qs[n].build(spark, oracle_sf_dir).collect() for n in names}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    for n in names:
        assert sorted(map(tuple, before[n])) == sorted(map(tuple, after[n])), n


def test_queries_build_under_case_sensitive_resolution(spark, oracle_sf_dir):
    """A caller session may set spark.sql.caseSensitive=true; every column
    reference in the engine's SQL must already match its source case
    exactly. (Full-registry probe passed at round 6 — this pins a diverse
    subset so new queries keep the invariant.)"""
    names = ["asof_lag", "revenue_by_nation", "tfidf_topterms",
             "minhash_dedup", "funnel", "multimodal_features"]
    from synth_timeseries_data_spark.queries import all_queries

    qs = all_queries()
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        for n in names:
            assert qs[n].build(spark, oracle_sf_dir).limit(1).collect() is not None, n
    finally:
        spark.conf.set("spark.sql.caseSensitive", "false")


def test_acf_constant_and_singleton_series(spark):
    """acf degenerate contract: a constant series has zero variance at
    every lag (NULL acf via the NULLIF guard, no ANSI crash); a singleton
    series has no lag pairs at all (no rows); a healthy AR-ish series
    yields finite values. Engine-vs-engine on the constructed fixture."""
    import pandas as pd

    from synth_timeseries_data_spark.queries import _SPARK_D
    from synth_timeseries_data_spark.queries.timeseries import _acf_sql

    rows = []
    # user 1: constant series (10 points); user 2: singleton; user 3: ramp
    for i in range(10):
        rows.append((1, i + 1, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), 5.0))
    rows.append((2, 100, pd.Timestamp("2024-01-01"), 1.0))
    for i in range(12):
        rows.append((3, 200 + i, pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=i), float(i)))
    pdf = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "value"])
    sdf = spark.createDataFrame(pdf)
    # engine-canonical nanos bigint on the Spark side, like load()
    sdf = sdf.selectExpr(
        "user_id", "event_id",
        "CAST(unix_micros(ts) AS BIGINT) * 1000 AS ts", "value",
    )
    sdf.createOrReplaceTempView("events")
    try:
        got = (
            spark.sql(_acf_sql(_SPARK_D))
            .toPandas()
            .sort_values(["user_id", "lag"])
            .reset_index(drop=True)
        )
    finally:
        spark.catalog.dropTempView("events")
    assert set(got[got.user_id == 1]["acf"].isna()) == {True}
    assert (got.user_id != 2).all()  # singleton: no lag pairs
    assert got[got.user_id == 3]["acf"].notna().any()


def test_source_kl_single_source_and_null_text(spark):
    """source_kl degenerate contract: one source yields NO pairs (empty
    frame, no crash); NULL texts drop out of the token stream; two
    identical sources give KL ~ 0 within quantization."""
    import pandas as pd

    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _SPARK_D,
        _skl_body,
        _skl_ssc_sql,
    )

    def run(pdf):
        sdf = spark.createDataFrame(pdf)
        sdf.createOrReplaceTempView("documents_par")
        sdf.createOrReplaceTempView("documents")
        try:
            sql = (
                "WITH " + _skl_ssc_sql(_SPARK_D)
                + ", " + _skl_body("ssc_raw")
            )
            return spark.sql(sql).toPandas()
        finally:
            spark.catalog.dropTempView("documents_par")
            spark.catalog.dropTempView("documents")

    one = pd.DataFrame(
        {"source": ["a", "a"], "text": ["x y z", None]}
    )
    assert len(run(one)) == 0

    twin = pd.DataFrame(
        {
            "source": ["a", "b"],
            "text": ["alpha beta beta gamma", "alpha beta beta gamma"],
        }
    )
    out = run(twin)
    assert len(out) == 2
    assert (out["kl_nats"].abs() < 1e-5).all()


def test_bigram_xent_single_token_and_empty_docs(spark):
    """bigram_xent degenerate contract (ADVICE r9, high): docs with fewer
    than two tokens have no bigrams and emit NO row — they must not crash
    the query. Unguarded, Spark's sequence(1, size(ws)-1) on a one-token
    doc yields sequence(1, 0) = [1, 0] (step defaults to -1 when
    start > stop) and element_at(ws, 0) throws INVALID_INDEX_OF_ZERO;
    DuckDB's generate_series(1, 0) is simply empty. Engine-vs-engine on a
    fixture with single-token, empty-string, NULL-text and healthy docs."""
    import pandas as pd

    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _BX_DUCK,
        _BX_SPARK,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["solo", "", None, "alpha beta beta gamma"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("documents_par")
    try:
        got = (
            spark.sql(_BX_SPARK)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    finally:
        spark.catalog.dropTempView("documents_par")

    con = duckdb.connect()
    con.register("documents_raw", pdf)
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_raw")
    want = (
        con.execute(_BX_DUCK).df().sort_values("doc_id").reset_index(drop=True)
    )
    con.close()

    # only the healthy doc emits a row, identically on both engines
    assert got["doc_id"].tolist() == [3]
    got = got.astype({c: want[c].dtype for c in want.columns})
    assert got.equals(want)


def test_pacf_degenerate_series(spark, tmp_path):
    """pacf degenerate contract: an exact-constant series has c0 = 0 →
    NULL at every lag (no ANSI crash); a singleton emits 8 NULL-pacf
    rows (its lag-0 row exists, no lag pairs); any TWO-point series has
    the biased-estimator identity pacf(1) = -0.5 and NULL beyond; a
    perfect ramp (near-unit-root — the 1 - S2 ≈ 0 stress) stays finite
    at lag 1 and never throws; a near-constant non-representable value
    (0.1) leaves quantization residuals whose garbage ratios are
    CLAMPED to NULL or [-2, 2] rather than overflowing the ANSI CAST."""
    from synth_timeseries_data_spark.queries import all_queries
    from tests.oracle_utils import PACF_DEGENERATE_ROWS, write_events

    sf_dir = write_events(tmp_path, PACF_DEGENERATE_ROWS)
    got = (
        all_queries()["pacf"]
        .build(spark, sf_dir)
        .toPandas()
        .sort_values(["user_id", "lag"])
        .reset_index(drop=True)
    )

    assert len(got) == 5 * 8  # every series emits exactly 8 lag rows
    assert got[got.user_id == 1]["pacf"].isna().all()
    assert got[got.user_id == 2]["pacf"].isna().all()
    two = got[got.user_id == 3].set_index("lag")["pacf"]
    assert two[1] == -0.5 and two[2:].isna().all()
    ramp = got[got.user_id == 4].set_index("lag")["pacf"]
    assert 0.9 < ramp[1] < 1.0  # biased r1 of a ramp: 1 - O(1/n)
    nc = got[got.user_id == 5]["pacf"]
    assert ((nc.abs() <= 2.0) | nc.isna()).all()
