"""DSL parsing layer (G2) and ground-truth tensor build (G15).

The reference declares causal structure as equation strings and parses them
with split-on-'+' / split-on-'*' string surgery (linear: Codes/a1.py:214-235;
polynomial: b2.py:160-194; trigonometric: c1.py:248-290). The engine parses
the same registry relationally: explode terms, then first-match regex
extraction — which reproduces the reference's effective semantics including
quirk Q1 (SURVEY.md §2.1): in ``0.25 * X1[t-2]^2 - 0.1 * X1[t-2]^3`` the
'+'-only split leaves the cubic tail inside the first term, and both the
reference's split chain and a first-match regex keep coef=0.25, power=2,
dropping the cubic. Fidelity vs the reference parsers is pinned by
tests/test_dsl_semantics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..dsl.registry import EQUATION_ROWS
from ..functions.materialize import materialized
from . import register

# First-match extraction patterns (shared by Spark and DuckDB; both engines'
# regexp_extract returns group 1 of the first match, '' when absent).
_COEF_RE = r"^([0-9]+\.?[0-9]*)"
_SRC_RE = r"X([0-9]+)"
_LAG_RE = r"\[t-([0-9]+)\]"
_POW_RE = r"\^([0-9]+)"


def _eqs_values_sql() -> str:
    rows = ", ".join(
        f"('{f}', {v}, {l}, {i}, '{e}')" for f, v, l, i, e in EQUATION_ROWS
    )
    return f"(VALUES {rows}) AS eqs(family, n_vars, max_lag, eq_idx, eq)"


_PARSE_ORACLE = f"""
    WITH terms AS (
      SELECT family, n_vars, max_lag,
             trim(str_split(eq, '=')[1]) AS lhs,
             trim(unnest(str_split(str_split(eq, '=')[2], '+'))) AS term
      FROM {_eqs_values_sql()}
    ),
    kept AS (
      SELECT * FROM terms
      WHERE contains(term, 'X') AND (family = 'c1' OR contains(term, '*'))
    )
    SELECT family, n_vars, max_lag,
           'X' || regexp_extract(lhs, '{_SRC_RE}', 1) AS target,
           'X' || regexp_extract(term, '{_SRC_RE}', 1) AS source,
           CAST(CASE WHEN regexp_extract(term, '{_LAG_RE}', 1) = '' THEN '0'
                     ELSE regexp_extract(term, '{_LAG_RE}', 1) END AS INT) AS lag,
           CASE WHEN family = 'a1' THEN 'linear'
                WHEN family = 'b2' THEN 'power' ||
                     CASE WHEN contains(term, '^')
                          THEN regexp_extract(term, '{_POW_RE}', 1) ELSE '1' END
                WHEN contains(term, 'cos(') THEN 'cos'
                WHEN contains(term, 'sin(') THEN 'sin'
                WHEN contains(term, '^')
                     THEN 'power' || regexp_extract(term, '{_POW_RE}', 1)
                ELSE 'linear' END AS func,
           CAST(regexp_extract(term, '{_COEF_RE}', 1) AS DOUBLE) AS coef
    FROM kept
    """


def _parsed_edges(spark: SparkSession) -> DataFrame:
    """Parsed edge list, materialized once per session.

    The parse pipeline is pure driver-side literals (the DSL registry), so
    the relation is immutable by construction; edge_tensor references it
    from four plan branches (edges/cfg/direct/sym) and every downstream
    graph metric re-reads it — without materialization each reference
    re-runs the explode+regex pipeline as its own job. At 100 TB this is
    the broadcast dim table you'd build once per session anyway.
    """
    return materialized(spark, "parsed_edges", lambda: _parse_pipeline(spark))


def _parse_pipeline(spark: SparkSession) -> DataFrame:
    # VALUES literal instead of createDataFrame(local list): the latter
    # pickles rows through a Python RDD on every call (~1.5 s of pure
    # serialization overhead per build); a SQL literal stays JVM-side and
    # plans in milliseconds.
    eqs = spark.sql(f"SELECT * FROM {_eqs_values_sql()}")
    split_eq = F.split(F.col("eq"), "=")
    terms = eqs.select(
        "family",
        "n_vars",
        "max_lag",
        F.trim(F.element_at(split_eq, 1)).alias("lhs"),
        F.explode(F.split(F.element_at(split_eq, 2), r"\+")).alias("raw"),
    ).withColumn("term", F.trim("raw"))
    kept = terms.where(
        F.col("term").contains("X")
        & ((F.col("family") == "c1") | F.col("term").contains("*"))
    )
    lag_s = F.regexp_extract("term", _LAG_RE, 1)
    pow_s = F.regexp_extract("term", _POW_RE, 1)
    func = (
        F.when(F.col("family") == "a1", F.lit("linear"))
        .when(
            F.col("family") == "b2",
            F.concat(
                F.lit("power"),
                F.when(F.col("term").contains("^"), pow_s).otherwise(F.lit("1")),
            ),
        )
        .when(F.col("term").contains("cos("), F.lit("cos"))
        .when(F.col("term").contains("sin("), F.lit("sin"))
        .when(F.col("term").contains("^"), F.concat(F.lit("power"), pow_s))
        .otherwise(F.lit("linear"))
    )
    return kept.select(
        "family",
        "n_vars",
        "max_lag",
        F.concat(F.lit("X"), F.regexp_extract("lhs", _SRC_RE, 1)).alias("target"),
        F.concat(F.lit("X"), F.regexp_extract("term", _SRC_RE, 1)).alias("source"),
        F.when(lag_s == "", F.lit(0)).otherwise(lag_s.cast("int")).alias("lag"),
        func.alias("func"),
        F.regexp_extract("term", _COEF_RE, 1).cast("double").alias("coef"),
    )


@register("parse_edges", _PARSE_ORACLE)
def parse_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equation DSL → edge list across all three grammars (linear
    a1.py:214-235, polynomial-with-Q1 b2.py:160-194, trig/func
    c1.py:248-290): explode '+'-split terms, first-match regex extraction.
    Driver-side literals in, ~150 rows out — the DSL is dim-sized by design;
    at 100 TB this stays a broadcast table."""
    return _parsed_edges(spark)


# --------------------------------------------------------------------------
# G15 — ground-truth tensor build (a1.py:249-266): edge list → dense
# (source_idx, target_idx, lag_idx) cells with val/graph; contemporaneous
# (lag 0) val is symmetrized, graph is NOT (a1.py:263-265).
# --------------------------------------------------------------------------

_TENSOR_ORACLE = f"""
    WITH parsed AS ({_PARSE_ORACLE}),
    edges AS (
      SELECT n_vars, max_lag,
             CAST(substr(source, 2) AS INT) - 1 AS si,
             CAST(substr(target, 2) AS INT) - 1 AS ti,
             lag, coef
      FROM parsed WHERE family = 'a1'
    ),
    cfg AS (SELECT DISTINCT n_vars, max_lag FROM edges),
    d1 AS (SELECT n_vars, max_lag, unnest(generate_series(0, n_vars - 1)) AS i FROM cfg),
    d2 AS (SELECT n_vars, max_lag, i, unnest(generate_series(0, n_vars - 1)) AS j FROM d1),
    dom AS (SELECT n_vars, max_lag, i, j, unnest(generate_series(0, max_lag)) AS k FROM d2)
    SELECT d.n_vars, d.n_vars AS p, d.max_lag, d.i, d.j, d.k,
           COALESCE(e.coef, s.coef, 0.0) AS val,
           CASE WHEN e.coef IS NOT NULL THEN 1 ELSE 0 END AS graph
    FROM dom d
    LEFT JOIN edges e
      ON e.n_vars = d.n_vars AND e.max_lag = d.max_lag
     AND e.si = d.i AND e.ti = d.j AND e.lag = d.k
    LEFT JOIN edges s
      ON s.n_vars = d.n_vars AND s.max_lag = d.max_lag
     AND s.ti = d.i AND s.si = d.j AND s.lag = 0 AND d.k = 0
    """


@register("edge_tensor", _TENSOR_ORACLE)
def edge_tensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense ground-truth tensor rows for the linear family — a1.py:249-266
    semantics: graph[si,ti,k] marks declared edges only; val additionally
    mirrors lag-0 weights to (ti,si,0). Domain built by sequence-explode,
    edges broadcast-joined (dim-sized both sides at any scale)."""
    edges = (
        _parsed_edges(spark)
        .where(F.col("family") == "a1")
        .select(
            "n_vars",
            "max_lag",
            (F.substring("source", 2, 10).cast("int") - 1).alias("si"),
            (F.substring("target", 2, 10).cast("int") - 1).alias("ti"),
            "lag",
            "coef",
        )
    )
    cfg = edges.select("n_vars", "max_lag").distinct()
    dom = (
        cfg.select(
            "n_vars",
            "max_lag",
            F.explode(F.sequence(F.lit(0), F.col("n_vars") - 1)).alias("i"),
        )
        .select(
            "n_vars",
            "max_lag",
            "i",
            F.explode(F.sequence(F.lit(0), F.col("n_vars") - 1)).alias("j"),
        )
        .select(
            "n_vars",
            "max_lag",
            "i",
            "j",
            F.explode(F.sequence(F.lit(0), F.col("max_lag"))).alias("k"),
        )
    )
    direct = edges.select(
        F.col("n_vars").alias("e_nv"),
        F.col("max_lag").alias("e_ml"),
        "si",
        "ti",
        "lag",
        F.col("coef").alias("e_coef"),
    )
    sym = edges.where(F.col("lag") == 0).select(
        F.col("n_vars").alias("s_nv"),
        F.col("max_lag").alias("s_ml"),
        F.col("si").alias("s_si"),
        F.col("ti").alias("s_ti"),
        F.col("coef").alias("s_coef"),
    )
    return (
        dom.join(
            F.broadcast(direct),
            (F.col("e_nv") == F.col("n_vars"))
            & (F.col("e_ml") == F.col("max_lag"))
            & (F.col("si") == F.col("i"))
            & (F.col("ti") == F.col("j"))
            & (F.col("lag") == F.col("k")),
            "left",
        )
        .join(
            F.broadcast(sym),
            (F.col("s_nv") == F.col("n_vars"))
            & (F.col("s_ml") == F.col("max_lag"))
            & (F.col("s_ti") == F.col("i"))
            & (F.col("s_si") == F.col("j"))
            & (F.col("k") == 0),
            "left",
        )
        .select(
            "n_vars",
            F.col("n_vars").alias("p"),
            "max_lag",
            "i",
            "j",
            "k",
            F.coalesce("e_coef", "s_coef", F.lit(0.0)).alias("val"),
            F.when(F.col("e_coef").isNotNull(), 1).otherwise(0).alias("graph"),
        )
    )
