"""Foreign-graph codec layer: normalize external causal-discovery outputs to
the engine's edge-list model (M6-M10, M12, M14-M15).

Three foreign encodings exist in the reference:
- tigramite link-string matrices ('-->', 'o->', ..., tigramite_helper.py:12,33)
  validated (:17-29) and encoded to int codes with source/target swap for
  '<' arrows (:38-90);
- Tetrad endpoint-code (pcalg amat) matrices over lagged column names,
  decoded strictly as u→v iff (TAIL=2 at u, ARROW=3 at v) with lag
  normalization src_lag − tgt_lag (py_tetrad_helper.py:51-182);
- TCDF (effect, cause)→delay dicts joined with per-target score dicts
  (tcdf_helper.py:5-37).

No fixture tables exist for these, so both engines deterministically build
the same consistent matrices from the shared LCG (functions/detrand.py) —
link matrices are generated per *unordered* pair and mirrored
('-->'/'<--' etc.) exactly like tigramite output, so the reference's
overwrite-on-revisit behavior is value-identical to our MAX aggregation.
These inputs are dim-sized by nature (p ≤ 10, L ≤ 4 per config); the
scale axis is the config grid, as in the scoring layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.detrand import lcg_uniform_sql
from . import _duck_expand, _spark_expand, register

_P = 6  # variables in the synthetic link matrices
_L = 3  # max lag

_PAIR_U = lcg_uniform_sql("pairkey", salt=21)


def _links_cte(expand) -> str:
    """Consistent tigramite-style link-string matrix (cells i,j,k,s):
    a link type is drawn per unordered pair (i<j) and lag, then mirrored to
    (j,i) with the arrow flipped — exactly the symmetry tigramite emits."""
    return f"""
    WITH lo AS (SELECT {expand('0', str(_P - 1))} AS i),
    lo2 AS (SELECT i, {expand('0', str(_P - 1))} AS j FROM lo),
    lo3 AS (SELECT i, j, {expand('0', str(_L))} AS k FROM lo2 WHERE i < j),
    drawn AS (
      SELECT i, j, k,
             CAST((i * 64 + j) * 16 + k AS BIGINT) AS pairkey
      FROM lo3
    ),
    typed AS (
      SELECT i, j, k,
             CASE WHEN {_PAIR_U} < 0.55 THEN ''
                  WHEN {_PAIR_U} < 0.70 THEN '-->'
                  WHEN {_PAIR_U} < 0.80 THEN '<--'
                  WHEN {_PAIR_U} < 0.88 THEN 'o->'
                  WHEN {_PAIR_U} < 0.94 THEN '<-o'
                  ELSE 'o-o' END AS s
      FROM drawn
    ),
    cells AS (
      SELECT i, j, k, s FROM typed
      UNION ALL
      SELECT j AS i, i AS j, k,
             CASE s WHEN '-->' THEN '<--' WHEN '<--' THEN '-->'
                    WHEN 'o->' THEN '<-o' WHEN '<-o' THEN 'o->'
                    ELSE s END AS s
      FROM typed
    )
    """


def _cells_view(spark: SparkSession) -> str:
    """Materialize the literal link-string matrix once per session.

    Four queries (validate/encode/decode/pretty) share the `cells` CTE —
    pure driver-side literals (120 cells), but Spark inlines CTEs, so each
    build re-runs the explode/union pipeline as several scheduled stages.
    The LogicalRDD leaf removes those stages; the DuckDB oracles keep the
    inline CTE (it materializes repeated CTEs itself)."""
    from ..functions.materialize import materialized

    materialized(
        spark,
        "links_cells",
        lambda: spark.sql(
            _links_cte(_spark_expand) + "SELECT i, j, k, s FROM cells"
        ),
    ).createOrReplaceTempView("links_cells")
    return "WITH cells AS (SELECT i, j, k, s FROM links_cells)"


def _dual_links(body: str):
    return _links_cte(_spark_expand) + body, _links_cte(_duck_expand) + body


# --------------------------------------------------------------------------
# M7 — link-string validation (tigramite_helper.py:17-29): collect strings
# outside the allowed set. The reference raises with the invalid list; the
# relational form reports them (anti-join vs the allowed list). A few
# corrupted literals are unioned in so the check has something to find.
# --------------------------------------------------------------------------

_VALIDATE_BODY = """
    , with_bad AS (
      SELECT s FROM cells
      UNION ALL SELECT '?->' AS s
      UNION ALL SELECT 'x-x' AS s
      UNION ALL SELECT '?->' AS s
    ),
    allowed AS (
      SELECT '' AS a UNION ALL SELECT '-->' UNION ALL SELECT '<--'
      UNION ALL SELECT 'o->' UNION ALL SELECT '<-o' UNION ALL SELECT 'o-o'
    )
    SELECT s AS invalid_string, COUNT(*) AS n
    FROM with_bad
    -- NOT EXISTS, not NOT IN: NOT IN's null-aware semantics force Spark
    -- onto a BroadcastNestedLoopJoin; the values are provably non-null
    -- literals, and NOT EXISTS plans as a plain broadcast anti join in
    -- both engines with identical results
    WHERE NOT EXISTS (SELECT 1 FROM allowed WHERE allowed.a = with_bad.s)
    GROUP BY s
    """

_VALIDATE_SPARK, _VALIDATE_DUCK = _dual_links(_VALIDATE_BODY)


@register("validate_links", _VALIDATE_DUCK)
def validate_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invalid link strings with occurrence counts — string_checker
    (tigramite_helper.py:17-29; its inverted ndarray guard Q7 is a bug we do
    not port) as an anti-membership aggregate."""
    return spark.sql(_cells_view(spark) + _VALIDATE_BODY)


# --------------------------------------------------------------------------
# M8 — link-string encode (tigramite_helper.py:33-90): '-->'/'<--' → 1,
# 'o->'/'<-o' → 2, 'o-o' → 3, with source/target SWAP for '<' arrows. The
# reference loops all (i,j,k) writing codes[src,tgt,k]; mirrored cells write
# the same value twice, so MAX aggregation is value-identical.
# --------------------------------------------------------------------------

_ENCODE_BODY = """
    , writes AS (
      SELECT CASE WHEN s LIKE '%<%' THEN j ELSE i END AS source,
             CASE WHEN s LIKE '%<%' THEN i ELSE j END AS target,
             k,
             CASE s WHEN '-->' THEN 1 WHEN '<--' THEN 1
                    WHEN 'o->' THEN 2 WHEN '<-o' THEN 2
                    WHEN 'o-o' THEN 3 ELSE 0 END AS code
      FROM cells WHERE s != ''
    )
    SELECT source, target, k, CAST(MAX(code) AS INT) AS code
    FROM writes
    GROUP BY source, target, k
    """

_ENCODE_SPARK, _ENCODE_DUCK = _dual_links(_ENCODE_BODY)


@register("encode_links", _ENCODE_DUCK)
def encode_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-string tensor → integer-coded edges with arrow-direction swap
    (make_categorical_causal_graph, tigramite_helper.py:38-90)."""
    return spark.sql(_cells_view(spark) + _ENCODE_BODY)


# --------------------------------------------------------------------------
# M6 — edge-code decode (metrics_helper.py:45-78): 0 none; 1,2 directed as
# stored; 3 (undirected) one edge only; 4 (bidirected) both directions; any
# other positive code directed as stored. Code-4 rows are injected as
# literals (the link pipeline never produces 4, but Tetrad-style inputs do).
# --------------------------------------------------------------------------

def _decode_body(spark_dialect: bool) -> str:
    # Single pass over dedup: a UNION ALL of two SELECTs from the same CTE
    # would make Spark (which inlines CTEs) evaluate the groupBy twice; the
    # explode form emits the code-4 mirror row in the same scan.
    if spark_dialect:
        decoded = """
      SELECT st.source AS source, st.target AS target, k
      FROM dedup
      LATERAL VIEW explode(
        CASE WHEN code = 4
             THEN array(named_struct('source', source, 'target', target),
                        named_struct('source', target, 'target', source))
             ELSE array(named_struct('source', source, 'target', target))
        END) ex AS st
      WHERE code > 0
    """
    else:
        decoded = """
      SELECT u.source AS source, u.target AS target, k
      FROM dedup,
      unnest(CASE WHEN code = 4
                  THEN [{'source': source, 'target': target},
                        {'source': target, 'target': source}]
                  ELSE [{'source': source, 'target': target}] END) AS t(u)
      WHERE code > 0
    """
    return f"""
    , coded AS (
      SELECT CASE WHEN s LIKE '%<%' THEN j ELSE i END AS source,
             CASE WHEN s LIKE '%<%' THEN i ELSE j END AS target,
             k,
             CASE s WHEN '-->' THEN 1 WHEN '<--' THEN 1
                    WHEN 'o->' THEN 2 WHEN '<-o' THEN 2
                    WHEN 'o-o' THEN 3 ELSE 0 END AS code
      FROM cells WHERE s != ''
      UNION ALL SELECT 0 AS source, 5 AS target, 0 AS k, 4 AS code
      UNION ALL SELECT 2 AS source, 4 AS target, 1 AS k, 4 AS code
      UNION ALL SELECT 1 AS source, 3 AS target, 2 AS k, 7 AS code
    ),
    dedup AS (
      SELECT source, target, k, MAX(code) AS code
      FROM coded GROUP BY source, target, k
    ),
    decoded AS ({decoded})
    SELECT source, target, k, CAST(1 AS INT) AS edge
    FROM decoded
    GROUP BY source, target, k
    """


_DECODE_SPARK = _links_cte(_spark_expand) + _decode_body(True)
_DECODE_DUCK = _links_cte(_duck_expand) + _decode_body(False)


@register("decode_edges", _DECODE_DUCK)
def decode_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer edge codes → boolean directed edges (to_bool_edges,
    metrics_helper.py:45-78): codes 1/2/3/other mark the stored cell, code 4
    marks both directions (the union branch)."""
    return spark.sql(_cells_view(spark) + _decode_body(True))


# --------------------------------------------------------------------------
# M9 — lagged-name parse (py_tetrad_helper.py:6-12): '^(.*)_(\\d+)$' with
# greedy base (multi-underscore names keep their prefix); no suffix → lag 0.
# --------------------------------------------------------------------------

_NAMES = [
    "X1_0", "X1_1", "X1_2", "X2_0", "X2_1", "X2_2",
    "Frequency_2", "Frequency", "a_b_2", "a_b", "X10_12", "plain",
]

_NAME_RE = r"^(.*)_([0-9]+)$"


def _names_values() -> str:
    return " UNION ALL ".join(f"SELECT '{n}' AS name" for n in _NAMES)


_PARSE_NAMES_SQL = f"""
    WITH names AS ({_names_values()})
    SELECT name,
           CASE WHEN regexp_extract(name, '{_NAME_RE}', 2) = '' THEN name
                ELSE regexp_extract(name, '{_NAME_RE}', 1) END AS base,
           CAST(CASE WHEN regexp_extract(name, '{_NAME_RE}', 2) = '' THEN '0'
                     ELSE regexp_extract(name, '{_NAME_RE}', 2) END AS INT) AS lag
    FROM names
    """


@register("parse_lagged_names", _PARSE_NAMES_SQL)
def parse_lagged_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Frequency_2' → ('Frequency', 2); suffix-less names are lag 0
    (parse_lagged_name, py_tetrad_helper.py:6-12). Same regex, same
    greedy-base semantics, shared SQL text in both engines."""
    return spark.sql(_PARSE_NAMES_SQL)


# --------------------------------------------------------------------------
# M10 — Tetrad endpoint matrix → causal edges (py_tetrad_helper.py:51-182):
# names X{v}_{lag}; strict mode keeps u→v iff (a_uv, a_vu) == (TAIL=2,
# ARROW=3); normalized lag = src_lag − tgt_lag must be in [0, L]. The
# synthetic amat draws directed edges per ordered (u,v) with src_lag ≥
# tgt_lag so the strict decode is exercised without the error paths.
# Base order = first-seen over column names (M11's dedup rule).
# --------------------------------------------------------------------------

_TETRAD_P = 4
_TETRAD_L = 2
_EDGE_U = lcg_uniform_sql("pairkey", salt=31)


def _tetrad_cte(expand) -> str:
    return f"""
    WITH v1 AS (SELECT {expand('1', str(_TETRAD_P))} AS var),
    nm AS (SELECT var, {expand('0', str(_TETRAD_L))} AS lag FROM v1),
    names AS (SELECT var, lag, (var - 1) * {_TETRAD_L + 1} + lag AS nid FROM nm),
    pairs AS (
      SELECT u.var AS u_var, u.lag AS u_lag, u.nid AS u_nid,
             v.var AS v_var, v.lag AS v_lag, v.nid AS v_nid,
             CAST(u.nid * 64 + v.nid AS BIGINT) AS pairkey
      FROM names u, names v
      WHERE u.nid != v.nid
    ),
    -- amat cells: directed u→v (a_uv=TAIL=2, a_vu=ARROW=3) drawn only where
    -- the lag constraint holds; everything else stays (0,0).
    amat AS (
      SELECT u_var, u_lag, v_var, v_lag,
             CASE WHEN u_lag >= v_lag AND u_lag - v_lag <= {_TETRAD_L}
                       AND {_EDGE_U} < 0.2
                  THEN 1 ELSE 0 END AS is_edge
      FROM pairs
    )
    """


_TETRAD_BODY = """
    SELECT 'X' || u_var AS source, 'X' || v_var AS target,
           u_lag - v_lag AS lag
    FROM amat WHERE is_edge = 1
    GROUP BY u_var, v_var, u_lag - v_lag
    """

_TETRAD_SPARK = _tetrad_cte(_spark_expand) + _TETRAD_BODY
_TETRAD_DUCK = _tetrad_cte(_duck_expand) + _TETRAD_BODY


@register("tetrad_edges", _TETRAD_DUCK)
def tetrad_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict Tetrad decode: lagged-name pairs with (TAIL, ARROW) endpoint
    codes → (source, target, normalized lag) edges, deduped across the
    lagged-copy pairs that map to the same base edge
    (adjmatrix_to_causal_tensor, py_tetrad_helper.py:51-182)."""
    return spark.sql(_TETRAD_SPARK)


# --------------------------------------------------------------------------
# M14+M15 — TCDF outputs → graph/val edge rows (tcdf_helper.py:5-37):
# (effect, cause)→delay joined with per-target score dicts; missing score →
# 1.0 default; graph bool = val ≠ 0 (the _to_bool_array rule, :40-46).
# --------------------------------------------------------------------------

_TCDF_SQL = """
    WITH delays(effect, cause, delay) AS (VALUES
      (0, 1, 2), (0, 2, 0), (1, 3, 1), (2, 3, 3), (3, 0, 1), (2, 0, 2)
    ),
    scores(target, cause, score) AS (VALUES
      (0, 1, 0.9), (1, 3, 0.75), (2, 3, 0.6), (2, 0, 0.0)
    )
    SELECT d.cause AS source, d.effect AS target, d.delay AS lag,
           CAST(COALESCE(s.score, 1.0) AS DOUBLE) AS val,
           CAST(CASE WHEN COALESCE(s.score, 1.0) != 0.0 THEN 1 ELSE 0 END AS INT) AS graph
    FROM delays d
    LEFT JOIN scores s ON s.target = d.effect AND s.cause = d.cause
    """


@register("tcdf_edges", _TCDF_SQL)
def tcdf_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TCDF delay/score dicts → edge rows with defaulted scores
    (make_matrices, tcdf_helper.py:5-37) and the ≠0 bool coercion
    (_to_bool_array, :40-46). One broadcast-sized join."""
    return spark.sql(_TCDF_SQL)


# --------------------------------------------------------------------------
# M12 — pretty-print edges (py_tetrad_helper.py:185-203): tensor rows →
# human-readable edge strings, contemporaneous vs lagged formatting.
# --------------------------------------------------------------------------

_PRETTY_BODY = """
    , coded AS (
      SELECT CASE WHEN s LIKE '%<%' THEN j ELSE i END AS source,
             CASE WHEN s LIKE '%<%' THEN i ELSE j END AS target, k
      FROM cells WHERE s LIKE '%>%' OR s LIKE '%<%'
    ),
    dedup AS (SELECT source, target, k FROM coded GROUP BY source, target, k)
    SELECT CASE WHEN k = 0
                THEN 'X' || (source + 1) || '_t -> X' || (target + 1) || '_t    (contemporaneous)'
                ELSE 'X' || (source + 1) || '_{t-' || k || '} -> X' || (target + 1) || '_t  (lag ' || k || ')'
           END AS edge_str,
           source, target, k
    FROM dedup
    """

_PRETTY_SPARK, _PRETTY_DUCK = _dual_links(_PRETTY_BODY)


@register("pretty_edges", _PRETTY_DUCK)
def pretty_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge rows → display strings with the reference's two formats
    (pretty_print_tensor, py_tetrad_helper.py:185-203) via || concatenation
    — a pure projection, no shuffle."""
    return spark.sql(_cells_view(spark) + _PRETTY_BODY)
