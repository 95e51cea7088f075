"""EP1→EP3 composed end-to-end: the reference's actual lifecycle as one
invocation (VERDICT r09 item 6).

The reference's workflow is: generate a factorial sweep of SCM datasets
(``Codes/a1.py:308-344`` generate_all_combinations), persist them, run a
causal-discovery algorithm over each dataset, and score the estimated
structure against the DSL ground truth
(``helper_funcs/metrics_helper.py:7-138``). The engine ships every stage
as an attested query (scm_generate, parse_edges, lagged_matrix,
edge_confusion/edge_scores/shd_xor/shd_reversal, metrics_rollup) and
``discovery_benchmark`` composes the scoring DAG over the events
fixture; this module closes the loop by scoring over the engine's OWN
GENERATED sweep — generation → persisted corpus → screener → M1-M5 →
rollup cube, one ``benchmark`` CLI invocation.

Scoreable families are those with a parsed DSL ground truth (a1 linear,
b2 polynomial, c1 trend+season — the three registries the reference
declares as DSL text, ``dsl/registry.py EQUATION_ROWS``); the screener
is ``discovery_benchmark``'s deterministic capacity-matched
lagged-correlation predictor (exact FLOOR-micro bigint sums, one shared
IEEE correlation formula, unique-key tiebreak), applied DIRECTLY to each
config's long-form series — no user_id→variable mapping stub, the
generated tree's (config_id, var, t) IS the variable space.

``_score_sql`` (generated sweep) and ``_PRED_SCORE_SQL``
(``score_predictions``) are built from queries/discovery.py's ``_gtc``,
``_screener`` and ``_metric_tail``: all three scorers run the same code.

Scale shape: everything is config-parallel. The row_number index and
the lag-aligned self-join both key on config_id (+ sample index), so one
partitioning serves the window, the join, and the correlation
aggregation; the meta/ground-truth sides are driver literals
(broadcast); the metric tail runs on a V²·(L+1)-bounded relation per
config. A 1000-executor sweep is exactly this plan with more configs —
skew bound = the largest single config (n_points × n_vars rows).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import _spark_expand, register
from .discovery import _gtc, _metric_tail, _screener
from .dsl import _parsed_edges

_SCOREABLE = ("a1", "b2", "c1")


def _meta_values(rows) -> str:
    """(config_id, family, n_vars, max_lag) VALUES literal for a grid —
    the benchmark's config table is driver knowledge, exactly like the
    sweep grid itself."""
    vals = ", ".join(
        f"('{cid}', '{fam}', {v}, {lag})"
        for fam, cid, _n, v, lag, *_ in rows
    )
    return (f"SELECT * FROM (VALUES {vals}) "
            "AS m(config_id, family, n_vars, max_lag)")


def _score_sql(meta_sql: str) -> str:
    """Per-config M1-M5 scores over the ``gen_series`` view
    (family, config_id, t, var, value long form) against
    ``parsed_edges_bench``, keyed by config_id."""
    tail = _metric_tail(
        _spark_expand, "mc", "cap", "r.rn IS NOT NULL AND r.rn <= c.cap",
        "ranked r ON r.config_id = c.config_id"
        " AND r.vt = c.i AND r.vs = c.j AND r.k = c.k",
        keys=("family", "config_id", "n_vars", "max_lag"),
        order="c.family, c.config_id",
    )
    return f"""
    WITH meta AS ({meta_sql}),
    {_gtc('parsed_edges_bench')},
    caps AS (
      SELECT family, n_vars, max_lag, COUNT(*) AS m
      FROM gtc GROUP BY family, n_vars, max_lag
    ),
    -- per-config per-variable sample index; vars are X1..Xv on a shared
    -- t grid per config, so r aligns samples across variables. The
    -- ROW_NUMBER window is REQUIRED, not derivable from t: b2 emits an
    -- irregular real-valued grid (t in (0, 100], G7 semantics), so a
    -- CAST(t)+1 projection was measured-and-REJECTED in the r10
    -- optimization round (29,940 misaligned samples on the registry
    -- sub-grid; only a1/c1 are dense-arange).
    -- ONE config_id-keyed exchange feeds the whole screener (r11
    -- optimization): hashpartitioning(config_id) satisfies every
    -- downstream clustered-distribution requirement — the ROW_NUMBER
    -- window's (config_id, var), both sides of the lag-aligned
    -- self-join's (config_id, r), the correlation aggregation's
    -- (config_id, vs, vt, k) and the ranking window's (config_id) — so
    -- the per-stage re-shuffles of the sweep-proportional relation
    -- collapse into this one exchange (per-partition sorts remain; the
    -- DISTRIBUTE BY must sit in its own block BELOW the window, because
    -- a repartition on the window's own block lands ABOVE the
    -- projection). Skew bound unchanged: the largest single config.
    serc AS (
      SELECT config_id,
             CAST(SUBSTRING(var, 2) AS INT) AS v,
             var, t, value
      FROM gen_series
      WHERE var LIKE 'X%'
      DISTRIBUTE BY config_id
    ),
    ser AS (
      SELECT config_id, v,
             ROW_NUMBER() OVER (PARTITION BY config_id, var
                                ORDER BY t) AS r,
             value
      FROM serc
    ),
    tgts AS (
      SELECT /*+ BROADCAST(m) */ s.config_id, s.v AS vt, s.r,
             s.value AS yv, {_spark_expand('0', 'm.max_lag')} AS k
      FROM ser s JOIN meta m ON m.config_id = s.config_id
    ),
    -- lag alignment: source sample r-k vs target sample r — both sides
    -- cluster on (config_id, sample index), one co-partitioned exchange
    pairs AS (
      SELECT t.config_id, s.v AS vs, t.vt, t.k, s.value AS xv, t.yv
      FROM tgts t
      JOIN ser s ON s.config_id = t.config_id AND s.r = t.r - t.k
    ),
    {_screener('config_id')},
    ranked AS (
      SELECT config_id, vs, vt, k,
             ROW_NUMBER() OVER (PARTITION BY config_id
                                ORDER BY ABS(rho) DESC NULLS LAST,
                                         vs, vt, k) AS rn
      FROM rho
      WHERE NOT (vs = vt AND k = 0)
    ),
    mc AS (
      SELECT m.family, m.config_id, m.n_vars, m.max_lag, c.m AS cap
      FROM meta m
      JOIN caps c ON c.family = m.family AND c.n_vars = m.n_vars
                 AND c.max_lag = m.max_lag
    ),
    {tail}"""


_ROLLUP_SQL = """
SELECT COALESCE(family, 'ALL') AS family,
       COALESCE(CAST(n_vars AS STRING), 'ALL') AS n_vars,
       COALESCE(CAST(max_lag AS STRING), 'ALL') AS max_lag,
       CAST(GROUPING(family) AS INT) AS g_family,
       CAST(GROUPING(n_vars) AS INT) AS g_n_vars,
       CAST(GROUPING(max_lag) AS INT) AS g_max_lag,
       COUNT(*) AS n_configs,
       CAST(SUM(tp) AS BIGINT) AS tp,
       CAST(SUM(fp) AS BIGINT) AS fp,
       CAST(SUM(fn) AS BIGINT) AS fn,
       CAST(SUM(tn) AS BIGINT) AS tn,
       AVG(tpr) AS avg_tpr,
       AVG(fdr) AS avg_fdr,
       AVG(f1) AS avg_f1,
       AVG(CAST(shd AS DOUBLE)) AS avg_shd,
       AVG(CAST(shd_rev AS DOUBLE)) AS avg_shd_rev
FROM bench_scores
GROUP BY ROLLUP(family, n_vars, max_lag)
ORDER BY g_family, g_n_vars, g_max_lag, family, n_vars, max_lag
"""


_PRED_SCORE_SQL = f"""
    WITH {_gtc('parsed_edges_bench')},
    preds AS (
      SELECT DISTINCT family, n_vars, max_lag, i, j, k FROM ext_preds
    ),
    configs AS (
      SELECT DISTINCT family, n_vars, max_lag FROM preds
    ),
    {_metric_tail(
        _spark_expand, "configs", None, "p.i IS NOT NULL",
        "preds p ON p.family = c.family AND p.n_vars = c.n_vars"
        " AND p.max_lag = c.max_lag AND p.i = c.i AND p.j = c.j AND p.k = c.k",
    )}"""


def score_predictions(spark: SparkSession, preds: DataFrame) -> DataFrame:
    """Score an EXTERNALLY-produced edge set against the DSL ground truth
    — the reference's real evaluation path (run Tetrad/TCDF, decode the
    adjacency output, then metrics_helper.py:7-138 scoring). The engine
    ships the decoders (`tetrad_edges`, `tcdf_edges`, `decode_edges`);
    this closes the loop: one call from a predictions relation
    (family, n_vars, max_lag, i, j, k — one row per predicted directed
    edge, i = target index, j = source index, k = lag) to the M1-M5
    table, through discovery_benchmark's ``_metric_tail``. Configs are
    taken FROM the predictions relation; a config whose
    (family, n_vars, max_lag) has no DSL
    ground truth scores against an empty gt set (all predictions fp) —
    callers wanting a guard should check `tp + fn > 0`."""
    preds.createOrReplaceTempView("ext_preds")
    _parsed_edges(spark).createOrReplaceTempView("parsed_edges_bench")
    return spark.sql(_PRED_SCORE_SQL)


def predictions_from_edges(edges: DataFrame, family: str, n_vars: int,
                           max_lag: int) -> DataFrame:
    """Adapt a decoder-shaped edge relation (source 'Xj', target 'Xi',
    lag — the columns tetrad_edges / decode_edges / parse_edges emit)
    into score_predictions' input for ONE config. The caller supplies
    the config identity (they know which generated dataset the external
    algorithm ran on)."""
    from pyspark.sql import functions as F

    return edges.select(
        F.lit(family).alias("family"),
        F.lit(n_vars).cast("int").alias("n_vars"),
        F.lit(max_lag).cast("int").alias("max_lag"),
        F.expr("CAST(SUBSTRING(target, 2) AS INT)").alias("i"),
        F.expr("CAST(SUBSTRING(source, 2) AS INT)").alias("j"),
        F.col("lag").cast("int").alias("k"),
    )


def _grid_rows(families):
    from .generation import grid

    rows = grid(families)
    if not rows:
        raise ValueError(f"no scoreable configs for families {families}")
    return rows


def score_generated(spark: SparkSession, gen: DataFrame, rows) -> DataFrame:
    """Score a generated long-form sweep frame against the DSL ground
    truth: one row of M1-M5 per config."""
    gen.createOrReplaceTempView("gen_series")
    _parsed_edges(spark).createOrReplaceTempView("parsed_edges_bench")
    return spark.sql(_score_sql(_meta_values(rows)))


def rollup_scores(spark: SparkSession, scores: DataFrame) -> DataFrame:
    """The benchmark's metrics_rollup cube: grid-dimension subtotals with
    GROUPING() markers (G20 × M1-M5 over the benchmark's own grid)."""
    scores.createOrReplaceTempView("bench_scores")
    return spark.sql(_ROLLUP_SQL)


def write_scores(spark: SparkSession, scores: DataFrame, out: str):
    """Write per-config scores to out/scores and their rollup cube to
    out/metrics; return (scores_dir, metrics_dir, the cube's grand-total
    row or None)."""
    scores_dir = os.path.join(out, "scores")
    scores.write.mode("overwrite").parquet(scores_dir)
    cube = rollup_scores(spark, spark.read.parquet(scores_dir))
    metrics_dir = os.path.join(out, "metrics")
    cube.write.mode("overwrite").parquet(metrics_dir)
    # read the WRITTEN cube back (rollup-sized, one tiny job) instead of
    # re-evaluating the lazy aggregation a second time for the summary
    grand = [r for r in spark.read.parquet(metrics_dir).collect()
             if r.g_family == 1 and r.g_n_vars == 1 and r.g_max_lag == 1]
    return scores_dir, metrics_dir, grand[0] if grand else None


@register("benchmark_scores", None)
def benchmark_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only registry entry: the composed EP1→EP3 loop on a bounded
    representative sub-grid (n=500 slice of the complete grid's scoreable
    families — 66 configs). Seeded-numpy generation makes the entry
    non-SQL-expressible for DuckDB; its CONTENTS are pinned by
    tests/test_benchmark.py's independent numpy re-scoring and by the
    attested component queries it composes (parse_edges,
    edge_confusion/edge_scores/shd_xor/shd_reversal semantics)."""
    from .generation import sweep

    rows = [r for r in _grid_rows(_SCOREABLE) if r[2] == 500]
    # No localCheckpoint: although the scoring SQL references the series
    # relation on both sides of the lag-aligned self-join, the ser
    # window's exchange is REUSED across both references (plan-verified:
    # one MapInPandas + one ReusedExchange), so the seeded-numpy sweep
    # executes exactly once; a materializing checkpoint was A/B'd and
    # REJECTED in the r10 optimization round (2.46 vs 2.20 s interleaved
    # min-of-5 — it only adds a blocking serialization pass).
    gen = sweep(spark, rows)
    return score_generated(spark, gen, rows)


def run_benchmark(spark: SparkSession, families, out: str) -> dict:
    """The full EP1→EP3 workflow: generate the requested families' complete
    factorial sweep, PERSIST the corpus (out/complete, hive-partitioned by
    family/config_id), score the persisted data (not the in-memory frame —
    the benchmark must measure what a consumer would read), and write
    scores + the rollup cube. Returns a summary dict."""
    from .generation import sweep

    bad = set(families) - set(_SCOREABLE)
    if bad:
        raise ValueError(
            f"families without DSL ground truth: {sorted(bad)} "
            f"(scoreable: {_SCOREABLE})"
        )
    rows = _grid_rows(families)
    gen = sweep(spark, rows)
    corpus_dir = os.path.join(out, "complete")
    gen.write.mode("overwrite").partitionBy("family", "config_id").parquet(
        corpus_dir
    )

    persisted = spark.read.parquet(corpus_dir)
    scores_dir, metrics_dir, grand = write_scores(
        spark, score_generated(spark, persisted, rows), out
    )
    # coverage guard: a config whose (family, n_vars, max_lag) combo has
    # no parsed ground-truth edges would be dropped silently by the caps
    # join in the scoring SQL — fail loudly instead of under-covering
    scored = grand.n_configs if grand else 0
    if scored != len(rows):
        raise RuntimeError(
            f"benchmark scored {scored} of {len(rows)} generated configs "
            "— some configs have no parsed DSL ground truth"
        )
    return {
        "n_configs": len(rows),
        "corpus": corpus_dir,
        "scores": scores_dir,
        "metrics": metrics_dir,
        "avg_f1": grand.avg_f1 if grand else None,
        "avg_shd": grand.avg_shd if grand else None,
    }
