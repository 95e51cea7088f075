"""EP3 — the composed discovery benchmark (round 9, VERDICT r08 item 3).

The reference's raison d'être is the evaluation loop: generate series →
build a lagged design matrix (``helper_funcs/py_tetrad_helper.py:225-237``
create_lagged_df) → run a causal-discovery algorithm → score its estimated
edge tensor against the DSL ground truth
(``helper_funcs/metrics_helper.py:7-138`` confusion/TPR/FDR/F1/SHD-XOR/
reversal-aware SHD). Every stage exists and is driver-attested individually
(parse_edges, lagged_matrix, edge_confusion, edge_scores, shd_xor,
shd_reversal, metrics_rollup); ``discovery_benchmark`` composes the whole
scoring DAG as ONE oracle-checked query — the ``curate_decisions`` treatment
for the metrics side.

Stages, all inside one dual-engine SQL text:

1. **Ground truth** — the parsed DSL edge tensor per config
   (family, n_vars, max_lag): cells (i=target idx, j=source idx, k=lag),
   deduplicated (a variable pair linked through two functional terms is one
   structural edge, exactly the reference's boolean tensor semantics).
2. **Lagged design + stub predictor** — the external algorithm is replaced
   by a deterministic capacity-matched correlation screener (the standard
   stub for exercising a scoring pipeline): the events table is mapped onto
   each config's variable space (variable v = user_id mod n_vars, replicate
   group g = user_id div n_vars, sample index r = row number within series,
   capped at {_CAP} rows/series so the probe is constant-bounded per series
   at any scale), and for every (source, target, lag) cell the lagged
   Pearson correlation over aligned samples is computed from exact
   FLOOR-micro bigint raw sums with one shared IEEE formula (the
   corr_matrix/trend_fit device — bit-identical across engines, no
   rounding). The predictor marks the top-m cells by |rho| (unique-key
   tiebreak), where m is the config's true edge count — capacity-matched
   thresholding, so confusion counts are non-degenerate by construction.
   Self-at-lag-0 cells are excluded from the tensor (no contemporaneous
   self-loop, matching the reference's tensors whose diagonal carries only
   autoregressive lags).
3. **Scoring** — M1 confusion counts, M2/M3 TPR/FDR/F1 with the reference's
   0-guards (metrics_helper.py:20-35), M4 SHD-XOR (= fp+fn), and M5
   reversal-aware SHD (metrics_helper.py:80-138 — unordered-pair grouping,
   reversal costs 1 not 2, self-edges cost add/delete only), per config.

Output: one row per (family, n_vars, max_lag) with the full metric set —
the reference's benchmark results table.

Each scoring block has one text builder here: ``_gtc`` (stage 1),
``_screener`` (stage 2's ``sums``/``rho``) and ``_metric_tail`` (stage 3).
queries/benchmark.py builds its generated-sweep scorer and
``score_predictions`` from the same three, so every scorer runs this code.

Scale shape (after the round-9 plan ladder — see FLOOR.md): the whole
entry is SCALE-INVARIANT. Ground truth and the config grid are driver
literals; the screener reads at most _GCAP·Vmax users via a LITERAL
predicate pushed to the parquet scan, so the row_number window
(series-keyed exchange) touches a fixed-size slice at any corpus size;
the event slice is replicated once per distinct variable count (×3, not
×9 — the (V, L) configs share the k ≤ lmax sum superset and the rank
stage re-slices the tiny rho relation per config), expanded ×(lmax+1),
and joined with the caps-bounded src side BROADCAST (no join exchange);
one partial-aggregating GROUP BY lands on a V²×(lmax+1)-bounded
relation, and the single-scan pair-grouped metric tail derives
confusion AND both SHDs without re-reading `scored` (Spark inlines
CTEs — the three-branch textbook tail re-ran the screener 3×). No
collect, no Python, no quadratic term; measured flat 1.7 → 2.2 → 3.1 s
at 1×/10×/100× the bench fixture.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import load
from . import _DUCK_D, _SPARK_D, register
from .dsl import _PARSE_ORACLE, _parsed_edges

_CAP = 256  # aligned samples per series fed to the correlation screener
_GCAP = 128  # replicate groups per variable-count fed to the screener


def _vmax() -> int:
    """Largest variable count in the DSL registry — a spec constant, so the
    screener's user cutoff ``_GCAP * _vmax()`` can be a LITERAL predicate
    that reaches the parquet scan (a scalar subquery would compute the same
    bound but not push down)."""
    from ..dsl.registry import EQUATION_ROWS

    return max(v for _, v, _, _, _ in EQUATION_ROWS)

def _body(d) -> str:
    """Everything downstream of the ``gt`` CTE — shared text, the dialect
    ``d`` spelling row expansion, integer division and time scale."""
    tail = _metric_tail(
        d, "configs", "m", "r.rn IS NOT NULL AND r.rn <= c.m",
        "ranked r ON r.v_cnt = c.n_vars AND r.l_cnt = c.max_lag"
        " AND r.vt = c.i AND r.vs = c.j AND r.k = c.k",
    )
    return f"""
    {_gtc('gt')},
    configs AS (
      SELECT family, n_vars, max_lag, COUNT(*) AS m
      FROM gtc GROUP BY family, n_vars, max_lag
    ),
    -- The correlation sums depend only on the variable count and the lag,
    -- not on the config's max_lag: every (V, L) config's sums are the
    -- k <= L slice of the (V, lmax) superset. Replicating the event scan
    -- per V (3 rows) instead of per (V, L) combo (9 rows) cuts the pair
    -- volume ~2.2x (20.0M -> 9.2M rows at sf0.1, measured 3.4 -> ~2.1 s
    -- steady) with bit-identical sums — the rank stage re-slices the
    -- shared 960-row rho relation per config.
    vgrid AS (
      SELECT n_vars AS v_cnt, MAX(max_lag) AS lmax
      FROM configs GROUP BY n_vars
    ),
    combos AS (SELECT DISTINCT n_vars AS v_cnt, max_lag AS l_cnt FROM configs),
    -- The screener reads at most _GCAP groups of the largest variable
    -- count: a LITERAL user_id cutoff (pushed to the parquet scan — no
    -- row group past it is even decoded) makes the whole predictor stage
    -- scale-INVARIANT: sf1 (1M events) measured 3.2 s before the
    -- pushdown, {_GCAP * _vmax()} users' worth of rows after it at any
    -- corpus size. The per-V g-cap below is the tighter per-combo slice
    -- of the same bound.
    ev AS (
      SELECT user_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts_us, event_id) AS r
      FROM (SELECT user_id, event_id, {d['tus']} AS ts_us, value FROM events
            WHERE user_id < {_GCAP * _vmax()}) e
    ),
    evc AS (SELECT user_id, value, r FROM ev WHERE r <= {_CAP}),
    srcs AS (
      SELECT c.v_cnt, c.lmax,
             CAST(e.user_id % c.v_cnt AS INT) + 1 AS v,
             e.user_id {d['idiv']} c.v_cnt AS g,
             e.r, e.value
      FROM evc e CROSS JOIN vgrid c
      WHERE e.user_id {d['idiv']} c.v_cnt < {_GCAP}
    ),
    tgts AS (
      SELECT v_cnt, v AS vt, g, r, value AS yv,
             {d['expand']('0', 'lmax')} AS k
      FROM srcs
    ),
    pairs AS (
      -- srcs is caps-bounded (<= _GCAP * Vmax users x _CAP rows, a few MB
      -- at ANY corpus size), so broadcasting it removes the join exchange
      -- entirely: 2.23 -> 1.61 s steady at sf0.1 (A/B vs sort-merge and
      -- shuffle-hash). DuckDB parses the hint as a plain comment.
      SELECT /*+ BROADCAST(s) */ t.v_cnt, s.v AS vs, t.vt, t.k,
             s.value AS xv, t.yv
      FROM tgts t
      JOIN srcs s
        ON s.v_cnt = t.v_cnt AND s.g = t.g AND s.r = t.r - t.k
    ),
    {_screener('v_cnt')},
    ranked AS (
      SELECT co.v_cnt, co.l_cnt, rh.vs, rh.vt, rh.k,
             ROW_NUMBER() OVER (PARTITION BY co.v_cnt, co.l_cnt
                                ORDER BY ABS(rh.rho) DESC NULLS LAST,
                                         rh.vs, rh.vt, rh.k) AS rn
      FROM combos co
      JOIN rho rh ON rh.v_cnt = co.v_cnt AND rh.k <= co.l_cnt
      WHERE NOT (rh.vs = rh.vt AND rh.k = 0)
    ),
    {tail}"""


def _gtc(src: str) -> str:
    """``gtc``: the deduplicated ground-truth cells (i = target index,
    j = source index, k = lag) per config of a parsed-edges relation
    (family, n_vars, max_lag, target, source, lag)."""
    return f"""gtc AS (
      -- NULLIF keeps the cast total: DuckDB's parallel pipelines may
      -- speculatively evaluate projection expressions on rows the parse
      -- filter later drops (observed ~1-in-3 ConversionException without
      -- it); a NULL from a doomed row is side-effect-free in both engines
      -- and no surviving row has an empty index.
      SELECT DISTINCT family, n_vars, max_lag,
             CAST(NULLIF(SUBSTRING(target, 2), '') AS INT) AS i,
             CAST(NULLIF(SUBSTRING(source, 2), '') AS INT) AS j,
             lag AS k
      FROM {src}
    )"""


def _screener(key: str) -> str:
    """``sums`` -> ``rho``: the lagged Pearson correlation of every
    (key, vs, vt, k) group of ``pairs`` (source value xv, target value
    yv) from exact FLOOR-micro bigint raw sums and one shared IEEE
    formula — bit-identical in both engines, no rounding."""
    return f"""sums AS (
      SELECT {key}, vs, vt, k, COUNT(*) AS n,
             SUM(CAST(FLOOR(xv * 1000000.0) AS BIGINT)) AS s_x,
             SUM(CAST(FLOOR(yv * 1000000.0) AS BIGINT)) AS s_y,
             SUM(CAST(FLOOR(xv * yv * 1000000.0) AS BIGINT)) AS s_xy,
             SUM(CAST(FLOOR(xv * xv * 1000000.0) AS BIGINT)) AS s_xx,
             SUM(CAST(FLOOR(yv * yv * 1000000.0) AS BIGINT)) AS s_yy
      FROM pairs
      GROUP BY {key}, vs, vt, k
    ),
    rho AS (
      SELECT {key}, vs, vt, k,
             (n * sxy - sx * sy)
               / NULLIF(SQRT(GREATEST((n * sxx - sx * sx)
                                      * (n * syy - sy * sy), 0.0)),
                        0.0) AS rho
      FROM (
        SELECT {key}, vs, vt, k,
               CAST(n AS DOUBLE) AS n,
               CAST(s_x AS DOUBLE) / 1000000.0 AS sx,
               CAST(s_y AS DOUBLE) / 1000000.0 AS sy,
               CAST(s_xy AS DOUBLE) / 1000000.0 AS sxy,
               CAST(s_xx AS DOUBLE) / 1000000.0 AS sxx,
               CAST(s_yy AS DOUBLE) / 1000000.0 AS syy
        FROM sums
      ) d
    )"""


def _metric_tail(d, src: str, cap: str | None, pred: str, join: str,
                 keys=("family", "n_vars", "max_lag"), order=None) -> str:
    """Cell expansion -> ``scored`` -> M1-M5 per config, the closing CTEs
    and SELECT of a scorer. ``src`` holds one row per config (``keys``
    and the capacity column ``cap``, if any); each cell but self-at-lag-0
    is scored against ``gtc`` and ``pred``, a condition over ``join`` (the
    text after LEFT JOIN). Rows are ordered by ``order`` or ``keys``."""
    carry = ", ".join(keys + ((cap,) if cap else ()))
    keys_s = ", ".join(keys)
    ckeys = ", ".join(f"c.{k}" for k in keys)
    return f"""c1 AS (SELECT {carry},
                  {d['expand']('1', 'n_vars')} AS i FROM {src}),
    c2 AS (SELECT {carry}, i,
                  {d['expand']('1', 'n_vars')} AS j FROM c1),
    c3 AS (SELECT {carry}, i, j,
                  {d['expand']('0', 'max_lag')} AS k FROM c2),
    cells AS (SELECT * FROM c3 WHERE NOT (i = j AND k = 0)),
    scored AS (
      SELECT {ckeys}, c.i, c.j, c.k,
             CASE WHEN g.i IS NOT NULL THEN 1 ELSE 0 END AS gt,
             CASE WHEN {pred} THEN 1 ELSE 0 END AS pred
      FROM cells c
      LEFT JOIN gtc g
        ON g.family = c.family AND g.n_vars = c.n_vars
       AND g.max_lag = c.max_lag AND g.i = c.i AND g.j = c.j AND g.k = c.k
      LEFT JOIN {join}
    ),
    -- ONE scan of `scored` for every metric: Spark inlines CTEs, so the
    -- textbook three-branch tail (confusion scan + pair-grouped reversal
    -- scan + self-edge scan) recomputes the whole screener pipeline 3x —
    -- measured 3.4 s vs 1.4 s for the chain up to `scored` at sf0.1.
    -- Instead group once by unordered pair (self cells are their own
    -- group, orientation kept via conditional MAX — the shd_reversal
    -- device) and derive confusion counts AND both SHDs from the pair
    -- relation in the final config rollup. Counts are identical by
    -- algebra: each pair group carries its cells' (gt, pred) bits
    -- losslessly (cells_per_group = 2 - is_self).
    pgroups AS (
      SELECT {keys_s},
             LEAST(i, j) AS lo, GREATEST(i, j) AS hi, k,
             MAX(CASE WHEN i <= j THEN gt ELSE 0 END) AS gt_lo,
             MAX(CASE WHEN i > j THEN gt ELSE 0 END) AS gt_hi,
             MAX(CASE WHEN i <= j THEN pred ELSE 0 END) AS pred_lo,
             MAX(CASE WHEN i > j THEN pred ELSE 0 END) AS pred_hi,
             MAX(CASE WHEN i = j THEN 1 ELSE 0 END) AS is_self
      FROM scored
      GROUP BY {keys_s}, LEAST(i, j), GREATEST(i, j), k
    ),
    conf AS (
      SELECT {keys_s},
             CAST(SUM(gt_lo * pred_lo + gt_hi * pred_hi) AS BIGINT) AS tp,
             CAST(SUM((1 - gt_lo) * pred_lo
                      + CASE WHEN is_self = 1 THEN 0
                             ELSE (1 - gt_hi) * pred_hi END) AS BIGINT) AS fp,
             CAST(SUM(gt_lo * (1 - pred_lo)
                      + CASE WHEN is_self = 1 THEN 0
                             ELSE gt_hi * (1 - pred_hi) END) AS BIGINT) AS fn,
             CAST(SUM((1 - gt_lo) * (1 - pred_lo)
                      + CASE WHEN is_self = 1 THEN 0
                             ELSE (1 - gt_hi) * (1 - pred_hi) END)
                  AS BIGINT) AS tn,
             CAST(SUM(CASE WHEN is_self = 1 THEN ABS(gt_lo - pred_lo)
                           ELSE ABS((gt_lo + gt_hi) - (pred_lo + pred_hi)) +
                                CASE WHEN gt_lo + gt_hi = 1
                                          AND pred_lo + pred_hi = 1
                                          AND gt_lo != pred_lo
                                     THEN 1 ELSE 0 END
                      END) AS BIGINT) AS shd_rev
      FROM pgroups GROUP BY {keys_s}
    )
    SELECT {ckeys},
           c.tp, c.fp, c.fn, c.tn,
           CASE WHEN c.tp + c.fn = 0 THEN 0.0
                ELSE CAST(c.tp AS DOUBLE) / (c.tp + c.fn) END AS tpr,
           CASE WHEN c.tp + c.fp = 0 THEN 0.0
                ELSE CAST(c.fp AS DOUBLE) / (c.tp + c.fp) END AS fdr,
           CASE WHEN 2 * c.tp + c.fp + c.fn = 0 THEN 0.0
                ELSE CAST(2 * c.tp AS DOUBLE)
                     / (2 * c.tp + c.fp + c.fn) END AS f1,
           c.fp + c.fn AS shd,
           c.shd_rev
    FROM conf c
    ORDER BY {order or ckeys}
    """


_DISCOVERY_DUCK = (
    f"WITH gt AS ({_PARSE_ORACLE}),\n"
    + _body(_DUCK_D)
)

_DISCOVERY_SPARK = (
    "WITH gt AS (SELECT family, n_vars, max_lag, target, source, lag\n"
    "            FROM parsed_edges_bench),\n"
    + _body(_SPARK_D)
)


@register("discovery_benchmark", _DISCOVERY_DUCK)
def discovery_benchmark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP3 composed end-to-end: DSL ground-truth tensor → lagged design over
    the events series → deterministic capacity-matched correlation screener
    (the stub discovery algorithm) → M1-M5 scores per config, in one
    oracle-checked plan. See module docstring for stage semantics and the
    100-TB shape argument."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    _parsed_edges(spark).createOrReplaceTempView("parsed_edges_bench")
    return spark.sql(_DISCOVERY_SPARK)
