"""Shared Lloyd k-means machinery for the embedding-space family.

kmeans_embed (queries/corpus_mining.py) exposes the clustering as an
oracle-checked relation; vec_topk_ivf_trained and semdedup consume the
SAME trained solution as their coarse quantizer (VERDICT r08 item 4). The
machinery lives here, outside both modules, because corpus_mining imports
corpus_ext — a quantizer import in the other direction would cycle.

One Spark form and its DuckDB twin, term-for-term the same FLOOR-micro
integer arithmetic:

- ``_km_step``: the Spark trainer — one Lloyd round as ONE job: the
  Arrow-batched numpy assignment emits per-batch partial micro sums, one
  (cluster, dim) aggregation combines them, and its K*dims result rows
  are the only driver reads. ``_km_lloyd`` (kmeans_embed) and
  ``_km_quantizer`` (the IVF/semdedup coarse quantizer) chain it, and
  ``_km_assign_numpy`` is the final lazy assignment pass; both share the
  blocked exact argmin ``_km_argmin``;
- ``_km_cent_chain``: the DuckDB oracle text — the iteration budget
  UNROLLED into declarative CTEs, so the oracles replay training end to
  end inside one statement.

The two are pinned bit-equal in tests/test_corpus_mining.py,
tests/test_ann_recall.py and tests/test_corpus_ext.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import _DUCK_D

_KM_K = 8
_KM_ITERS = 3
_KM_DIMS = 64
# Quantizer training past this many vectors runs on a deterministic stride
# SUBSAMPLE (the FAISS posture: the coarse quantizer saturates long before
# the corpus does, and training cost is n_train × K per round). Gate scales
# sit far below the cap, so every oracle is unaffected; the scale regime
# (which has no oracle by design) trades nothing measurable for an
# n-independent build. kmeans_embed itself always trains on every vector.
_KM_TRAIN_CAP = 65536


def _km_fold(ea: str, cw: str) -> str:
    """Exact squared-distance as a BIGINT micro sum: per-dim FLOOR-micro
    terms, order-independent integer adds."""
    term = (
        f"CAST(FLOOR(({ea}[i] - {cw}[i]) * ({ea}[i] - {cw}[i]) * "
        f"1000000.0) AS BIGINT)"
    )
    return (
        f"list_sum(list_transform(generate_series(1, {_KM_DIMS}), "
        f"i -> {term}))"
    )


def _km_cent_chain(k: int = _KM_K, iters: int = _KM_ITERS, prefix: str = ""):
    """The unrolled Lloyd chain (DuckDB dialect) as
    ``(cte_list, trained_centroid_select)``.

    ``cte_list`` ends at the final assignment ``a{iters}`` (what
    ``_KM_DUCK`` selects from); ``trained_centroid_select`` is the one
    more centroid update over that assignment, yielding the fully trained
    quantizer relation (c, dim, w) that IVF/semdedup oracles slot in
    where their LCG centroids stood. Parameterized on K so a consumer can
    request its own cell count; every expression keeps the FLOOR-micro
    integer discipline, so the chain is bit-exact against ``_km_lloyd``
    at any (k, iters).
    """
    # centroid coordinate: exact-integer numerator over a double product
    # (CAST both operands — a bare 1000000.0 is DECIMAL in DuckDB and
    # flips the division onto the exact-decimal path, the documented
    # cross-engine divergence class)
    w_mean = (
        "CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT)) AS DOUBLE)"
        " / (CAST(COUNT(*) AS DOUBLE) * CAST(1000000.0 AS DOUBLE))"
    )
    p = prefix
    ctes = [
        f"""{p}v AS (SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ea
           FROM embeddings),
    {p}comps AS ({_DUCK_D['comps']()}),
    {p}sel8 AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k}),
    {p}sel AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c
      FROM {p}sel8
    ),
    {p}c0 AS (SELECT s.c, e.ea AS cw
              FROM {p}v e JOIN {p}sel s ON s.vec_id = e.vec_id)"""
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""{p}a{t} AS (
      SELECT e.vec_id, MIN({_km_fold('e.ea', 'ct.cw')} * {k} + ct.c)
               AS kk
      FROM {p}v e CROSS JOIN {p}c{t - 1} ct
      GROUP BY e.vec_id
    )"""
        )
        if t < iters:
            ctes.append(
                f"""{p}c{t} AS (
      SELECT c, list(w ORDER BY dim) AS cw
      FROM (SELECT a.kk % {k} AS c, p.dim, {w_mean} AS w
            FROM {p}comps p JOIN {p}a{t} a ON a.vec_id = p.vec_id
            GROUP BY a.kk % {k}, p.dim) m
      GROUP BY c
    )"""
            )
    trained = f"""SELECT a.kk % {k} AS c, p.dim, {w_mean} AS w
      FROM {p}comps p JOIN {p}a{iters} a ON a.vec_id = p.vec_id
      GROUP BY a.kk % {k}, p.dim"""
    return ctes, trained


def _km_argmin(E, C):
    """Blocked exact argmin of each row of ``E`` (n, dims) over the
    centroid rows of ``C`` (K, dims): (best index into C, best d2_micro).
    The EXACT arithmetic of the oracle's _km_fold, vectorized — float64
    (x-w)^2 * 1e6 floored per dim (IEEE-identical to the SQL form term by
    term), summed exactly; the argmin takes the first minimum over
    ascending centroid rows, i.e. the oracle's MIN(d2*K + c) tie rule.

    The centroid axis is processed in 64-row BLOCKS: the unblocked
    (batch, K, dims) broadcast subtract is ~5 GB of float64 intermediate
    per 10k-row Arrow batch at semdedup's K=1024 scale tier — blocking
    bounds it at batch×64×dims regardless of K. Strict `<` on the running
    minimum keeps ties on the LOWER block, so the blocked argmin equals
    the one-shot one exactly."""
    import numpy as np

    best_d = np.full(len(E), np.iinfo(np.int64).max, dtype=np.int64)
    best_c = np.zeros(len(E), dtype=np.int64)
    for lo in range(0, len(C), 64):
        Cb = C[lo : lo + 64]
        # In-place ops + float64 reduction: each floored term is an exact
        # small integer and 64 of them stay far below 2^53, so summing in
        # float64 is EXACT (same integer the int64 sum produces) while
        # skipping the (batch, K, dims) int64 materialization — the K=1024
        # build was measured memory-bandwidth-bound (137 s/round at 200k
        # vectors) on exactly those intermediate tensors.
        diff = E[:, None, :] - Cb[None, :, :]
        np.multiply(diff, diff, out=diff)
        np.multiply(diff, 1e6, out=diff)
        np.floor(diff, out=diff)
        d2 = diff.sum(axis=2).astype(np.int64)
        blk_c = d2.argmin(axis=1)
        blk_d = d2[np.arange(len(E)), blk_c]
        upd = blk_d < best_d  # strict: ties keep the lower block
        best_d = np.where(upd, blk_d, best_d)
        best_c = np.where(upd, blk_c + lo, best_c)
    return best_c, best_d


def _km_batches(cents: dict, emit):
    """The mapInPandas body shared by the assignment pass and the training
    step: each non-empty Arrow batch of (vec_id, embedding) is argmin'd
    against ``cents`` {cluster: float64[dims]} (closure-captured, K*dims
    scalars) and handed to ``emit(pdf, E, cluster_ids, best_c, best_d)``,
    which returns the batch's output frame."""
    import numpy as np

    ids = sorted(cents)  # clusters can drop out: ids need not be 0..K-1
    cmap = np.array(ids, dtype=np.int32)
    C = np.stack([cents[c] for c in ids])

    def lloyd_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            best_c, best_d = _km_argmin(E, C)
            yield emit(pdf, E, cmap, best_c, best_d)

    return lloyd_batches


def _km_assign_numpy(df: DataFrame, cents: dict) -> DataFrame:
    """One Lloyd assignment pass as Arrow-batched mapInPandas over ``df``
    (vec_id, embedding) against ``cents`` {cluster: float64[dims]}:
    (vec_id, cluster, d2_micro), argmin'd by ``_km_argmin``."""
    import pandas as pd

    def emit(pdf, E, cmap, best_c, best_d):
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "cluster": cmap[best_c],
             "d2_micro": best_d}
        )

    return df.mapInPandas(
        _km_batches(cents, emit),
        schema="vec_id long, cluster int, d2_micro long",
    )


def _km_step(emb: DataFrame, cents: dict) -> dict:
    """One Lloyd round — assignment AND centroid update — as ONE Spark job:
    the assignment pass emits, per Arrow batch, the partial exact-integer
    micro sums (c, dim, Σ FLOOR(x·1e6), n) of the vectors it assigned to
    each cluster; one (c, dim) aggregation combines them, and the driver
    divides exactly as the oracle's w_mean divides. Returns the updated
    {cluster: float64[dims]}: a cluster that won no vector drops out. The
    K*dims result rows are planning scalars, never data."""
    import numpy as np
    import pandas as pd

    def emit(pdf, E, cmap, best_c, best_d):
        k, dims = len(cmap), E.shape[1]
        sx = np.zeros((k, dims), dtype=np.int64)
        # the oracle's CAST(FLOOR(x * 1000000.0) AS BIGINT) per component,
        # scattered onto the assigned cluster's row (vectorized: K reaches
        # 1024 at semdedup's scale tier)
        np.add.at(sx, best_c, np.floor(E * 1e6).astype(np.int64))
        n = np.bincount(best_c, minlength=k)
        hit = np.flatnonzero(n)
        return pd.DataFrame(
            {"c": np.repeat(cmap[hit], dims),
             "dim": np.tile(np.arange(1, dims + 1, dtype=np.int32), len(hit)),
             "sx": sx[hit].ravel(),
             "n": np.repeat(n[hit], dims)}
        )

    rows = (
        emb.mapInPandas(
            _km_batches(cents, emit), schema="c int, dim int, sx long, n long"
        )
        .groupBy("c", "dim")
        .agg(F.sum("sx").alias("sx"), F.sum("n").alias("n"))
        .collect()
    )
    dims = max(r.dim for r in rows)
    out: dict = {}
    for r in rows:
        out.setdefault(r.c, np.zeros(dims))[r.dim - 1] = (
            float(r.sx) / (r.n * 1e6)
        )
    return out


def _km_seeds(emb: DataFrame, k: int) -> dict:
    """The deterministic seeds: the k smallest vec_ids' vectors."""
    import numpy as np

    seeds = emb.orderBy("vec_id").limit(k).collect()
    return {
        c: np.asarray(r.embedding, dtype=np.float64)
        for c, r in enumerate(seeds)
    }


def _km_lloyd(
    emb: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS
) -> DataFrame:
    """Lloyd k-means over ``emb`` (vec_id, embedding): the seeds, then
    ``iters`` assignment rounds with a centroid update between consecutive
    ones — ``iters - 1`` eager ``_km_step`` jobs. Returns the last round's
    assignment (vec_id, cluster, d2_micro), lazy."""
    cents = _km_seeds(emb, k)
    for _ in range(iters - 1):
        cents = _km_step(emb, cents)
    return _km_assign_numpy(emb, cents)


def _km_quantizer(
    spark: SparkSession, emb: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS
) -> dict:
    """The trained coarse quantizer {cluster: float64[dims]}: ``_km_lloyd``
    run through the FINAL update (the quantizer is the k-means solution,
    not the last pre-assignment centroids) — ``iters`` ``_km_step``
    rounds, the oracle chain's ``trained_centroid_select``. Past
    ``_KM_TRAIN_CAP`` vectors it trains on a stride subsample."""
    # Repartition BEFORE the per-round assignment kernel: the embeddings
    # scan yields only ~2 file-split partitions at the 200k tier (one
    # 100 MB parquet), so the compute-heavy mapInPandas ran ~2-way —
    # measured 350 s for the K=1024 3-round build; core-count partitions
    # make the assignment rounds actually parallel (the AQE-coalesce
    # caveat from the verify notes, applied at the source).
    train = (
        emb.select("vec_id", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint()
    )
    n = train.count()
    if n > _KM_TRAIN_CAP:
        # deterministic stride sample, id-spread (not a prefix — the
        # scaled fixtures cluster by id range): every ceil(n/cap)-th id
        stride = -(-n // _KM_TRAIN_CAP)
        train = train.where(f"vec_id % {stride} = 0").localCheckpoint()
    cents = _km_seeds(train, k)
    for _ in range(iters):
        cents = _km_step(train, cents)
    return cents


def trained_centroid_values(cents) -> str:
    """Render a trained centroid dict as a dialect-neutral VALUES relation
    text ``(VALUES ...) AS t(c, dim, w)``. ``repr`` round-trips binary64
    exactly and both engines parse the literal to the identical double, so
    inlining loses nothing."""
    rows = ", ".join(
        # float(w): the values arrive as numpy float64 scalars, whose repr
        # under NumPy >= 2 (NEP 51) is 'np.float64(x)' — unparseable SQL
        f"({c}, {dim + 1}, {float(w)!r})"
        for c in sorted(cents)
        for dim, w in enumerate(cents[c])
    )
    return f"(VALUES {rows}) AS t(c, dim, w)"
