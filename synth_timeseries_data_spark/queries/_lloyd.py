"""Shared Lloyd k-means machinery for the embedding-space family.

kmeans_embed (queries/corpus_mining.py) exposes the clustering as an
oracle-checked relation; vec_topk_ivf_trained and semdedup consume the
SAME trained solution as their coarse quantizer (VERDICT r08 item 4). The
machinery lives here, outside both modules, because corpus_mining imports
corpus_ext — a quantizer import in the other direction would cycle.

One Spark form and its DuckDB twin, term-for-term the same FLOOR-micro
integer arithmetic:

- ``_km_lloyd``: the Spark trainer — per-round Arrow-batched numpy
  assignment (``_km_assign_numpy``) plus one SQL micro-mean update whose
  K*dims result rows are the only driver reads;
- ``_km_cent_chain``: the DuckDB oracle text — the iteration budget
  UNROLLED into declarative CTEs, so the oracles replay training end to
  end inside one statement.

The two are pinned bit-equal in tests/test_corpus_mining.py,
tests/test_ann_recall.py and tests/test_corpus_ext.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

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
    {p}comps AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                 CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
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


def _km_assign_numpy(df: DataFrame, cents: dict) -> DataFrame:
    """One Lloyd assignment pass as Arrow-batched mapInPandas over ``df``
    (vec_id, embedding) against ``cents`` {cluster: float64[dims]}:
    (vec_id, cluster, d2_micro). The EXACT arithmetic of the oracle's
    _km_fold, vectorized — float64 (x-w)^2 * 1e6 floored per dim
    (IEEE-identical to the SQL form term by term), summed exactly; the
    argmin takes the first minimum over ascending cluster ids, i.e. the
    oracle's MIN(d2*K + c) tie rule.

    The centroid axis is processed in 64-row BLOCKS: the unblocked
    (batch, K, dims) broadcast subtract is ~5 GB of float64 intermediate
    per 10k-row Arrow batch at semdedup's K=1024 scale tier — blocking
    bounds it at batch×64×dims regardless of K. Strict `<` on the running
    minimum keeps ties on the LOWER block, so the blocked argmin equals
    the one-shot one exactly."""
    import numpy as np
    import pandas as pd

    ids = sorted(cents)  # clusters can drop out: ids need not be 0..K-1
    cmap = np.array(ids, dtype=np.int32)
    C = np.stack([cents[c] for c in ids])  # closure-captured, K*dims scalars

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.array(
                [np.asarray(e, dtype=np.float64) for e in pdf["embedding"]]
            )
            best_d = np.full(len(pdf), np.iinfo(np.int64).max, dtype=np.int64)
            best_c = np.zeros(len(pdf), dtype=np.int64)
            for lo in range(0, len(ids), 64):
                Cb = C[lo : lo + 64]
                # In-place ops + float64 reduction: each floored term is an
                # exact small integer and 64 of them stay far below 2^53,
                # so summing in float64 is EXACT (same integer the int64
                # sum produces) while skipping the (batch, K, dims) int64
                # materialization — the K=1024 build was measured memory-
                # bandwidth-bound (137 s/round at 200k vectors) on exactly
                # those intermediate tensors.
                diff = E[:, None, :] - Cb[None, :, :]
                np.multiply(diff, diff, out=diff)
                np.multiply(diff, 1e6, out=diff)
                np.floor(diff, out=diff)
                d2 = diff.sum(axis=2).astype(np.int64)
                blk_c = d2.argmin(axis=1)
                blk_d = d2[np.arange(len(pdf)), blk_c]
                upd = blk_d < best_d  # strict: ties keep the lower block
                best_d = np.where(upd, blk_d, best_d)
                best_c = np.where(upd, blk_c + lo, best_c)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster": cmap[best_c],
                 "d2_micro": best_d}
            )

    return df.mapInPandas(
        assign, schema="vec_id long, cluster int, d2_micro long"
    )


def _km_update(spark: SparkSession, emb: DataFrame, assign: DataFrame) -> dict:
    """One centroid update: per-(cluster, dim) exact-integer micro sums
    over ``assign`` ⋈ ``emb``'s position explosion, divided on the driver
    exactly as the oracle's w_mean divides. Returns {cluster:
    float64[dims]}; the K*dims result rows are planning scalars, never
    data."""
    import uuid

    import numpy as np

    view = f"_km_{uuid.uuid4().hex[:12]}"
    assign.createOrReplaceTempView(view)
    emb.createOrReplaceTempView(f"{view}_e")
    try:
        rows = spark.sql(
            f"""
            SELECT a.cluster AS c, p.dim,
                   SUM(CAST(FLOOR(p.x * 1000000.0) AS BIGINT)) AS sx,
                   COUNT(*) AS n
            FROM (SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x
                  FROM {view}_e LATERAL VIEW posexplode(embedding) AS pos, x
                 ) p
            JOIN {view} a ON a.vec_id = p.vec_id
            GROUP BY a.cluster, p.dim
            """
        ).collect()
    finally:
        spark.catalog.dropTempView(view)
        spark.catalog.dropTempView(f"{view}_e")
    dims = max(r.dim for r in rows)
    cents: dict = {}
    for r in rows:
        cents.setdefault(r.c, np.zeros(dims))[r.dim - 1] = (
            float(r.sx) / (r.n * 1e6)
        )
    return cents


def _km_lloyd(
    spark: SparkSession, emb: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS
) -> DataFrame:
    """Lloyd k-means over ``emb`` (vec_id, embedding): seeds are the k
    smallest vec_ids' vectors, then ``iters`` assignment rounds with a
    centroid update between consecutive ones. Returns the last round's
    assignment (vec_id, cluster, d2_micro) — lazy; the rounds before it
    ran eagerly. A cluster that loses all members drops out of the next
    round's centroids."""
    import numpy as np

    seeds = emb.orderBy("vec_id").limit(k).collect()
    cents = {
        c: np.asarray(r.embedding, dtype=np.float64)
        for c, r in enumerate(seeds)
    }
    assign = _km_assign_numpy(emb, cents)
    for _ in range(iters - 1):
        assign = _km_assign_numpy(emb, _km_update(spark, emb, assign))
    return assign


def _km_quantizer(
    spark: SparkSession, emb: DataFrame, k: int = _KM_K, iters: int = _KM_ITERS
) -> dict:
    """The trained coarse quantizer {cluster: float64[dims]}: ``_km_lloyd``
    run through the FINAL update (the quantizer is the k-means solution,
    not the last pre-assignment centroids) — the oracle chain's
    ``trained_centroid_select``. Past ``_KM_TRAIN_CAP`` vectors it trains
    on a stride subsample."""
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
    return _km_update(spark, train, _km_lloyd(spark, train, k, iters))


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
