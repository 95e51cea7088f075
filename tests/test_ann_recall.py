"""ANN recall@10 pinned against the brute-force baseline.

Counterpart of tests/test_minhash_recall.py for the vector path: a
constructed corpus (12 tight neighbors of the query at ~1° angular
distance + 200 random background vectors) where the true top-10 is
computed independently in numpy, then the LSH-bucketed and IVF probe-2
queries must recover ≥ 0.8 of it.

Both index paths are deterministic (LCG planes / centroids), so the
assertion cannot flake — the floor guards future re-tunes of the knobs:
more hyperplanes sharpen buckets but cut per-neighbor collision odds
(P = (1 − θ/π)^planes); IVF recall rises with _IVF_PROBES (probe-2 covers
a near-tie of coarse cells, probe-1 would halve the safety margin).
"""

from __future__ import annotations

import numpy as np
import pytest

from synth_timeseries_data_spark.queries.llm_pipeline import (
    _ANN_SIGS_SPARK,
    _IVF_RANKED_SPARK,
    _SPARK_D,
    _ann_tail,
    _ivf_tail,
)

N_NEIGHBORS = 12
N_BACKGROUND = 200
DIMS = 64
RECALL_FLOOR = 0.8


# function scope on purpose: other tests in this file (dense-bucket guard,
# PQ exact-duplicate) replace the "embeddings" temp view with their own
# corpora — each use must re-register the view, not trust a module-cached one
@pytest.fixture()
def ann_corpus(spark):
    rng = np.random.default_rng(7)
    q = rng.normal(size=DIMS)
    q /= np.linalg.norm(q)
    vecs = {0: q}
    for i in range(1, N_NEIGHBORS + 1):
        v = q + 0.018 * rng.normal(size=DIMS)  # ~1 degree off the query
        vecs[i] = v / np.linalg.norm(v)
    for i in range(N_NEIGHBORS + 1, N_NEIGHBORS + 1 + N_BACKGROUND):
        v = rng.normal(size=DIMS)
        vecs[i] = v / np.linalg.norm(v)

    rows = [
        (int(vid), f"v{vid}", [float(x) for x in np.asarray(v, dtype=np.float32)])
        for vid, v in vecs.items()
    ]
    df = spark.createDataFrame(
        rows, schema="vec_id long, label string, embedding array<float>"
    )
    df.createOrReplaceTempView("embeddings")

    # independent ground truth: exact cosine in numpy over the float32
    # values the engines actually see
    f32 = {vid: np.asarray(v, dtype=np.float32).astype(np.float64) for vid, v in vecs.items()}
    qv = f32[0]
    sims = {
        vid: float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)))
        for vid, v in f32.items()
        if vid != 0
    }
    truth = {vid for vid, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:10]}
    yield truth
    spark.catalog.dropTempView("embeddings")


def _recall(spark, index_sql: str, index_view: str, tail: str, truth: set) -> float:
    spark.sql(index_sql).createOrReplaceTempView(index_view)
    got = {r.vec_id for r in spark.sql("WITH " + tail).collect()}
    return len(got & truth) / len(truth)


def test_lsh_recall_at_10(spark, ann_corpus):
    recall = _recall(
        spark, _ANN_SIGS_SPARK, "t_sigs", _ann_tail(_SPARK_D, "t_sigs"), ann_corpus
    )
    assert recall >= RECALL_FLOOR, (
        f"LSH recall@10 {recall:.2f} below {RECALL_FLOOR} — "
        "re-tune _ANN_PLANES (more planes = finer buckets, lower collision odds)"
    )


def test_ivf_recall_at_10(spark, ann_corpus):
    recall = _recall(
        spark,
        _IVF_RANKED_SPARK,
        "t_ranked",
        _ivf_tail(_SPARK_D, "t_ranked"),
        ann_corpus,
    )
    assert recall >= RECALL_FLOOR, (
        f"IVF recall@10 {recall:.2f} below {RECALL_FLOOR} — "
        "raise _IVF_PROBES (probed cells are the recall/cost knob)"
    )


def test_trained_quantizer_recall_vs_probe_curve(spark, ann_corpus):
    """VERDICT r08 item 4 done-condition: at EQUAL probe counts the
    trained (Lloyd) coarse quantizer must recall at least as much of the
    true top-10 as the LCG stand-in, across the probe ladder — cell
    boundaries between real clusters cover the neighborhood with fewer
    probed cells. Also pins the trained probe-2 recall above the family
    floor so the wiring can't regress the headline number."""
    from synth_timeseries_data_spark.queries.corpus_mining import (
        _ivft_ranked_values_sql,
        _km_quantizer,
    )

    trained_sql = _ivft_ranked_values_sql(
        _km_quantizer(spark, spark.table("embeddings"))
    )
    curve = {}
    for probes in (1, 2):
        lcg = _recall(
            spark,
            _IVF_RANKED_SPARK,
            "t_ranked",
            _ivf_tail(_SPARK_D, "t_ranked", probes=probes),
            ann_corpus,
        )
        trained = _recall(
            spark,
            trained_sql,
            "t_tranked",
            _ivf_tail(_SPARK_D, "t_tranked", probes=probes),
            ann_corpus,
        )
        curve[probes] = (lcg, trained)
        assert trained >= lcg, (
            f"trained quantizer recall {trained:.2f} below LCG {lcg:.2f} "
            f"at probes={probes} — training should never lose to random "
            f"Voronoi cells on a clustered corpus: {curve}"
        )
    assert curve[2][1] >= RECALL_FLOOR, curve


def test_trained_centroid_forms_bit_equal(spark, smoke_sf_dir):
    """The DuckDB twin's declarative Lloyd chain and Spark's numpy-trained
    + inlined-VALUES form must produce the IDENTICAL ranked index
    relation — same exact FLOOR-micro arithmetic, literal inlining via
    repr round-trips binary64 exactly."""
    import duckdb

    from synth_timeseries_data_spark.queries.corpus_mining import (
        _ivft_ranked_tail,
        _ivft_ranked_values_sql,
        _km_cent_chain,
        _km_quantizer,
    )
    from synth_timeseries_data_spark.sources import load

    ctes, trained = _km_cent_chain(prefix="km_")
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"'{smoke_sf_dir}/embeddings.parquet'"
        )
        decl = sorted(
            con.execute(
                "WITH " + ",\n    ".join(ctes)
                + f",\n    tcent AS ({trained}),\n    "
                + _ivft_ranked_tail("km_comps")
            ).fetchall()
        )
    finally:
        con.close()
    emb = load(spark, smoke_sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    try:
        vals = sorted(
            map(
                tuple,
                spark.sql(
                    _ivft_ranked_values_sql(_km_quantizer(spark, emb))
                ).collect(),
            )
        )
    finally:
        spark.catalog.dropTempView("embeddings")
    assert len(decl) > 0 and decl == vals


def test_dense_bucket_guard_keeps_blob_connected(spark):
    """Dense-region guard property: a near-dup blob LARGER than
    _ND_BUCKET_CAP lands in over-cap LSH buckets, where pairing switches
    from all-pairs to sorted-neighborhood. For dedup semantics the
    requirement is NOT full pairwise recall (that is what the cap
    deliberately gives up) but CONNECTIVITY: the found pairs must keep the
    blob one connected component, so downstream clustering still collapses
    it to one representative. Background vectors must stay un-paired."""
    import numpy as np

    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _ND_BUCKET_CAP,
        _SPARK_D,
        _nd_sigs_sql,
        _nd_tail,
        _nd_v_sql,
    )

    rng = np.random.default_rng(3)
    dims = 64
    n_blob = _ND_BUCKET_CAP + 60  # forces over-cap buckets in every band
    center = rng.normal(size=dims)
    center /= np.linalg.norm(center)
    blob = center[None, :] + 0.02 * rng.normal(size=(n_blob, dims))  # cos ≈ 1
    bg = rng.normal(size=(40, dims))  # random directions, cos ≈ 0
    vecs = np.vstack([blob, bg])

    rows = [
        (int(i), [float(x) for x in vecs[i]], int(0 if i < n_blob else 1))
        for i in range(len(vecs))
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).createOrReplaceTempView("embeddings")
    try:
        spark.sql(
            _nd_sigs_sql(_SPARK_D, _SPARK_D["comps"](), 12)
        ).createOrReplaceTempView("g_sigs")
        spark.sql(_nd_v_sql(_SPARK_D)).createOrReplaceTempView("g_v")
        pairs = [
            (r.vec_a, r.vec_b)
            for r in spark.sql(
                "WITH "
                + _nd_tail(
                    _SPARK_D, "g_sigs", "g_v",
                    broadcast_cand=False, dense_guard=True,
                )
            ).collect()
        ]
        # union-find over found pairs
        parent = list(range(len(vecs)))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        blob_roots = {find(i) for i in range(n_blob)}
        assert len(blob_roots) == 1, f"blob split into {len(blob_roots)} components"
        # background mostly stays out (a random 64-dim vector can clear the
        # 0.3 cosine threshold by chance, so a few strays are legitimate)
        n_bg_paired = len({v for p in pairs for v in p if v >= n_blob})
        assert n_bg_paired <= 8, n_bg_paired
        # and the pair count stayed LINEAR in blob size, not quadratic
        assert len(pairs) < n_blob * 16 * 4 * 2
    finally:
        spark.catalog.dropTempView("embeddings")


def _pq_sqls(codes_view: str):
    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _PQ_CODES_TAIL,
        _pq_dists_sql,
        _pq_tail,
    )

    idx = (
        f"WITH comps AS ({_SPARK_D['comps']()}),"
        + _pq_dists_sql(_SPARK_D, "")
        + _PQ_CODES_TAIL
    )
    tail = (
        f"WITH comps AS ({_SPARK_D['comps']()}),"
        + _pq_dists_sql(_SPARK_D, "WHERE vec_id = 0")
        + ",\n    qd AS (SELECT m, c, d2 FROM dists),"
        + _pq_tail(_SPARK_D, codes_view)
    )
    return idx, tail


def test_pq_recall_at_10(spark, ann_corpus):
    """PQ = ADC shortlist + exact-L2 re-rank. On unit vectors the L2
    re-rank order equals the cosine order (||a-b||² = 2-2cosθ), so recall
    is governed by whether the true top-10 survives the ADC shortlist —
    _PQ_SHORTLIST is the documented recall/IO knob."""
    idx, tail = _pq_sqls("t_pq_codes")
    spark.sql(idx).createOrReplaceTempView("t_pq_codes")
    got = {r.vec_id for r in spark.sql(tail).collect()}
    recall = len(got & ann_corpus) / len(ann_corpus)
    assert recall >= RECALL_FLOOR, (
        f"PQ recall@10 {recall:.2f} below {RECALL_FLOOR} — "
        "raise _PQ_SHORTLIST (ADC candidates kept for exact re-rank)"
    )


def test_pq_exact_duplicate_is_rank1(spark):
    """A planted exact copy of the query has the provably minimal ADC
    (its codes are the query's own argmin codes), so it MUST survive any
    shortlist and re-rank to distance zero."""
    rng = np.random.default_rng(11)
    rows = []
    q = rng.normal(size=DIMS)
    q /= np.linalg.norm(q)
    qf = [float(x) for x in np.asarray(q, dtype=np.float32)]
    rows.append((0, "q", qf))
    for i in range(1, 120):
        v = rng.normal(size=DIMS)
        v /= np.linalg.norm(v)
        rows.append((i, f"v{i}", [float(x) for x in np.asarray(v, dtype=np.float32)]))
    rows.append((9999, "copy", qf))
    spark.createDataFrame(
        rows, schema="vec_id long, label string, embedding array<float>"
    ).createOrReplaceTempView("embeddings")
    try:
        idx, tail = _pq_sqls("t_pq_codes_dup")
        spark.sql(idx).createOrReplaceTempView("t_pq_codes_dup")
        got = {r.vec_id: r.l2_d2_micro for r in spark.sql(tail).collect()}
        assert 9999 in got and got[9999] == 0
    finally:
        spark.catalog.dropTempView("embeddings")
