"""Persisted near-dup / ANN serving indexes — the write-amortized form of
`minhash_dedup` / `embed_neardup` / `vec_topk_ivf` / `vec_topk_pq`
(queries/llm_pipeline.py).

The session forms rebuild their index relations (shingle aggregate + band
signatures; plane signatures + norms) once per session via localCheckpoint;
at cluster scale the index is a TABLE: built once, written
``bucketBy(n, band, sig)`` with the bucket sizes precomputed, and every
later near-dup query runs against the persisted relations with the bucket
self-join, the dense-guard rank window, and the verify joins all
exchange-free on the bucketed scans. The only shuffles left in a re-query
are candidate-proportional (the pair DISTINCT; past broadcast scale, the
verify join re-keying candidate pairs). Measured at sf100 (500k docs / 5M
vectors): minhash re-query 36.9 s vs 116 s for the session form, bit-equal
pairs — see scripts/bucketed_neardup_demo.py and COVERAGE.md.

The ANN serving tiers are first-class here too: LSH and IVF cells
tables partitioned by signature / centroid cell with payloads inline
(probes read only the probed partitions via static partition filters),
and PQ as a packed 8-int code table scanned with a collected ADC table
(no join, no per-vector aggregation). Maintenance is incremental:
``append_{lsh,ivf,pq}_index`` grow an index by a delta against the
frozen grid/centroids/codebook, ``lsh_ingest_stream`` does it
continuously from a file-source stream, ``minhash_delta_pairs``
answers ingest-time dedup read-only against the persisted document
index, and ``build_runs_index``/``novelty_delta`` do the same for the
8-gram novelty curve (per-batch staleness of arriving docs against
everything already ingested). Every form is pinned bit-equal to its
session-form registry query (tests/test_scale_techniques.py) and
sf100-measured (COVERAGE.md).

Index writes are managed tables (``bucketBy`` requires ``saveAsTable``);
pass a qualified ``db.name`` prefix to place them. Reading back requires
the two planner confs the builders set (sorted-bucket scan + subset-key
co-partitioning); every API call sets them and leaves them set — run
index serving in its own session, or wrap mixed workloads in
:func:`index_posture` to restore the default plan shapes afterwards.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from ..queries import _SPARK_D
from .scale import write_bucketed

DEFAULT_BUCKETS = 64

# The two planner confs the bucketed index posture needs: honor sortBy
# file order in bucketed scans (elides the SMJ sort; the pre-write
# repartition guarantees one file per bucket), and let joins whose keys
# EXTEND the bucket key — (band, sig, blk) over a (band, sig) index —
# reuse the scan's prefix partitioning instead of re-shuffling on all
# keys.
INDEX_PLANNER_CONFS = {
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
    "spark.sql.requireAllClusterKeysForCoPartition": "false",
}


def _index_session_confs(spark: SparkSession) -> None:
    """Set the index posture confs and LEAVE them set.

    Planning happens when a returned DataFrame executes, so the confs
    cannot be restored inside build/query calls without undoing the
    posture. Use a dedicated session for index serving (the demo script
    does), or wrap mixed workloads in :func:`index_posture`, which
    restores the previous values on exit."""
    for k, v in INDEX_PLANNER_CONFS.items():
        spark.conf.set(k, v)


@contextmanager
def index_posture(spark: SparkSession):
    """Scoped form for MIXED sessions: applies the index planner confs,
    yields, and restores the previous values — so later non-index queries
    keep the session's default plan shapes. Execute (not just build) all
    index queries inside the block."""
    saved = {k: spark.conf.get(k, None) for k in INDEX_PLANNER_CONFS}
    _index_session_confs(spark)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _mh_shingles_cte(where: "str | None") -> str:
    """The minhash shingle CTE chain, optionally restricted to the docs
    matching ``where``. The restriction is spliced into the one scan the
    chain makes (plan-shape branches dispatch on dialect identity,
    ``d is _SPARK_D``, so the pdocs entry cannot be overridden on a copy)."""
    from ..queries import llm_pipeline as lp

    cte = lp._shingles_raw_cte(_SPARK_D)
    if where:
        src = f"FROM {_SPARK_D['pdocs']}"
        if cte.count(src) != 1:  # pragma: no cover - template drift guard
            raise ValueError(
                f"shingle CTE no longer has exactly one {src!r} scan; "
                "update _mh_shingles_cte's splice"
            )
        cte = cte.replace(
            src, f"FROM (SELECT * FROM {_SPARK_D['pdocs']} WHERE ({where}))"
        )
    return cte


def build_minhash_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "mh",
    n_buckets: int = DEFAULT_BUCKETS,
    where: "str | None" = None,
) -> tuple[str, str]:
    """Build and persist the MinHash LSH index for ``sf_dir``'s documents:
    ``{prefix}_docagg_b`` (doc_id → min-hashes + shingle array,
    bucketBy(doc_id) so the verify join needs no exchange or sort) and
    ``{prefix}_mem_b`` (doc_id, band, sig, m — band membership with the
    bucket size m precomputed at build time, bucketBy(band, sig)).
    ``where`` restricts the indexed corpus; arriving docs are deduped
    against the index READ-ONLY with :func:`minhash_delta_pairs` (the m
    sizes stay exact — folding a delta in is a rebuild, by design).
    Returns the two table names."""
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    lp._register_docs(spark, sf_dir)
    docagg_t, mem_t = f"{prefix}_docagg_b", f"{prefix}_mem_b"
    docagg = spark.sql(
        _mh_shingles_cte(where) + lp._mh_docagg_sql(_SPARK_D)
    ).repartition(n_buckets, "doc_id")
    write_bucketed(docagg, docagg_t, "doc_id", n_buckets)
    mem = spark.sql(
        f"""
        WITH sigs AS ({lp._mh_sigs_sql(_SPARK_D, docagg_t)}),
        bsize AS (SELECT band, sig, COUNT(*) AS m FROM sigs
                  GROUP BY band, sig)
        SELECT s.doc_id, s.band, s.sig, z.m
        FROM sigs s JOIN bsize z ON z.band = s.band AND z.sig = s.sig
        """
    ).repartition(n_buckets, "band", "sig")
    write_bucketed(mem, mem_t, ("band", "sig"), n_buckets)
    return docagg_t, mem_t


def minhash_pairs_indexed(
    spark: SparkSession, docagg_table: str, mem_table: str
) -> DataFrame:
    """Near-duplicate pairs from a persisted MinHash index — result-equal
    to `minhash_dedup` over the same corpus (asserted at sf100 on 1.74M
    pairs), with zero corpus-proportional shuffle."""
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    return spark.sql(
        "WITH "
        + lp._minhash_tail(
            _SPARK_D, docagg_table, mem_table, mem_rel=mem_table
        )
    )


def minhash_delta_pairs(
    spark: SparkSession,
    sf_dir: str,
    docagg_table: str,
    mem_table: str,
    delta_where: str,
) -> DataFrame:
    """Ingest-time incremental dedup against the persisted MinHash index:
    near-duplicate pairs (doc_a < doc_b, exact Jaccard ≥ 0.5) where at
    least one side is a DELTA doc (``delta_where`` — must select docs not
    already indexed). Delta docs are shingled/min-hashed at
    delta-proportional cost, probed into the bucketed membership relation
    by (band, sig) equality with the tiny delta side broadcast (the
    indexed corpus is never re-shuffled), paired among themselves by the
    same bucket join, and every candidate is verified by exact
    array-intersect Jaccard against the delta aggregate ∪ the persisted
    doc-aggregate. READ-ONLY: the index and its precomputed bucket sizes
    are untouched — fold accumulated deltas in with a periodic rebuild.
    With the index built on the complement, (pairs among indexed docs) ∪
    (this relation) equals `minhash_dedup` over the full corpus at gate
    scales (pinned in test_scale_techniques.py); the batch dense-bucket
    guard is not applied to the delta probe (an ingest batch is bounded
    by contract; a hot indexed bucket bounds fan-out at m per probe
    row)."""
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    lp._register_docs(spark, sf_dir)
    d = _SPARK_D
    # The delta aggregate feeds the signature probe AND both verify
    # sides; Spark inlines CTEs, so as a CTE the shingle/min-hash pass
    # ran FIVE times (plan-counted corpus scans: 5 → 0 after this fix).
    # localCheckpoint computes it once, same as the session indexes. The
    # view name is per-call so concurrent ingest batches in one session
    # don't stomp each other, and the view is DROPPED before returning
    # (spark.sql analyzes eagerly — the returned plan holds the resolved
    # LogicalRDD, not the view), so the catalog never pins the
    # checkpointed blocks: they are freed when the result DataFrame is
    # garbage-collected (JVM ContextCleaner). Without the drop, a
    # long-lived ingest loop would leak one checkpointed delta aggregate
    # per batch into the session catalog.
    import uuid

    dagg_view = f"_mh_delta_docagg_{uuid.uuid4().hex[:12]}"
    spark.sql(
        _mh_shingles_cte(delta_where) + lp._mh_docagg_sql(d)
    ).localCheckpoint().createOrReplaceTempView(dagg_view)
    result = spark.sql(
        f"WITH dsigs AS ({lp._mh_sigs_sql(d, dagg_view)})"
        + f""",
    cand AS (
      SELECT DISTINCT LEAST(da_id, db_id) AS doc_a,
                      GREATEST(da_id, db_id) AS doc_b
      FROM (
        SELECT /*+ BROADCAST(a) */ a.doc_id AS da_id, b.doc_id AS db_id
        FROM dsigs a JOIN {mem_table} b
          ON b.band = a.band AND b.sig = a.sig AND b.doc_id != a.doc_id
        UNION ALL
        SELECT a.doc_id AS da_id, b.doc_id AS db_id
        FROM dsigs a JOIN dsigs b
          ON b.band = a.band AND b.sig = a.sig AND a.doc_id < b.doc_id
      ) u
    ),
    dall AS (
      SELECT doc_id, n_sh, arr FROM {dagg_view}
      UNION ALL
      SELECT doc_id, n_sh, arr FROM {docagg_table}
    ),
    inter AS (
      SELECT /*+ BROADCAST(c) */ c.doc_a, c.doc_b,
             da.n_sh AS na, db.n_sh AS nb,
             size(array_intersect(da.arr, db.arr)) AS n_inter
      FROM cand c
      JOIN dall da ON da.doc_id = c.doc_a
      JOIN dall db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 6) AS jaccard
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.5
    """
    )
    spark.catalog.dropTempView(dagg_view)
    return result


def build_embed_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "nd",
    n_buckets: int = DEFAULT_BUCKETS,
) -> tuple[str, int]:
    """Build and persist the embedding-ANN members index for ``sf_dir``'s
    embeddings: ``{prefix}_members_b`` (vec_id, band, sig, proj, c, label,
    e, nrm — hyperplane band signatures with the vector, its norm, and the
    bucket size attached at build time, bucketBy(band, sig)). Band width
    adapts to corpus size exactly as the session form does (_nd_bits), so
    indexed results match the registry query at every scale. Returns
    (table name, bits)."""
    from ..queries import llm_pipeline as lp
    from ..sources import load, table_rows

    _index_session_confs(spark)
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    bits = lp._nd_bits(table_rows(sf_dir, "embeddings"))
    members_t = f"{prefix}_members_b"
    members = spark.sql(
        f"""
        WITH sigs AS ({lp._nd_sigs_sql(_SPARK_D, _SPARK_D["comps"](), bits)}),
        v AS ({lp._nd_v_sql(_SPARK_D)}),
        bsize AS (SELECT band, sig, COUNT(*) AS c FROM sigs
                  GROUP BY band, sig)
        SELECT s.vec_id, s.band, s.sig, s.proj, z.c, v.label, v.e, v.nrm
        FROM sigs s
        JOIN bsize z ON z.band = s.band AND z.sig = s.sig
        JOIN v ON v.vec_id = s.vec_id
        """
    ).repartition(n_buckets, "band", "sig")
    write_bucketed(members, members_t, ("band", "sig"), n_buckets)
    return members_t, bits


def _pred(where: "str | None") -> str:
    """Splice-ready predicate: user predicates get wrapped, the all-rows
    default stays a BARE ``TRUE`` — a parenthesized literal ``(TRUE)``
    trips Spark 4.1's parser (ASSIGNMENT_ARITY_MISMATCH via the
    subquery-column-alias rule)."""
    return f"({where})" if where else "TRUE"


def _vec_posexp(pred: str, src: str = "embeddings") -> str:
    """Per-dimension explode of the embeddings restricted to ``pred``.
    The filter lands in the parquet scan, so a delta build SIGNS only the
    delta's rows; scan bytes are delta-proportional too when the delta
    arrives as its own files (the production ingest shape) rather than
    carved out of shared row groups by predicate (the test shape)."""
    return _SPARK_D["comps"](f"(SELECT * FROM {src} WHERE {pred})")


def _ivf_cells_df(
    spark: SparkSession, where: "str | None", ranked_sql: "str | None" = None
) -> DataFrame:
    """The IVF cells relation (vec_id, label, e, c) for the vectors
    matching ``where`` (all vectors when None), clustered for the
    partitioned write. Cluster by (cell, salt) BEFORE the write so each
    inverted list is a BOUNDED set of contiguous files sized to the
    probe's read parallelism. Both extremes lose, measured at sf100/5M
    vectors: unclustered, every shuffle task writes a sliver into every
    cell dir and the pruned probe pays a 960-file-open scan (2.9 s
    steady); fully clustered (one ~350 MB file per cell), the probe
    collapses to ~3 byte-range splits per probed list and the
    exact-cosine verify runs on idle cores (5.7 s). ~16 files per list:
    1.8 s."""
    from pyspark.sql import functions as F

    from ..queries import llm_pipeline as lp

    pred = _pred(where)
    if ranked_sql is None:
        ranked_sql = lp._ivf_ranked_sql(_SPARK_D, _vec_posexp(pred))
    cells = spark.sql(
        f"""
        WITH ranked AS ({ranked_sql}),
        v AS (SELECT vec_id, label,
                     {_SPARK_D['farr']('embedding')} AS e
              FROM embeddings WHERE {pred})
        SELECT v.vec_id, v.label, v.e, a.c
        FROM (SELECT vec_id, c FROM ranked WHERE rn = 1) a
        JOIN v ON v.vec_id = a.vec_id
        """
    )
    salt = 16
    return cells.repartition(
        lp._IVF_K * salt, F.col("c"), F.pmod(F.col("vec_id"), F.lit(salt))
    )


def build_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "ivf",
    where: "str | None" = None,
    quantizer: str = "lcg",
) -> str:
    """Build and persist the IVF serving index for ``sf_dir``'s
    embeddings: ``{prefix}_cells``, PARTITIONED BY the coarse-centroid
    cell, with each vector's label and float payload INLINE — so a probe
    reads only the probed cells' partitions (partition pruning) and needs
    no join back to the embeddings table. This is the layout an ANN
    serving tier stores at 100 TB: the inverted file IS the partitioning.
    ``where`` restricts the indexed corpus (a SQL predicate over the
    embeddings columns); grow the index later with
    :func:`append_ivf_index`. Returns the table name."""
    from ..sources import load

    emb = load(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")
    table = f"{prefix}_cells"
    ranked_sql = None
    if quantizer == "trained":
        # Train ONCE at build (the standard IVF posture: appends and probes
        # assign against the frozen solution) and persist the quantizer
        # next to its inverted file — the index is (cells, centroids).
        from ..queries.corpus_mining import (
            _ivft_ranked_values_sql,
            _km_quantizer,
            trained_centroid_values,  # noqa: F401  (probe-side twin)
        )

        cents = _km_quantizer(spark, emb)
        qrows = [
            (int(c), int(dim + 1), float(w))
            for c in sorted(cents)
            for dim, w in enumerate(cents[c])
        ]
        spark.createDataFrame(
            qrows, schema="c int, dim int, w double"
        ).write.mode("overwrite").format("parquet").saveAsTable(
            f"{prefix}_quantizer"
        )
        ranked_sql = _ivft_ranked_values_sql(cents, _vec_posexp(_pred(where)))
    elif quantizer == "lcg":
        # a REBUILD at a prefix that previously carried a trained build
        # must not leave the stale quantizer table behind — probes and
        # appends would silently assign against the old trained centroids
        # while the cells are LCG-partitioned
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_quantizer")
    else:
        raise ValueError(f"unknown quantizer: {quantizer!r}")
    _ivf_cells_df(spark, where, ranked_sql).write.mode(
        "overwrite"
    ).partitionBy("c").format("parquet").saveAsTable(table)
    return table


def _ivf_quantizer(spark: SparkSession, cells_table: str):
    """The persisted trained quantizer for ``cells_table`` as
    {cluster: float64[dims]}, or None when the index was built with the
    LCG stand-in (no ``{prefix}_quantizer`` table). Parquet round-trips
    binary64 exactly, so the reloaded centroids are bit-identical to the
    trained ones."""
    import numpy as np

    prefix = cells_table[: -len("_cells")] if cells_table.endswith("_cells") else cells_table
    qtable = f"{prefix}_quantizer"
    # missing table => LCG-built index; any OTHER failure must surface —
    # silently falling back to LCG centroids against trained-partitioned
    # cells would corrupt probes/appends with no error
    if not spark.catalog.tableExists(qtable):
        return None
    rows = spark.table(qtable).collect()
    if not rows:
        return None
    dims = max(int(r.dim) for r in rows)
    cents: dict = {}
    for r in rows:
        cents.setdefault(int(r.c), np.zeros(dims))[int(r.dim) - 1] = float(r.w)
    return cents


def append_ivf_index(
    spark: SparkSession, sf_dir: str, table: str, where: str
) -> None:
    """Incremental IVF index maintenance: assign ONLY the delta vectors
    (``where`` — must select vectors not already indexed) to their cells
    and append their rows to the existing partitioned table. The coarse
    centroids are frozen at build (the standard IVF posture — retraining
    means rebuilding), so an append touches only delta-proportional
    bytes and probes see base ∪ delta with no rebuild. Appends add files
    to the touched cell partitions; re-cluster by rebuilding when churn
    accumulates."""
    from ..sources import load

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    cents = _ivf_quantizer(spark, table)
    ranked_sql = None
    if cents is not None:
        from ..queries.corpus_mining import _ivft_ranked_values_sql

        ranked_sql = _ivft_ranked_values_sql(cents, _vec_posexp(_pred(where)))
    _ivf_cells_df(spark, where, ranked_sql).write.mode("append").partitionBy(
        "c"
    ).format("parquet").saveAsTable(table)


def ivf_topk_indexed(
    spark: SparkSession, sf_dir: str, cells_table: str
) -> DataFrame:
    """IVF top-10 from a persisted cells index — result-equal to
    `vec_topk_ivf`. Probing: the query vector's ``_IVF_PROBES`` nearest
    cells are computed engine-side over the 64×8 centroid grid and
    collected (two ints — the serving-path planning read), then the index
    scan carries a static ``c IN (...)`` partition filter, so only the
    probed inverted lists are read; the exact-cosine verify runs on the
    inline payloads with the registry's expressions (bit-identical)."""
    from ..queries import llm_pipeline as lp
    from ..sources import load

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    cents = _ivf_quantizer(spark, cells_table)
    if cents is not None:
        from ..queries.corpus_mining import _ivft_ranked_values_sql

        q_ranked = _ivft_ranked_values_sql(cents, _vec_posexp("vec_id = 0"))
    else:
        q_ranked = lp._ivf_ranked_sql(_SPARK_D, _vec_posexp("vec_id = 0"))
    probes = [
        r["c"]
        for r in spark.sql(
            f"WITH r0 AS ({q_ranked}) SELECT c FROM r0 "
            f"WHERE rn <= {lp._IVF_PROBES}"
        ).collect()
    ]
    if not probes:
        raise ValueError(
            f"query vector (vec_id 0) not found in {sf_dir}'s embeddings"
        )
    in_list = ", ".join(str(c) for c in probes)
    # the registry's verify, over the probed cells' inline payloads
    return spark.sql(
        f"""
        WITH {lp._verify_ctes(_SPARK_D, f"{cells_table} v CROSS JOIN q "
                              f"WHERE v.c IN ({in_list}) AND v.vec_id != 0")}
        SELECT vec_id, label, ROUND(cos_sim, 6) + 0.0 AS cos_sim
        FROM sims
        ORDER BY ROUND(cos_sim, 6) DESC, vec_id
        LIMIT 10
        """
    )


def _lsh_cells_df(
    spark: SparkSession, where: "str | None", src: str = "embeddings"
) -> DataFrame:
    """The LSH cells relation (vec_id, label, e, sig) for the vectors
    matching ``where`` (all when None), clustered one contiguous file
    per signature bucket (~1/256th of the corpus each): the same
    write-clustering lever as the IVF build, without the salt — a bucket
    is small enough that probe parallelism comes from the verify's row
    batches, not file splits."""
    from pyspark.sql import functions as F

    from ..queries import llm_pipeline as lp

    pred = _pred(where)
    cells = spark.sql(
        f"""
        WITH sigs AS ({lp._ann_sigs_sql(_SPARK_D, _vec_posexp(pred, src))}),
        v AS (SELECT vec_id, label,
                     {_SPARK_D['farr']('embedding')} AS e
              FROM {src} WHERE {pred})
        SELECT v.vec_id, v.label, v.e, s.sig
        FROM sigs s JOIN v ON v.vec_id = s.vec_id
        """
    )
    return cells.repartition(F.col("sig"))


def build_lsh_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "lshq",
    where: "str | None" = None,
) -> str:
    """Build and persist the hyperplane-LSH serving index for
    ``sf_dir``'s embeddings: ``{prefix}_cells``, PARTITIONED BY the 8-bit
    signature with each vector's label and float payload inline — the
    single-probe counterpart of the IVF cells table. A probe reads ONLY
    the query signature's partition (1/256th of the corpus in
    expectation) and verifies exact cosine on the inline payloads with no
    join back to the embeddings table. ``where`` restricts the indexed
    corpus; grow the index later with :func:`append_lsh_index`. Returns
    the table name."""
    from ..sources import load

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    table = f"{prefix}_cells"
    _lsh_cells_df(spark, where).write.mode("overwrite").partitionBy(
        "sig"
    ).format("parquet").saveAsTable(table)
    return table


def append_lsh_index(
    spark: SparkSession, sf_dir: str, table: str, where: str
) -> None:
    """Incremental LSH index maintenance: sign ONLY the delta vectors
    (``where`` — must select vectors not already indexed) against the
    frozen plane grid and append their rows to the existing partitioned
    table; probes see base ∪ delta with no rebuild, at
    delta-proportional cost."""
    from ..sources import load

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    _lsh_cells_df(spark, where).write.mode("append").partitionBy(
        "sig"
    ).format("parquet").saveAsTable(table)


def lsh_ingest_stream(
    spark: SparkSession, embeds_dir: str, table: str, checkpoint: str
):
    """Streaming LSH index maintenance: a file-source stream over
    ``embeds_dir`` (each arriving parquet file = one micro-batch) signs
    each batch against the frozen plane grid and appends its rows to the
    persisted cells table via ``foreachBatch`` — the continuous-ingest
    form of :func:`append_lsh_index`. The table is created on the first
    batch if absent, so a stream can also build the index from scratch.
    availableNow-triggered: processes everything present, then stops —
    the same replay discipline as streaming/jobs.py, so a test can pin
    the streamed index bit-equal to a batch build. Delivery is
    at-least-once per batch (a crash between the parquet append and the
    checkpoint commit re-appends that batch on restart, leaving
    duplicate rows the probe does NOT dedup); recover with a compaction
    rebuild (`build_lsh_index`), or dedup the cells table on vec_id,
    before trusting probes after an unclean restart. Returns the
    started StreamingQuery."""
    import uuid

    schema = spark.read.parquet(embeds_dir).schema
    # Per-stream view suffix: two concurrent ingest streams in one session
    # must not stomp each other's batch view mid-query (the same fix
    # minhash_delta_pairs carries for its doc-agg view).
    stream_tag = uuid.uuid4().hex[:12]

    def _append(batch: DataFrame, _epoch_id: int) -> None:
        view = f"_lsh_ingest_batch_{stream_tag}"
        batch.createOrReplaceTempView(view)
        _lsh_cells_df(batch.sparkSession, None, src=view).write.mode(
            "append"
        ).partitionBy("sig").format("parquet").saveAsTable(table)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(embeds_dir)
        .writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def lsh_topk_indexed(
    spark: SparkSession, sf_dir: str, cells_table: str
) -> DataFrame:
    """LSH ANN top-10 from a persisted cells index — result-equal to
    `vec_topk_lsh`. The query's 8-bit signature is computed engine-side
    over the plane grid and collected (one int — the serving-path
    planning read), then the index scan carries a static ``sig = q``
    partition filter and the exact-cosine verify runs on the inline
    payloads with the registry's expressions (bit-identical)."""
    from ..queries import llm_pipeline as lp
    from ..sources import load

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    q_sigs = lp._ann_sigs_sql(_SPARK_D, _vec_posexp("vec_id = 0"))
    sigs = [r["sig"] for r in spark.sql(q_sigs).collect()]
    if len(sigs) != 1:
        raise ValueError(
            f"query vector (vec_id 0) not found in {sf_dir}'s embeddings"
        )
    [qsig] = sigs
    # the registry's verify, over the probed bucket's inline payloads
    return spark.sql(
        f"""
        WITH {lp._verify_ctes(_SPARK_D, f"{cells_table} v CROSS JOIN q "
                              f"WHERE v.sig = {qsig} AND v.vec_id != 0")}
        SELECT vec_id, label, ROUND(cos_sim, 6) AS cos_sim
        FROM sims
        ORDER BY ROUND(cos_sim, 6) DESC, vec_id
        LIMIT 10
        """
    )


def build_pq_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "pq",
    n_buckets: int = DEFAULT_BUCKETS,
    where: "str | None" = None,
) -> str:
    """Build and persist the product-quantizer code index for ``sf_dir``'s
    embeddings: ``{prefix}_codes_b`` (vec_id, codes — the compressed
    relation that stands in for the float corpus), bucketBy(vec_id).
    This is the
    PQ layout a serving tier stores at 100 TB: a fraction of the raw
    embeddings' bytes, scanned exhaustively per query, while the floats
    are touched only for the shortlist re-rank. The codes are PACKED —
    one row per vector, an 8-int array ordered by subspace — so the ADC
    scan needs no per-vector aggregation at probe time (the registry's
    long (vec_id, m, c) form pays a 40M-row group-by per probe at 5M
    vectors). ``where`` restricts the indexed corpus (the 16 codebook
    anchors, vec_id 1..16, are always read for code assignment); grow
    the index later with :func:`append_pq_index`. Returns the table
    name."""
    from ..sources import load

    _index_session_confs(spark)
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    table = f"{prefix}_codes_b"
    codes = _pq_codes_df(spark, where).repartition(n_buckets, "vec_id")
    write_bucketed(codes, table, "vec_id", n_buckets)
    return table


def _pq_codes_df(spark: SparkSession, where: "str | None") -> DataFrame:
    """The packed PQ code relation (vec_id, codes) for the vectors
    matching ``where`` (all when None). The codebook anchors (vec_id
    1..16) are included in the component scan regardless of ``where`` —
    code assignment always snaps against the frozen anchor codebook.
    The predicate may reference ANY embeddings column: it is evaluated
    once on the source scan into a ``_sel`` marker, because the exploded
    comps relation the code-assignment filter runs over only carries
    (vec_id, dim, x)."""
    from ..queries import llm_pipeline as lp

    pred = _pred(where)
    comps = (
        "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x, _sel "
        f"FROM (SELECT *, {pred} AS _sel FROM embeddings "
        f"      WHERE (vec_id BETWEEN 1 AND {lp._PQ_K}) OR {pred}) "
        "LATERAL VIEW posexplode(embedding) AS pos, x"
    )
    return spark.sql(
        f"WITH comps AS ({comps}),"
        + lp._pq_dists_sql(_SPARK_D, "WHERE _sel")
        + f""",
        codes AS ({lp._PQ_CODES_TAIL})
        SELECT vec_id,
               transform(array_sort(collect_list(struct(m, c))),
                         s -> s.c) AS codes
        FROM codes GROUP BY vec_id
        """
    )


def append_pq_index(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    where: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> None:
    """Incremental PQ index maintenance: code-assign ONLY the delta
    vectors (``where`` — must select vectors not already indexed)
    against the frozen anchor codebook and append their packed rows to
    the existing bucketed table (``n_buckets`` must match the build).
    Probes see base ∪ delta with no rebuild; each append adds one file
    per touched bucket — re-cluster by rebuilding when churn
    accumulates."""
    from ..sources import load

    _index_session_confs(spark)
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    codes = _pq_codes_df(spark, where).repartition(n_buckets, "vec_id")
    (
        codes.write.format("parquet")
        .mode("append")
        .bucketBy(n_buckets, "vec_id")
        .sortBy("vec_id")
        .saveAsTable(table)
    )


def pq_topk_indexed(
    spark: SparkSession, sf_dir: str, codes_table: str
) -> DataFrame:
    """PQ ANN top-10 from a persisted code index — result-equal to
    `vec_topk_pq`. The probe computes the query's exact ADC table against
    the 16-anchor codebook from a 17-vector scan (vec_id filter pushed to
    the embeddings footer) and COLLECTS it — 128 bigints, the serving
    path's per-query planning read, like the IVF probe-cell collect —
    then scores every vector as 8 in-scan array lookups over the packed
    code table: no join, no aggregation, one scan into a top-k
    (TakeOrderedAndProject). Only the shortlist survivors' floats are
    read, fetched by shortlist join BEFORE the posexplode, so the float
    corpus is never exploded at probe time (the session form pays that
    explode once per session to build its codes)."""
    from ..queries import llm_pipeline as lp
    from ..sources import load

    _index_session_confs(spark)
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    adc_rows = spark.sql(
        f"WITH comps AS ({_vec_posexp(f'vec_id BETWEEN 0 AND {lp._PQ_K}')}),"
        + lp._pq_dists_sql(_SPARK_D, "WHERE vec_id = 0")
        + "\n        SELECT m, c, d2 FROM dists"
    ).collect()
    if len(adc_rows) != lp._PQ_M * lp._PQ_K:
        raise ValueError(
            f"query vector (vec_id 0) or the {lp._PQ_K} codebook anchors "
            f"not found in {sf_dir}'s embeddings "
            f"({len(adc_rows)}/{lp._PQ_M * lp._PQ_K} ADC entries)"
        )
    adc = [0] * (lp._PQ_M * lp._PQ_K)
    for r in adc_rows:
        adc[r["m"] * lp._PQ_K + r["c"]] = r["d2"]
    adc_lit = "array(" + ", ".join(f"{v}L" for v in adc) + ")"
    micro = (
        "CAST(FLOOR((cv.x - qc.qx) * (cv.x - qc.qx) * 1000000.0) AS BIGINT)"
    )
    return spark.sql(
        f"""
        WITH scored AS (
          SELECT vec_id,
                 aggregate(sequence(0, {lp._PQ_M - 1}), CAST(0 AS BIGINT),
                           (acc, m) -> acc + element_at({adc_lit},
                             m * {lp._PQ_K} + element_at(codes, m + 1) + 1)
                 ) AS adc_d2_micro
          FROM {codes_table}
          WHERE vec_id != 0
        ),
        short AS (
          SELECT vec_id FROM scored
          ORDER BY adc_d2_micro, vec_id LIMIT {lp._PQ_SHORTLIST}
        ),
        qc AS (
          SELECT pos + 1 AS dim, CAST(x AS DOUBLE) AS qx
          FROM (SELECT * FROM embeddings WHERE vec_id = 0)
          LATERAL VIEW posexplode(embedding) AS pos, x
        ),
        sv AS (
          SELECT e.vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x
          FROM embeddings e JOIN short s ON s.vec_id = e.vec_id
          LATERAL VIEW posexplode(e.embedding) AS pos, x
        ),
        rerank AS (
          SELECT cv.vec_id,
                 CAST(SUM({micro}) AS BIGINT) AS l2_d2_micro
          FROM sv cv JOIN qc ON qc.dim = cv.dim
          GROUP BY cv.vec_id
        ),
        top AS (
          SELECT vec_id, l2_d2_micro FROM rerank
          ORDER BY l2_d2_micro, vec_id LIMIT 10
        )
        SELECT t.vec_id, e.label, t.l2_d2_micro
        FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
        """
    )


def embed_pairs_indexed(
    spark: SparkSession, members_table: str, bits: int
) -> DataFrame:
    """Cosine near-duplicate pairs from a persisted ANN members index —
    result-equal to `embed_neardup` over the same corpus (asserted at
    sf100 on 19.3M pairs). ``bits`` must be the band width the index was
    built with (returned by build_embed_index)."""
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    return spark.sql(
        "WITH "
        + lp._nd_tail(
            _SPARK_D,
            members_table,
            members_table,
            broadcast_cand=bits == 8,
            dense_guard=bits > 8,
            members_rel=members_table,
        )
    )


# --------------------------------------------------------------------------
# Novelty run index: incremental 8-gram novelty for arriving batches.
# --------------------------------------------------------------------------


def build_runs_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "nv",
    n_buckets: int = DEFAULT_BUCKETS,
    where: "str | None" = None,
) -> str:
    """Build and persist the novelty run index for ``sf_dir``'s documents:
    ``{prefix}_runs_b`` (h → first_doc, the min doc_id containing each
    distinct 8-gram run among the indexed docs), bucketBy(h) so the delta
    probe's join runs exchange-free on the index side. ``where`` restricts
    the indexed corpus (the already-ingested prefix). Returns the table
    name."""
    from ..queries import corpus_ext as cx
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    lp._register_docs(spark, sf_dir)
    d = _SPARK_D
    runs_t = f"{prefix}_runs_b"
    runs = spark.sql(
        cx._novelty_head(d, where)
        + f"""
        SELECT {cx._novelty_run_expr(d)} AS h,
               MIN(doc_id) AS first_doc
        FROM pos GROUP BY {cx._novelty_run_expr(d)}
        """
    ).repartition(n_buckets, "h")
    write_bucketed(runs, runs_t, "h", n_buckets)
    return runs_t


def novelty_delta(
    spark: SparkSession,
    sf_dir: str,
    runs_table: str,
    delta_where: str,
) -> DataFrame:
    """Per-document 8-gram novelty of an ARRIVING batch (docs matching
    ``delta_where``) against the persisted run index — READ-ONLY: the
    index is probed, never rewritten (folding the delta in is an index
    rebuild or append, by design, matching minhash_delta_pairs). A delta
    doc's run is novel iff NO indexed doc contains it and the doc is the
    min-doc_id delta member containing it — when the index covers every
    previously-ingested doc, this relation equals the registry's
    `ngram_novelty` restricted to the delta docs (pinned in
    test_scale_techniques.py). One delta-corpus pass: the delta explode
    feeds one hash-keyed aggregation, the index join is an equality probe
    on the bucketed h (exchange-free on the index side), the occurrence
    explode is linear."""
    from ..queries import corpus_ext as cx
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    lp._register_docs(spark, sf_dir)
    return spark.sql(
        cx._novelty_head(_SPARK_D, delta_where)
        + _novelty_probe_tail(runs_table)
    )


def _novelty_probe_tail(runs_table: str, g_rel: "str | None" = None) -> str:
    """The probe SQL after a novelty head: one hash-keyed aggregation over
    the (delta or micro-batch) runs (or a pre-materialized ``g_rel``
    (h, ds) relation), LEFT-join probe of the persisted index, linear
    occurrence explode, and the SHARED per-doc rollup
    (corpus_ext._novelty_rollup_sql) — byte-identical output contract to
    the registry's ngram_novelty by construction."""
    from ..queries import corpus_ext as cx
    from ..queries import llm_pipeline as lp

    run = cx._novelty_run_expr(_SPARK_D)
    g_cte = (
        f"g AS (SELECT h, ds FROM {g_rel})"
        if g_rel
        else f"g AS (SELECT {run} AS h, collect_set(doc_id) AS ds"
        f" FROM pos GROUP BY {run})"
    )
    return f""",
    {g_cte},
    j AS (
      SELECT g.ds, LEAST(i.first_doc, array_min(g.ds)) AS first_doc
      FROM g LEFT JOIN {runs_table} i ON i.h = g.h
    ),
    x AS (
      SELECT ds_doc AS doc_id, first_doc
      FROM j LATERAL VIEW explode(ds) AS ds_doc
    )""" + cx._novelty_rollup_sql()


def novelty_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    runs_table: str,
    out_dir: str,
    checkpoint: str,
    n_buckets: int = DEFAULT_BUCKETS,
):
    """Streaming novelty monitor + index maintenance: a file-source stream
    over ``docs_dir`` (each arriving parquet file = one micro-batch of
    documents) probes each batch's 8-gram runs against the persisted run
    index, appends the per-doc novelty rows to ``out_dir`` (the staleness
    feed a crawl scheduler consumes), then appends the batch's genuinely
    NEW runs (LEFT ANTI on the index) to the bucketed ``runs_table`` so
    the next batch is measured against everything ingested so far. The
    table is created on the first batch if absent, so a stream can build
    the index from scratch. availableNow-triggered; within-batch novelty
    uses the same min-doc_id rule as the registry query, so replaying the
    whole corpus as batches reproduces ngram_novelty's rows exactly
    (pinned in test_scale_techniques.py) as long as batches arrive in
    doc_id order (the append-only crawl contract). Delivery is
    at-least-once per batch (same caveat as lsh_ingest_stream: recover
    from an unclean restart with a `build_runs_index` rebuild before
    trusting the feed). Returns the started StreamingQuery."""
    import uuid

    from ..queries import corpus_ext as cx
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    schema = spark.read.parquet(docs_dir).schema
    d = _SPARK_D
    run = cx._novelty_run_expr(d)
    # Per-stream view suffix — same concurrent-streams fix as
    # lsh_ingest_stream / minhash_delta_pairs.
    stream_tag = uuid.uuid4().hex[:12]

    def _probe_and_append(batch: DataFrame, _epoch_id: int) -> None:
        s = batch.sparkSession
        view = f"_nv_ingest_batch_{stream_tag}"
        batch.createOrReplaceTempView(view)
        head = cx._novelty_head(d, src=view)
        if not s.catalog.tableExists(runs_table):
            empty = s.sql(
                head + f" SELECT {run} AS h, MIN(doc_id) AS first_doc"
                f" FROM pos WHERE 1 = 0 GROUP BY {run}"
            )
            write_bucketed(empty, runs_table, "h", n_buckets)
        # The batch's run aggregate feeds BOTH the feed probe and the
        # new-runs append: materialize it once (the minhash_delta_pairs
        # device — as a CTE the explode/hash pass would re-run per
        # consumer), with a per-batch view name dropped before returning.
        g_view = f"_nv_ingest_g_{stream_tag}_{_epoch_id}"
        s.sql(
            head
            + f" SELECT {run} AS h, collect_set(doc_id) AS ds"
            f" FROM pos GROUP BY {run}"
        ).localCheckpoint().createOrReplaceTempView(g_view)
        # the tail is written to follow a WITH chain; give it a no-op head
        s.sql(
            f"WITH _one AS (SELECT 1){_novelty_probe_tail(runs_table, g_view)}"
        ).write.mode("append").parquet(out_dir)
        new_runs = s.sql(
            f"""
            SELECT g.h, array_min(g.ds) AS first_doc
            FROM {g_view} g LEFT ANTI JOIN {runs_table} i ON i.h = g.h
            """
        ).repartition(n_buckets, "h")
        (
            new_runs.write.format("parquet")
            .mode("append")
            .bucketBy(n_buckets, "h")
            .sortBy("h")
            .saveAsTable(runs_table)
        )
        s.catalog.dropTempView(g_view)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(_probe_and_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Winnowing fingerprint index: MOSS candidate serving for arriving docs.
# --------------------------------------------------------------------------

# Index-side fingerprints carried by more than this many indexed documents
# are dropped from candidate generation as non-discriminative boilerplate —
# the decontam_ngram stop-gram device, and standard MOSS practice (a
# universal header's fingerprint would otherwise pair every probe doc with
# every carrier: the one quadratic this probe could have). THE constant
# lives with the oracle-pinned batch form (queries/corpus_mining.py) and
# is re-exported here so the serving probe can never apply a different
# rule than winnow_dup.
from ..queries.corpus_mining import (  # noqa: E402
    _WD_MIN_SHARED as WINNOW_MIN_SHARED,
    _WD_STOP_CAP as WINNOW_STOP_CAP,
)


def build_winnow_index(
    spark: SparkSession,
    sf_dir: str,
    prefix: str = "wn",
    n_buckets: int = DEFAULT_BUCKETS,
    where: "str | None" = None,
) -> str:
    """Build and persist the winnowing fingerprint index for ``sf_dir``'s
    documents: ``{prefix}_fp_b`` (fp, doc_id, pos — the MOSS relation the
    registry's `winnowing` query computes), bucketBy(fp) so the candidate
    probe's equality join runs exchange-free on the index side. ``where``
    restricts the indexed corpus (the already-ingested prefix). This is
    the storage half of exact-substring dedup at serving time: ~40% of
    gram positions instead of full shingle sets, with the shared-8-token-
    run detection guarantee. Returns the table name."""
    from ..queries import corpus_mining as cm
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    lp._register_docs(spark, sf_dir)
    t = f"{prefix}_fp_b"
    fp = spark.sql(
        cm._winnowing_sql(_SPARK_D, where=where)
    ).repartition(n_buckets, "fp")
    write_bucketed(fp, t, "fp", n_buckets)
    # narrow probe companion: DISTINCT (fp, doc_id), bucketed the same way
    # — the candidate probe's cap derivation and pair join read THIS
    # relation (no pos column, pre-deduped), so each probe is one
    # exchange-free per-bucket aggregation over the narrow table instead
    # of a full-width distinct over the positional index
    docs_t = f"{prefix}_fpd_b"
    fpd = (
        spark.table(t).select("fp", "doc_id").distinct()
        .repartition(n_buckets, "fp")
    )
    write_bucketed(fpd, docs_t, "fp", n_buckets)
    return t


def _winnow_docs_table(fp_table: str) -> str:
    """Naming convention tying the positional index to its narrow probe
    companion (both written by build_winnow_index / the ingest stream):
    ``{prefix}_fp_b`` → ``{prefix}_fpd_b``; any other name gets a
    ``_docs`` suffix (stream callers may pass arbitrary table names)."""
    if fp_table.endswith("_fp_b"):
        return fp_table[: -len("_fp_b")] + "_fpd_b"
    return fp_table + "_docs"


def winnow_candidates(
    spark: SparkSession,
    sf_dir: str,
    fp_table: str,
    delta_where: str,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """The MOSS detection step for an ARRIVING batch: winnow the delta
    docs (registry SQL restricted to ``delta_where``), probe the persisted
    fingerprint index by fp equality, and rank candidate pairs by the
    number of DISTINCT shared fingerprints (a fingerprint selected at
    several positions in both docs counts once — document identity, not
    repetition, is the signal). READ-ONLY against the index (folding the
    delta in is a rebuild or append, the minhash_delta_pairs contract).
    Returns (probe_doc, index_doc, shared_fps) with shared_fps >=
    ``min_shared``.

    Scale shape: the index-side boilerplate cap (WINNOW_STOP_CAP, see
    above) bounds per-fingerprint fan-out; the probe join is an equality
    join on the bucketed fp (exchange-free on the index side); the pair
    rollup is candidate-proportional — nothing is probe x index."""
    import uuid

    from ..queries import corpus_mining as cm
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    lp._register_docs(spark, sf_dir)
    view = f"_wn_delta_{uuid.uuid4().hex[:12]}"
    spark.sql(
        cm._winnowing_sql(_SPARK_D, where=delta_where)
    ).createOrReplaceTempView(view)
    df = spark.sql(
        _winnow_probe_sql(_winnow_docs_table(fp_table), view, min_shared)
    )
    spark.catalog.dropTempView(view)  # plan resolved at sql() time
    return df


def _winnow_probe_sql(fpd_table: str, delta_rel: str, min_shared: int) -> str:
    """The candidate probe over a winnowed delta relation — THE single
    definition shared by winnow_candidates and the streaming ingest so
    the serving path can never silently diverge. Reads the NARROW
    distinct (fp, doc_id) companion table: bucketed on fp, so the cap
    derivation is an exchange-free per-bucket aggregation and the pair
    join a bucket-local equality — per probe cost is one linear scan of
    the narrow relation, the same class as the novelty stream's
    per-batch index join (an exact, current cap cannot cost less)."""
    return f"""
        WITH keep AS (
          SELECT fp FROM {fpd_table}
          GROUP BY fp HAVING COUNT(*) <= {WINNOW_STOP_CAP}
        ),
        idx AS (
          SELECT i.fp, i.doc_id
          FROM {fpd_table} i JOIN keep k ON k.fp = i.fp
        ),
        d AS (SELECT DISTINCT doc_id, fp FROM {delta_rel})
        SELECT d.doc_id AS probe_doc, i.doc_id AS index_doc,
               CAST(COUNT(*) AS BIGINT) AS shared_fps
        FROM d JOIN idx i ON i.fp = d.fp
        WHERE i.doc_id != d.doc_id
        GROUP BY d.doc_id, i.doc_id
        HAVING COUNT(*) >= {min_shared}
        """


def winnow_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    fp_table: str,
    out_dir: str,
    checkpoint: str,
    n_buckets: int = DEFAULT_BUCKETS,
    min_shared: int = WINNOW_MIN_SHARED,
):
    """Streaming MOSS monitor + index maintenance: a file-source stream
    over ``docs_dir`` (each arriving parquet file = one micro-batch of
    documents) winnows each batch, probes its fingerprints against the
    persisted index (candidate pairs with >= ``min_shared`` distinct
    shared fingerprints — the dedup-candidate feed a crawl pipeline
    consumes), appends the pairs to ``out_dir``, then appends the batch's
    OWN fingerprints to the bucketed ``fp_table`` so the next batch is
    matched against everything ingested so far. The table is created on
    the first batch if absent, so a stream can build the index from
    scratch. Pairs are INDEX-facing: two docs arriving in the SAME batch
    are not paired with each other (a batch is one crawl increment;
    intra-increment dedup is the registry `winnowing` query's job) — so
    replaying a corpus one doc per batch reproduces every
    earlier-batch pair exactly (pinned in test_scale_techniques.py).
    Delivery is at-least-once per batch (the lsh_ingest_stream caveat:
    recover from an unclean restart with a `build_winnow_index` rebuild
    before trusting the feed). One reader caveat shared by ALL the
    ingest streams here: foreachBatch appends run on a CLONED
    micro-batch session, so a session that already read ``fp_table``
    keeps its cached file listing — run ``REFRESH TABLE`` (or reopen the
    session) before re-reading the index after a stream run, exactly as
    for any external writer. Returns the started StreamingQuery."""
    import uuid

    from ..queries import corpus_mining as cm
    from ..queries import llm_pipeline as lp

    _index_session_confs(spark)
    schema = spark.read.parquet(docs_dir).schema
    stream_tag = uuid.uuid4().hex[:12]

    fpd_table = _winnow_docs_table(fp_table)

    def _probe_and_append(batch: DataFrame, _epoch_id: int) -> None:
        s = batch.sparkSession
        view = f"_wn_ingest_batch_{stream_tag}"
        batch.createOrReplaceTempView(view)
        fps_view = f"_wn_ingest_fp_{stream_tag}_{_epoch_id}"
        # materialize once: the fp relation feeds the probe AND both
        # index appends (the minhash_delta_pairs device)
        s.sql(
            cm._winnowing_sql(_SPARK_D, src=view)
        ).localCheckpoint().createOrReplaceTempView(fps_view)
        if not s.catalog.tableExists(fp_table):
            empty = s.sql(f"SELECT * FROM {fps_view} WHERE 1 = 0")
            write_bucketed(empty, fp_table, "fp", n_buckets)
            write_bucketed(
                empty.select("fp", "doc_id"), fpd_table, "fp", n_buckets
            )
        s.sql(
            _winnow_probe_sql(fpd_table, fps_view, min_shared)
        ).write.mode("append").parquet(out_dir)
        for tbl, df in (
            (fp_table, s.table(fps_view)),
            # arriving docs are NEW docs (the append-only crawl contract),
            # so their distinct (fp, doc_id) rows cannot already exist in
            # the companion — a plain append keeps it exactly the DISTINCT
            # of the positional index
            (fpd_table, s.table(fps_view).select("fp", "doc_id").distinct()),
        ):
            (
                df.repartition(n_buckets, "fp")
                .write.format("parquet")
                .mode("append")
                .bucketBy(n_buckets, "fp")
                .sortBy("fp")
                .saveAsTable(tbl)
            )
        s.catalog.dropTempView(fps_view)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
        .writeStream.foreachBatch(_probe_and_append)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
