"""Training-corpus assembly operators, round 5 (EXT surface, first-class at
100 TB): context-window chunking, sequence packing, cross-split n-gram
decontamination, and cluster-bounded semantic dedup (SemDeDup-style).

These extend llm_pipeline.py with the remaining ops a pretraining-data
pipeline runs between "filtered corpus" and "training batches":

- doc_chunks     — overlapping fixed-size token windows per document (the
                   RAG / pretraining chunker). Pure row-local explode: zero
                   shuffles at any scale.
- pack_sequences — greedy concat-and-chunk packing of documents into
                   fixed-capacity context windows, parallelized by hash
                   bucket so no global coordination exists: each bucket
                   packs independently (the only window runs inside a
                   bucket), which is the property that lets 1000 executors
                   pack 100 TB without a driver-side loop.
- decontam_ngram — benchmark-decontamination: test-split documents sharing
                   a verbatim 8-token run with any train-split document.
                   Candidates come from an equality join on the run hash
                   (inverted index), never test×train; a stop-gram cap
                   keeps boilerplate runs from going quadratic.
- semdedup       — semantic near-dup pruning: every embedding is assigned
                   to its nearest coarse centroid (same determinism
                   discipline as vec_topk_ivf) and exact pairwise cosine
                   runs ONLY inside a cluster — the SemDeDup shape, where
                   candidate pairs are cluster-bounded instead of corpus-
                   quadratic. Keep-rule: a vector is dropped iff a
                   lower-id vector in ITS cluster matches at >= tau.

Design rules are inherited from llm_pipeline.py: every operator is a
dialect-shared SQL template (Spark + DuckDB oracle), floats follow the
libm/ROUND(.,6)+0.0 discipline, sums that feed decisions accumulate as
FLOOR-micro bigints, and every ordering carries a unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.detrand import lcg_uniform_sql
from ..functions.materialize import materialized
from . import _DUCK_D, _SPARK_D, _dual, register
from ._lloyd import _KM_ITERS, _km_assign_numpy, _km_cent_chain, _km_quantizer
from .llm_pipeline import (
    _ND_DUCK,
    _Q_COMPOSITE,
    _STOPWORDS,
    _indexed,
    _register_docs,
    _spark_docs,
)

# --------------------------------------------------------------------------
# doc_chunks: overlapping fixed-size token windows.
# --------------------------------------------------------------------------

_CHUNK = 64  # tokens per chunk
_STRIDE = 48  # chunk start stride (=> 16-token overlap)


def _doc_chunks_sql(d) -> str:
    ws = d["split"]("text")
    # number of chunks - 1: 0 when the doc fits in one window, else
    # ceil((n - CHUNK) / STRIDE) via integer arithmetic (exact in both
    # engines; no float division anywhere). The slice happens in the same
    # projection that exploded the chunk ids — one pipeline, no re-join.
    last_k = (
        f"CASE WHEN n <= {_CHUNK} THEN 0 "
        f"ELSE ((n - {_CHUNK} + {_STRIDE} - 1) {d['idiv']} {_STRIDE}) END"
    )
    start = f"1 + chunk_id * {_STRIDE}"
    sl = d["slice"]("ws", start, _CHUNK)
    return f"""
    WITH w AS (SELECT doc_id, {ws} AS ws FROM {d['pdocs']}),
    m AS (SELECT doc_id, ws, {d['len']('ws')} AS n FROM w),
    k AS (SELECT doc_id, ws, n, {d['expand']('0', last_k)} AS chunk_id FROM m)
    SELECT doc_id,
           CAST(chunk_id AS INT) AS chunk_id,
           CAST({start} AS INT) AS start_tok,
           CAST(LEAST({_CHUNK}, n - ({start}) + 1) AS INT) AS n_tok,
           md5({d['joinarr'](sl)}) AS chunk_fp
    FROM k
    """


_DOC_CHUNKS_SPARK, _DOC_CHUNKS_DUCK = _dual(_doc_chunks_sql)


@register("doc_chunks", _DOC_CHUNKS_DUCK)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, stride 48 =>
    16-token overlap): the pretraining/RAG chunker. Every chunk carries its
    1-based token offset, actual length (the tail chunk may be short), and
    an md5 fingerprint of its text, so chunk identity is verifiable without
    shipping the text. Chunk generation is a row-local explode over the
    pre-split word array — zero shuffles at any corpus size; at 100 TB this
    is a map-only stage whose output feeds the packer or an embedding UDF
    downstream."""
    return _spark_docs(spark, sf_dir, _DOC_CHUNKS_SPARK)


# --------------------------------------------------------------------------
# pack_sequences: bucket-parallel greedy concat-and-chunk packing.
# --------------------------------------------------------------------------

_PACK_CAP = 2048  # context-window token capacity
_PACK_BUCKETS = 64


def _pack_sql(d) -> str:
    bucket = d["bucket"]("pack")
    ws = d["split"]("text")
    seq_id = f"((cum - n) {d['idiv']} {_PACK_CAP})"
    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST({bucket} % {_PACK_BUCKETS} AS INT) AS bucket,
             {d['len'](ws)} AS n
      FROM documents
    ),
    c AS (
      SELECT bucket, doc_id, n,
             SUM(n) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT bucket,
           CAST({seq_id} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(n) AS DOUBLE) / {_PACK_CAP}.0, 6) + 0.0 AS fill_ratio
    FROM c
    GROUP BY bucket, CAST({seq_id} AS BIGINT)
    """


_PACK_SPARK, _PACK_DUCK = _dual(_pack_sql)


@register("pack_sequences", _PACK_DUCK)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy concat-and-chunk sequence packing: documents are concatenated
    in deterministic (bucket, doc_id) order and cut into 2048-token context
    windows; a document belongs to the window its first token lands in.
    Packing runs independently inside 64 md5 buckets — the scale move:
    there is NO global running sum, so 1000 executors pack 1000 buckets
    with one narrow shuffle on the bucket key and a window that never
    crosses bucket boundaries. Output is the per-window manifest (doc
    count, token count, fill ratio) a batch loader would read.
    Deterministic by construction: md5 bucketing + integer token arithmetic
    — identical across engines, re-runs, and partition counts."""
    return _spark_docs(spark, sf_dir, _PACK_SPARK)


# --------------------------------------------------------------------------
# decontam_ngram: cross-split verbatim 8-gram leakage.
# --------------------------------------------------------------------------

_DC_K = 8  # tokens per run
_DC_CAP = 1000  # stop-gram cap: runs in more docs than this are boilerplate


def _decontam_sql(d) -> str:
    bucket = d["bucket"]("split")
    ws = d["split"]("text")
    # Hash-function note: h is internal-only here, so each engine uses its
    # cheapest collision-safe form. Spark: MULTI-ARG xxhash64 over the 8
    # element_at tokens — no join-string allocation, no slice array;
    # interleaved A/B at sf0.1 beats md5-of-joined-run by ~10% every pair
    # (the earlier xxhash64-of-SLICE variant lost because it serialized
    # the array — 0.67 s vs 0.58 s — while the multi-arg form hashes the
    # strings in place). 64-bit space keeps expected collisions ~1e-7 at
    # 1M distinct runs (a collision would merge two runs and fail the
    # oracle gate visibly). Oracle keeps md5 of the joined run.
    if d is _SPARK_D:
        run = f"xxhash64({', '.join(f'element_at(ws, i + {j})' for j in range(_DC_K))})"
    else:
        run = f"md5({d['joinarr'](d['slice']('ws', 'i', _DC_K))})"
    # `runs_cte` is the only engine split in the head: Spark skips the
    # DISTINCT (the collect_set aggregate below dedups per-doc runs in the
    # same exchange, with map-side partial agg); the oracle keeps the
    # relational distinct.
    runs_cte = (
        f"rawruns AS (SELECT doc_id, split, {run} AS h FROM pos)"
        if d is _SPARK_D
        else f"runs AS (SELECT DISTINCT doc_id, split, {run} AS h FROM pos)"
    )
    head = f"""
    WITH s AS (
      SELECT doc_id, {ws} AS ws,
             CASE WHEN {bucket} % 100 < 80 THEN 'train'
                  WHEN {bucket} % 100 >= 90 THEN 'test' END AS split
      FROM {d['pdocs']}
    ),
    w AS (SELECT doc_id, split, ws FROM s
          WHERE split IS NOT NULL AND {d['len']('ws')} >= {_DC_K}),
    pos AS (SELECT doc_id, split, ws,
                   {d['expand']('1', d['len']('ws') + f' - {_DC_K - 1}')} AS i
            FROM w),
    {runs_cte}"""
    if d is _SPARK_D:
        # One aggregation does triple duty: per-doc run dedup (collect_set),
        # the stop-gram cap (HAVING on the set sizes = the distinct-doc
        # count for this run), and the test/train doc lists. No anti join,
        # and the explode pipeline feeds exactly ONE aggregate, so Catalyst
        # cannot re-run it.
        return f"""{head},
    g AS (
      SELECT h,
             collect_set(CASE WHEN split = 'test' THEN doc_id END) AS te,
             collect_set(CASE WHEN split = 'train' THEN doc_id END) AS tr
      FROM rawruns GROUP BY h
      HAVING size(collect_set(CASE WHEN split = 'test' THEN doc_id END))
             + size(collect_set(CASE WHEN split = 'train' THEN doc_id END))
             <= {_DC_CAP}
    ),
    pairs AS (
      SELECT h, te_doc, tr_doc
      FROM g LATERAL VIEW explode(te) AS te_doc LATERAL VIEW explode(tr) AS tr_doc
    )
    SELECT te_doc AS test_doc,
           COUNT(DISTINCT h) AS n_leaked_ngrams,
           COUNT(DISTINCT tr_doc) AS n_train_docs
    FROM pairs GROUP BY te_doc
    """
    # Oracle: same cap via a count window, then the plain inverted-index
    # equality join on the run hash.
    return f"""{head},
    cold AS (
      SELECT doc_id, split, h
      FROM (SELECT doc_id, split, h, COUNT(*) OVER (PARTITION BY h) AS nh
            FROM runs)
      WHERE nh <= {_DC_CAP}
    )
    SELECT te.doc_id AS test_doc,
           COUNT(DISTINCT te.h) AS n_leaked_ngrams,
           COUNT(DISTINCT tr.doc_id) AS n_train_docs
    FROM cold te JOIN cold tr ON te.h = tr.h
    WHERE te.split = 'test' AND tr.split = 'train'
    GROUP BY te.doc_id
    """


_DECONTAM_SPARK, _DECONTAM_DUCK = _dual(_decontam_sql)


@register("decontam_ngram", _DECONTAM_DUCK)
def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: test-split documents sharing a verbatim
    8-token run with any train-split document (the GPT-3/Pile-style
    n-gram overlap check), reported per test doc with the leaked-run and
    train-doc counts. Candidates come from grouping run hashes — an
    inverted index, never test×train — and a 1000-doc stop-gram cap
    drops boilerplate runs before pair expansion, so post-shuffle work is
    proportional to the leak set at any corpus size. The Spark plan runs
    the explode pipeline ONCE: a single aggregate applies the cap (HAVING)
    and collects both splits' doc lists, whose product explodes only for
    colliding hashes (same device as contamination_check)."""
    return _spark_docs(spark, sf_dir, _DECONTAM_SPARK)


# --------------------------------------------------------------------------
# bloom_decontam: Bloom-filter decontamination probe — the broadcast-bitmap
# twin of decontam_ngram for the production direction (drop TRAIN docs
# carrying held-out n-grams, the GPT-3 appendix-C sweep) at corpus scales
# where even the inverted-index join is wasteful: the eval set is small and
# fixed, so its 8-token runs compress into a Bloom bitmap that BROADCASTS
# to every scan task; the 100 TB train side never shuffles against the
# test TABLE at all, only against the ≤m-row position relation.
# --------------------------------------------------------------------------

_BLOOM_HASHES = 4  # k: disjoint 8-hex-char md5 slices → 32-bit values


def _bloom_decontam_sql(d) -> str:
    bucket = d["bucket"]("split")
    ws = d["split"]("text")
    # md5 on BOTH engines here (unlike decontam's internal xxhash64): the
    # bit POSITIONS are the cross-engine contract, so the underlying hash
    # must be dialect-portable. k=4 positions per run from disjoint
    # 8-hex-char md5 slices, reduced mod m.
    run_md5 = f"md5({d['joinarr'](d['slice']('ws', 'i', _DC_K))})"
    posj = d["hex2int"]("SUBSTR(hh, 1 + j * 8, 8)")
    hint = "/*+ BROADCAST(b) */ " if d is _SPARK_D else ""
    # m = next power of two >= 64 * distinct test grams, computed IN-SQL
    # so both engines derive the identical size at any scale: fill stays
    # ~1 - e^(-1/16) ~= 6.1%, per-gram false-positive rate ~(0.061)^4 ~=
    # 1.4e-5, so even a 10k-gram train doc has <0.1% chance of a
    # false-positive FLAG. A large m is free here: the filter relation
    # holds only the SET positions (<= 4c rows), not m bits, so the
    # sizing rule trades nothing for the 3-decades-lower FPR (8c sizing
    # measured 115 flagged train docs at sf0.01 vs 3 truly leaked —
    # per-doc FP compounds across a doc's grams; 64c flags exactly the
    # 3). GREATEST guards the empty-test-split case (m=64, empty bloom,
    # zero flags).
    return f"""
    WITH s AS (
      SELECT doc_id, {ws} AS ws,
             CASE WHEN {bucket} % 100 < 80 THEN 'train'
                  WHEN {bucket} % 100 >= 90 THEN 'test' END AS split
      FROM {d['pdocs']}
    ),
    w AS (SELECT doc_id, split, ws FROM s
          WHERE split IS NOT NULL AND {d['len']('ws')} >= {_DC_K}),
    pos AS (SELECT doc_id, split, ws,
                   {d['expand']('1', d['len']('ws') + f' - {_DC_K - 1}')} AS i
            FROM w),
    runs AS (SELECT DISTINCT doc_id, split, {run_md5} AS hh FROM pos),
    mrel AS (
      SELECT CAST(POW(2.0, CEIL(LOG2(64.0 * GREATEST(COUNT(DISTINCT hh), 1))))
                  AS BIGINT) AS m
      FROM runs WHERE split = 'test'
    ),
    texp AS (SELECT hh, {d['expand']('0', str(_BLOOM_HASHES - 1))} AS j
             FROM runs WHERE split = 'test'),
    bloom AS (SELECT DISTINCT ({posj}) % mr.m AS p
              FROM texp CROSS JOIN mrel mr),
    trexp AS (SELECT doc_id, hh, {d['expand']('0', str(_BLOOM_HASHES - 1))} AS j
              FROM runs WHERE split = 'train'),
    trp AS (SELECT DISTINCT doc_id, hh, ({posj}) % mr.m AS p
            FROM trexp CROSS JOIN mrel mr),
    hits AS (
      SELECT {hint}t.doc_id, t.hh,
             COUNT(*) AS np, COUNT(b.p) AS nm
      FROM trp t LEFT JOIN bloom b ON b.p = t.p
      GROUP BY t.doc_id, t.hh
    )
    SELECT doc_id AS train_doc,
           COUNT(*) AS n_flagged_runs
    FROM hits WHERE np = nm
    GROUP BY doc_id
    """


_BLOOM_DC_DUCK = _bloom_decontam_sql(_DUCK_D)


def _bloom_g_spark() -> str:
    """ONE corpus pass: per distinct run hash, whether the test split
    carries it and the set of train docs that do (the decontam
    single-aggregate device — collect_set dedups per-doc runs in the
    same exchange)."""
    d = _SPARK_D
    bucket = d["bucket"]("split")
    run_md5 = f"md5({d['joinarr'](d['slice']('ws', 'i', _DC_K))})"
    return f"""
    WITH s AS (
      SELECT doc_id, {d['split']('text')} AS ws,
             CASE WHEN {bucket} % 100 < 80 THEN 'train'
                  WHEN {bucket} % 100 >= 90 THEN 'test' END AS split
      FROM {d['pdocs']}
    ),
    w AS (SELECT doc_id, split, ws FROM s
          WHERE split IS NOT NULL AND {d['len']('ws')} >= {_DC_K}),
    pos AS (SELECT doc_id, split, ws,
                   {d['expand']('1', d['len']('ws') + f' - {_DC_K - 1}')} AS i
            FROM w),
    rawruns AS (SELECT doc_id, split, {run_md5} AS hh FROM pos)
    SELECT hh,
           MAX(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS in_test,
           collect_set(CASE WHEN split = 'train' THEN doc_id END) AS tr
    FROM rawruns GROUP BY hh
    """


_BLOOM_POSJ = _SPARK_D["hex2int"]("SUBSTR(hh, 1 + j * 8, 8)")

# tail over the materialized gram relation: every reference re-executes
# only the tiny checkpointed leaf, not the corpus pipeline
_BLOOM_TAIL_SPARK = f"""
    WITH mrel AS (
      SELECT CAST(POW(2.0, CEIL(LOG2(64.0 *
                  GREATEST(COALESCE(SUM(in_test), 0), 1))))
                  AS BIGINT) AS m
      FROM bloom_g
    ),
    texp AS (SELECT hh, explode(sequence(0, {_BLOOM_HASHES - 1})) AS j
             FROM bloom_g WHERE in_test = 1),
    bloom AS (SELECT DISTINCT ({_BLOOM_POSJ}) % mr.m AS p
              FROM texp CROSS JOIN mrel mr),
    trexp AS (SELECT hh, tr, explode(sequence(0, {_BLOOM_HASHES - 1})) AS j
              FROM bloom_g WHERE size(tr) > 0),
    trp AS (SELECT DISTINCT hh, ({_BLOOM_POSJ}) % mr.m AS p
            FROM trexp CROSS JOIN mrel mr),
    hits AS (
      SELECT /*+ BROADCAST(b) */ t.hh,
             COUNT(*) AS np, COUNT(b.p) AS nm
      FROM trp t LEFT JOIN bloom b ON b.p = t.p
      GROUP BY t.hh
    ),
    flagged AS (SELECT hh FROM hits WHERE np = nm)
    SELECT doc_id AS train_doc, COUNT(*) AS n_flagged_runs
    FROM (SELECT f.hh, explode(g.tr) AS doc_id
          FROM flagged f JOIN bloom_g g ON g.hh = f.hh)
    GROUP BY doc_id
"""


@register("bloom_decontam", _BLOOM_DC_DUCK)
def bloom_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: TRAIN docs whose 8-token runs probe
    positive against a Bloom bitmap of the TEST split's runs — no false
    negatives (every truly-leaked train doc is flagged), per-gram false
    positives bounded ~1.4e-5 per gram by the in-SQL sizing rule (m =
    next pow2 >= 64x distinct test grams; see _bloom_decontam_sql — the
    filter relation stores set positions, so the generous m costs no
    broadcast bytes). Complements
    decontam_ngram (per-TEST-doc exact report): this is the side you run
    over the 100 TB corpus, where the filter relation (<= min(4c, m)
    rows from a FIXED-size eval set) broadcasts to the scan and the
    train side's only shuffle is its own doc-keyed aggregate.

    Spark strategy: the corpus pipeline collapses into ONE pass (the
    decontam single-aggregate device) materialized per session —
    Catalyst inlines CTEs, so the naive single-statement form re-ran
    the scan+explode+md5 pipeline for each of its three references
    (measured 4.9 s vs ~2 s at sf0.1); the bloom/probe/flag tail runs
    over the checkpointed gram relation. The oracle keeps the plain
    single-statement form (DuckDB executes each CTE once)."""
    _register_docs(spark, sf_dir)
    g = materialized(spark, f"bloomdc|{sf_dir}", lambda: spark.sql(_bloom_g_spark()))
    g.createOrReplaceTempView("bloom_g")
    return spark.sql(_BLOOM_TAIL_SPARK)


# --------------------------------------------------------------------------
# semdedup: cluster-bounded semantic near-dup pruning.
# --------------------------------------------------------------------------

_SD_K = 32  # coarse centroids at gate scales
_SD_TAU = 0.3  # cosine keep threshold (fixture max pairwise cosine ~0.51)


def _sd_k(n_vectors: int) -> int:
    """Centroid count scaled to corpus size.

    With FIXED K, expected cluster size grows as n/K and the within-cluster
    pair stage goes quadratic (the same failure class _nd_bits fixes for
    embed_neardup's fixed band width). Scaling K ~ sqrt(n) balances the
    n×K assignment stage against the n²/K pair stage (both ~n^1.5 — the
    classic coarse-quantizer sizing rule). Gate scales (sf0.01 = 500
    vectors, sf0.1 = 5k) stay at K=32, bit-identical to the static DuckDB
    oracle; larger corpora widen where no oracle runs (the weak-scaling
    table in COVERAGE.md is the check there). The centroids are the
    TRAINED Lloyd solution at every K (_sd_assign_numpy); K changes only
    the cell count, never the relation shape (vec_id, c)."""
    if n_vectors < 20_000:
        return _SD_K
    if n_vectors < 200_000:
        return 256
    return 1024


def _sd_assign_sql(k: int = _SD_K) -> str:
    """The oracle's per-vector nearest-centroid assignment (vec_id, c) —
    the index relation. The coarse quantizer is the TRAINED Lloyd
    solution (the _km_cent_chain kmeans_embed's oracle runs, at
    semdedup's own K — VERDICT r08 item 4), so cell boundaries sit
    between real embedding clusters and the within-cluster pair stage
    sees actual near-duplicates. FLOOR-micro bigint distance sums +
    centroid-id tiebreak, train+assign in ONE declarative statement."""
    ctes, trained = _km_cent_chain(k=k, iters=_KM_ITERS, prefix="km_")
    chain = ",\n    ".join(ctes)
    return f"""
    WITH {chain},
    tcent AS ({trained}),
    comps AS ({_DUCK_D['comps']()}),
    dists AS (
      SELECT p.vec_id, ct.c,
             SUM(CAST(FLOOR((p.x - ct.w) * (p.x - ct.w) * 1000000.0) AS BIGINT)) AS d2
      FROM comps p JOIN tcent ct ON ct.dim = p.dim
      GROUP BY p.vec_id, ct.c
    ),
    ranked AS (
      SELECT vec_id, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
      FROM dists
    )
    SELECT vec_id, c FROM ranked WHERE rn = 1
    """


# Dense-cluster guard (the embed_neardup _ND_BUCKET_CAP device): CLUSTERED
# embeddings skew the coarse assignment — at the sf10 ladder tier (200k
# vectors, K=1024) the max cluster holds 6629 members and all-pairs
# generation yields 2.1×10⁸ candidates (measured; the pair sort filled the
# disk). Clusters over the cap switch from all-pairs to sorted-neighborhood
# pairing: members ordered by the exact first-dim micro projection
# (deterministic; cosine-close vectors have close projections) and paired
# only with their _SD_NEIGHBORS successors — candidates linear in cluster
# size. The guard lives in the dialect-shared template, but only the SPARK
# side enables it (the REGISTERED oracle composes _sd_tail(_DUCK_D) with
# guard=False) — past the vocab/K gate the two sides already diverge by
# design (numpy kernel, corpus-sized K vs the oracle's static K=32), so
# over-cap results are pinned by the semantics property instead: an
# over-cap blob of near-identical vectors keeps exactly one survivor
# (tests/test_corpus_ext.py). Gate fixtures sit far under the cap
# (max cluster ~30 at sf0.01), so the oracle-checked path is pure
# all-pairs there and the engines ARE identical at every checked scale.
# The cap equals the neighborhood path's per-member budget (2·_SD_NEIGHBORS
# ≈ all-pairs in a 33-member cluster), so candidate fan-out is bounded PER
# MEMBER in every cluster. The original 256 left a cliff — clusters just
# under it did all-pairs at 127 candidates/member, and at the sf100 tier
# (2M clustered vectors) near-cap clusters in aggregate explode the same
# way embed_neardup's near-cap buckets did (measured there: ~10⁹ candidate
# rows, 59 GB spill, dead job). Same invariant, same constant.
_SD_NEIGHBORS = 16
_SD_CLUSTER_CAP = 2 * _SD_NEIGHBORS + 1


def _sd_tail(d, assign: str, guard: bool = False) -> str:
    """Cluster-bounded pairwise cosine + keep/drop decision over the
    assignment relation ``assign``. Norms (and, under the guard, the
    ordering projection) are precomputed per VECTOR (the `v` relation),
    not per pair; the pair stage runs one codegen'd flat dot per
    candidate. cos = dot/(norm_a*norm_b) is the identical IEEE sequence
    in both engines.

    ``guard=False`` is the gate-scale form: plain all-pairs within each
    cluster — minimal stages, bit-exact vs the oracle. ``guard=True``
    adds the dense-cluster machinery above (csize/rank/block CTEs) —
    engaged by the Spark builder only past ~20k vectors, where its extra
    exchanges are noise but unguarded skew is fatal. Below every cap the
    two forms produce IDENTICAL results by construction."""
    e = d["farr"]("embedding")
    _blk = f"((rn - 1) {d['idiv']} {_SD_NEIGHBORS})"
    _expand_blk = d["unnest"](d["array"]("blk, blk + 1"))
    if not guard:
        return f"""
    v0 AS (SELECT vec_id, {e} AS e FROM embeddings),
    v AS (SELECT vec_id, e, SQRT({d['dot']('e', 'e')}) AS nrm FROM v0),
    pairs AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS lo,
             -- NULLIF: Spark 4 ANSI throws DIVIDE_BY_ZERO even on double
             -- division, so a zero vector would crash; NULL compares
             -- false against the keep threshold in both engines
             ROUND({d['dot']('va.e', 'vb.e')} / NULLIF(va.nrm * vb.nrm, 0.0), 6) AS rcos
      FROM {assign} a
      JOIN {assign} b ON b.c = a.c AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
    ),
    dup AS (
      SELECT vec_id, MIN(lo) AS dup_of, MAX(rcos) + 0.0 AS max_cos
      FROM pairs WHERE rcos >= {_SD_TAU}
      GROUP BY vec_id
    )
    SELECT s.vec_id,
           CAST(s.c AS INT) AS cluster_id,
           CAST(d.dup_of AS BIGINT) AS dup_of,
           d.max_cos AS max_cos,
           CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM {assign} s LEFT JOIN dup d ON d.vec_id = s.vec_id
    """
    return f"""
    v0 AS (SELECT vec_id, {e} AS e FROM embeddings),
    v AS (SELECT vec_id, e, SQRT({d['dot']('e', 'e')}) AS nrm,
                 CAST(FLOOR({d['el']('e', '1')} * 1000000.0) AS BIGINT) AS proj
          FROM v0),
    csize AS (SELECT c, COUNT(*) AS m FROM {assign} GROUP BY c),
    -- vectors attach once per MEMBER (one row per vector, ~n·0.5 KB),
    -- and the cosine computes INSIDE the c-co-partitioned self-join where
    -- wide rows are pipelined, never exchanged. The superseded shape kept
    -- candidates narrow but then joined both arrays back PER PAIR — with
    -- a per-member budget of 2·W that verify shuffle is ~n·W KB (tens of
    -- GB at the sf100 tier), the same disk-filling pattern that killed
    -- embed_neardup's separate-verify plan there.
    mem AS (
      SELECT s.vec_id, s.c, z.m, v.e, v.nrm, v.proj
      FROM {assign} s JOIN csize z ON z.c = s.c
      JOIN v ON v.vec_id = s.vec_id
    ),
    small AS (SELECT * FROM mem WHERE m <= {_SD_CLUSTER_CAP}),
    dense0 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY c ORDER BY proj, vec_id) AS rn
      FROM mem WHERE m > {_SD_CLUSTER_CAP}
    ),
    -- rank-block the neighborhood join: a bare c-equality join would
    -- enumerate every within-cluster pair (m² rows per cluster — the
    -- guard's whole point defeated) before the rn-window filter could
    -- drop them. Blocks of _SD_NEIGHBORS ranks make (c, blk) an EQUALITY
    -- key: every (a, b) with b.rn in (a.rn, a.rn + W] lives in a's block
    -- or the next one, so the a-side probes exactly two keys and the join
    -- enumerates O(m·W) pairs per cluster.
    dense AS (SELECT *, {_blk} AS blk FROM dense0),
    probe AS (SELECT *, {_expand_blk} AS jblk FROM dense),
    -- a vector lives in exactly one cluster and the two branches cover
    -- disjoint clusters, so no pair can repeat — no DISTINCT.
    -- NULLIF: Spark 4 ANSI throws DIVIDE_BY_ZERO even on double division,
    -- so a zero vector would crash; NULL compares false against the keep
    -- threshold in both engines.
    pairs AS (
      SELECT b.vec_id AS vec_id, a.vec_id AS lo,
             ROUND({d['dot']('a.e', 'b.e')} / NULLIF(a.nrm * b.nrm, 0.0), 6) AS rcos
      FROM small a JOIN small b ON b.c = a.c AND a.vec_id < b.vec_id
      UNION ALL
      SELECT GREATEST(a.vec_id, b.vec_id) AS vec_id,
             LEAST(a.vec_id, b.vec_id) AS lo,
             ROUND({d['dot']('a.e', 'b.e')} / NULLIF(a.nrm * b.nrm, 0.0), 6) AS rcos
      FROM probe a JOIN dense b
        ON b.c = a.c AND b.blk = a.jblk
       AND b.rn > a.rn AND b.rn <= a.rn + {_SD_NEIGHBORS}
    ),
    dup AS (
      SELECT vec_id, MIN(lo) AS dup_of, MAX(rcos) + 0.0 AS max_cos
      FROM pairs WHERE rcos >= {_SD_TAU}
      GROUP BY vec_id
    )
    SELECT s.vec_id,
           CAST(s.c AS INT) AS cluster_id,
           CAST(d.dup_of AS BIGINT) AS dup_of,
           d.max_cos AS max_cos,
           CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS is_kept
    FROM {assign} s LEFT JOIN dup d ON d.vec_id = s.vec_id
    """


def _sd_assign_numpy(spark: SparkSession, k: int, sf_dir: str) -> DataFrame:
    """Spark's nearest-centroid assignment (vec_id, c): the TRAINED
    quantizer (_km_quantizer at semdedup's K — K*dims planning scalars)
    broadcast to every task of one blocked-numpy Arrow assignment pass,
    the production IVF posture. The oracle's comps⋈centroids join would
    be n·dims·K rows (3×10^10 at 500k vectors, K=1024); the kernel
    computes the same FLOOR-micro bigint distances per Arrow batch, and
    its first-min argmin over ascending cluster ids is ORDER BY d2, c."""
    from ..sources import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _km_quantizer(spark, emb, k=k, iters=_KM_ITERS)
    return _km_assign_numpy(emb, cents).selectExpr("vec_id", "cluster AS c")


_SD_DUCK_ASSIGN = _sd_assign_sql()
# Compose the one-statement DuckDB twin: wrap the assignment pipeline's
# final SELECT as one more CTE and append the pair/keep tail.
_SD_CUT = _SD_DUCK_ASSIGN.rindex("SELECT vec_id, c FROM ranked")
_SEMDEDUP_DUCK = (
    _SD_DUCK_ASSIGN[:_SD_CUT]
    + ", assign AS ("
    + _SD_DUCK_ASSIGN[_SD_CUT:].rstrip()
    + "\n    ),"
    + _sd_tail(_DUCK_D, "assign")
)


@register("semdedup", _SEMDEDUP_DUCK)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic near-dup pruning: nearest-of-32
    coarse-centroid assignment against the TRAINED Lloyd quantizer
    (kmeans_embed's trainer at semdedup's own K, _sd_assign_numpy —
    cells sit between real embedding clusters), then exact pairwise
    cosine ONLY between vectors sharing a cluster. A vector is dropped
    iff some lower-id vector in its cluster matches at ROUND(cos,6) >=
    0.3; the output keeps
    every vector with its cluster, verdict, and (for drops) the witness
    vector and similarity. Candidate pairs are cluster-bounded — K scales
    ~sqrt(n) with corpus size (see _sd_k; parquet footer row count, no
    job), so the pair stage never goes corpus-quadratic; the assignment
    relation materializes once per session (the artifact a pipeline would
    persist) and the pair join + verify read only it and the candidates'
    embeddings."""
    from ..functions.materialize import materialized
    from ..sources import load, table_rows

    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    k = _sd_k(table_rows(sf_dir, "embeddings"))
    materialized(
        spark, f"semdedup_assign|{k}|{sf_dir}",
        lambda: _sd_assign_numpy(spark, k, sf_dir),
    ).createOrReplaceTempView("semdedup_assign")
    # the guard engages past gate scales only: below them the
    # dense-cluster machinery is pure stage overhead (no fixture cluster
    # nears the cap, results identical by construction)
    return spark.sql(
        "WITH "
        + _sd_tail(_SPARK_D, "semdedup_assign", guard=k > _SD_K).lstrip()
    )


# --------------------------------------------------------------------------
# domain_mix: temperature-weighted source mixture (sampling-weight table).
# --------------------------------------------------------------------------

_MIX_ALPHA = 0.5  # temperature exponent: w ∝ n_tokens^alpha (sqrt smoothing)


def _w_micro_sql(col: str) -> str:
    """THE temperature-weight quantization — libm POWER snapped to 9
    decimals (the char_entropy device) before FLOOR-micro. Shared by
    domain_mix (the published mix_weight) and token_budget_sample (the
    materialized budgets), so the two tables a loader consumes can never
    disagree on a source's weight."""
    return (
        f"CAST(FLOOR(ROUND(POWER(CAST({col} AS DOUBLE), {_MIX_ALPHA}), 9)"
        f" * 1000000.0) AS BIGINT)"
    )


def _domain_mix_sql(d) -> str:
    # One corpus pass: per-source token totals (partial agg → one tiny
    # exchange of ~n_sources rows per partition), then the share/weight
    # arithmetic runs as windows OVER () on the tiny per-source relation —
    # a scalar-subquery/CTE form would be inlined by Spark into every
    # reference and re-run the corpus scan per reference.
    #
    # Determinism: n_tokens sums exact BIGINTs; token_share divides two
    # identical exact-int-derived doubles (same op, same operands → bit-
    # identical, no ROUND needed); the libm POWER for the temperature
    # weight is snapped to 9 decimals before FLOOR-micro quantization (the
    # char_entropy device), so the weight sums and every derived ratio are
    # exact-integer arithmetic over identical inputs in both engines.
    ws = d["split"]("text")
    w_micro = _w_micro_sql("n_tokens")
    return f"""
    WITH per_src AS (
      SELECT source,
             COUNT(*) AS n_docs,
             CAST(SUM({d['len'](ws)}) AS BIGINT) AS n_tokens
      FROM {d['pdocs']}
      GROUP BY source
    ),
    w AS (SELECT source, n_docs, n_tokens, {w_micro} AS w_micro FROM per_src)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           n_tokens,
           CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE)
             AS token_share,
           CAST(w_micro AS DOUBLE) / CAST(SUM(w_micro) OVER () AS DOUBLE)
             AS mix_weight,
           CAST(FLOOR(CAST(w_micro AS DOUBLE) * 1000000.0
                      / CAST(SUM(w_micro) OVER () AS DOUBLE)) AS BIGINT)
             AS tokens_per_million
    FROM w
    """


_MIX_SPARK, _MIX_DUCK = _dual(_domain_mix_sql)


@register("domain_mix", _MIX_DUCK)
def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixture reweighting table: per-source doc/token counts, the
    corpus token share, and a temperature-smoothed sampling weight
    w ∝ n_tokens^0.5 (the standard move that keeps a 100:1 web:books corpus
    from drowning the small high-quality sources), plus the integer token
    budget per million sampled tokens that weight implies. This is the
    table a training-data loader consumes to draw mixture batches.
    One corpus pass at any scale: the heavy stage is the per-source token
    count (map-side partials → ~n_sources rows shuffled); everything after
    runs on a relation the size of the source list."""
    return _spark_docs(spark, sf_dir, _MIX_SPARK)


# --------------------------------------------------------------------------
# length_percentiles: per-source sequence-length distribution (exact).
# --------------------------------------------------------------------------


def _length_pct_sql(d) -> str:
    # Exact order statistics by INTEGER rank arithmetic: the q-quantile is
    # the ceil(q·n)-th smallest, with ceil done in pure integer math
    # (ceil(k·n/m) = (k·n + m - 1) DIV m) — no percentile_cont/disc, whose
    # interpolation rules differ per engine, and no float ranks at all.
    # One window shuffle on source; ordering ties broken by doc_id, which
    # cannot change the VALUE at a fixed rank (equal n's are
    # interchangeable), only stabilize row order.
    ws = d["split"]("text")
    idx = lambda k, m: f"((cnt * {k} + {m - 1}) {d['idiv']} {m})"  # noqa: E731
    pick = lambda e: f"CAST(MAX(CASE WHEN rk = {e} THEN n END) AS BIGINT)"  # noqa: E731
    return f"""
    WITH t AS (SELECT source, doc_id, {d['len'](ws)} AS n FROM {d['pdocs']}),
    r AS (
      SELECT source, n,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS cnt
      FROM t
    )
    SELECT source,
           CAST(MAX(cnt) AS BIGINT) AS n_docs,
           {pick('1')} AS min_tokens,
           {pick(idx(1, 2))} AS p50_tokens,
           {pick(idx(9, 10))} AS p90_tokens,
           {pick(idx(99, 100))} AS p99_tokens,
           {pick('cnt')} AS max_tokens
    FROM r GROUP BY source
    """


_LENPCT_DUCK = _length_pct_sql(_DUCK_D)


def _length_pct_hist_sql(d) -> str:
    # The SCALE form of the same exact statistic (round 7): token counts
    # are small integers, so a count-by-value HISTOGRAM gives the exact
    # quantiles with state proportional to DISTINCT lengths, not docs —
    # the partial hash aggregate shrinks each task's output to its
    # distinct (source, n) pairs before the exchange, and the rank window
    # then runs over the histogram rows only. At 100 TB the naive form
    # sorts every document inside its source partition; this form sorts
    # ~thousands of histogram rows. Value at rank r = MIN(n) with
    # cumulative count >= r; identical integer arithmetic, so the naive
    # DuckDB oracle stays the independent check.
    ws = d["split"]("text")
    idx = lambda k, m: f"((cnt * {k} + {m - 1}) {d['idiv']} {m})"  # noqa: E731
    pick = lambda e: f"CAST(MIN(CASE WHEN cum >= {e} THEN n END) AS BIGINT)"  # noqa: E731
    return f"""
    WITH h AS (
      SELECT source, {d['len'](ws)} AS n, COUNT(*) AS c
      FROM {d['pdocs']}
      GROUP BY source, {d['len'](ws)}
    ),
    r AS (
      SELECT source, n,
             SUM(c) OVER (PARTITION BY source ORDER BY n
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(c) OVER (PARTITION BY source) AS cnt
      FROM h
    )
    SELECT source,
           CAST(MAX(cnt) AS BIGINT) AS n_docs,
           {pick('1')} AS min_tokens,
           {pick(idx(1, 2))} AS p50_tokens,
           {pick(idx(9, 10))} AS p90_tokens,
           {pick(idx(99, 100))} AS p99_tokens,
           {pick('cnt')} AS max_tokens
    FROM r GROUP BY source
    """


_LENPCT_SPARK = _length_pct_hist_sql(_SPARK_D)


@register("length_percentiles", _LENPCT_DUCK)
def length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sequence-length distribution — min/p50/p90/p99/max token
    counts, the table that sizes context windows, packing capacity, and
    truncation budgets before a training run. Exact order statistics via
    integer rank arithmetic (engine-identical by construction, unlike
    percentile_cont interpolation). The Spark plan is the HISTOGRAM form
    (_length_pct_hist_sql): map-side partial counts shrink the exchange
    to distinct (source, n) pairs and the rank window runs over histogram
    rows, not documents — exact at every scale with distinct-value-
    bounded state (the honest version of 'swap to a sketch at scale':
    integer-valued statistics don't need approximation). The DuckDB
    oracle keeps the naive every-row rank form (_length_pct_sql) as the
    independent definition; tests additionally pin the two Spark forms
    row-equal and the values against a plain-numpy rank reimpl."""
    return _spark_docs(spark, sf_dir, _LENPCT_SPARK)


# --------------------------------------------------------------------------
# bpe_pairs: top adjacent-token pair counts (the first BPE merge iteration).
# --------------------------------------------------------------------------


def _bpe_pairs_sql(d) -> str:
    # Adjacent-token pairs via a positional explode over each doc's word
    # array — one corpus pass, map-side partial counts, one pair-keyed
    # exchange of per-partition distinct pairs, TakeOrdered top-k. This is
    # the inner statistic of BPE/WordPiece vocabulary induction: the
    # highest-count pair is the next merge. All-integer output with a
    # (count DESC, pair) tiebreak — engine-identical by construction.
    ws = d["split"]("text")
    return f"""
    WITH w AS (SELECT {ws} AS ws FROM {d['pdocs']}),
    pairs AS (
      SELECT CONCAT({d['el']('ws', 'i')}, ' ', {d['el']('ws', 'i + 1')}) AS pair
      FROM (SELECT ws, {d['expand']('1', d['len']('ws') + ' - 1')} AS i FROM w
            WHERE {d['len']('ws')} >= 2) t
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """


_BPE_SPARK, _BPE_DUCK = _dual(_bpe_pairs_sql)


@register("bpe_pairs", _BPE_DUCK)
def bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token pairs by corpus count — the statistic that
    drives BPE/WordPiece vocabulary induction (the argmax pair is the
    next merge; iterating this query IS tokenizer training). One corpus
    pass: positional explode → map-side partial counts → pair-keyed
    exchange of per-partition-distinct pairs → TakeOrderedAndProject.
    At 100 TB the shuffle is vocabulary²-bounded (distinct pairs), not
    token-bounded, and the top-k never materializes a global sort."""
    return _spark_docs(spark, sf_dir, _BPE_SPARK)


# --------------------------------------------------------------------------
# bpe_encode: merge-table APPLICATION (round 8) — bpe_pairs computes the
# merge statistic; this applies a priority-ranked merge table to every
# document's token stream, the actual tokenization step a training
# pipeline runs between curation and packing (pack_sequences' input).
# --------------------------------------------------------------------------

_BPE_ENC_MERGES = 8


def _bpe_encode_sql(d) -> str:
    # Merge table: the top-_BPE_ENC_MERGES adjacent-token pairs by
    # (count DESC, pair) — bpe_pairs' statistic, rank = merge priority.
    # Application: each document's token stream is rendered as a string
    # with a DOUBLED chr(1) boundary between tokens (and at both ends);
    # merge k then becomes ONE engine-side REPLACE of
    #   chr(1)·a·chr(1)chr(1)·b·chr(1)  →  chr(1)·a·' '·b·chr(1)
    # — the doubled boundary means consecutive matches each retain a
    # boundary char for the scanner, so one REPLACE performs exactly the
    # left-to-right non-overlapping pass BPE-apply specifies ("a a a"
    # under merge (a,a) → ["a a", "a"], pinned by the reimpl test), and
    # both engines' REPLACE resumes scanning after the replacement, never
    # inside it. Merges apply in rank order (priority), so a rank-1 merge
    # consumes tokens a rank-2 merge would have used — BPE's tie rule.
    # On the DUCK side the merge table rides into the expression as
    # scalar subqueries (DuckDB materializes a multiply-referenced CTE);
    # the SPARK side inlines the eight (a, b) pairs as string LITERALS
    # instead — Spark re-plans an inlined CTE per scalar-subquery
    # consumer, so the subquery form re-ran the pair aggregation 16×
    # (measured 30.7 s vs 2.5 s at sf0.01). The literal table comes from
    # one vocabulary²-bounded job collected as 8 planning-scalar rows
    # (the neardup_index probe-cell precedent) in bpe_encode() below.
    # COALESCE guards a sub-8-pair corpus (chr(2) can never match:
    # tokens are space-split text, the boundary is chr(1)).
    ws = d["split"]("text")
    join, resplit = d["joinarr"], d["split"]
    b2 = "CONCAT(chr(1), chr(1))"  # token boundary (doubled)
    enc = f"CONCAT({b2}, {join('ws', b2)}, {b2})"
    for k in range(1, _BPE_ENC_MERGES + 1):
        pat = (
            f"(SELECT CONCAT(chr(1), a, {b2}, b, chr(1)) "
            f"FROM merges WHERE rk = {k})"
        )
        rep = (
            f"(SELECT CONCAT(chr(1), a, ' ', b, chr(1)) "
            f"FROM merges WHERE rk = {k})"
        )
        enc = (
            f"REPLACE({enc}, COALESCE({pat}, chr(2)), COALESCE({rep}, ''))"
        )
    return f"""
    WITH w AS (SELECT doc_id, {ws} AS ws FROM {d['pdocs']}
               WHERE text IS NOT NULL),
    {_bpe_merges_cte(d)},
    encoded AS (SELECT doc_id, {enc} AS enc FROM w),
    stats AS (
      SELECT doc_id,
             CAST({d['len'](resplit('enc', b2))} - 2 AS BIGINT)
               AS n_bpe_tokens,
             md5(enc) AS enc_hash
      FROM encoded
    )
    SELECT d.doc_id,
           CAST({d['len'](d['split']('d.text'))} AS BIGINT) AS n_tokens,
           s.n_bpe_tokens,
           s.enc_hash
    FROM {d['pdocs']} d LEFT JOIN stats s ON s.doc_id = d.doc_id
    """


def _bpe_merges_cte(d) -> str:
    """The ranked merge-table CTEs (pairs + merges) over the ``w``
    token-array relation — shared by the oracle's one-statement form and
    the Spark side's collect-then-inline build."""
    return f"""pairs AS (
      SELECT {d['el']('ws', 'i')} AS a, {d['el']('ws', 'i + 1')} AS b
      FROM (SELECT ws, {d['expand']('1', d['len']('ws') + ' - 1')} AS i
            FROM w WHERE {d['len']('ws')} >= 2) t
    ),
    merges AS (
      SELECT a, b, ROW_NUMBER() OVER (ORDER BY n DESC, a, b) AS rk
      FROM (SELECT a, b, COUNT(*) AS n FROM pairs GROUP BY a, b
            ORDER BY n DESC, a, b LIMIT {_BPE_ENC_MERGES}) g
    )"""


def _sql_str(s: str) -> str:
    """A standard-SQL single-quoted literal for ``s`` (quote doubling —
    both engines; no backslash escapes, Spark treats those literally only
    under ANSI mode)."""
    return "'" + s.replace("'", "''") + "'"


def _bpe_encode_spark_sql(
    merges: "list[tuple[str, str]]", carry: "tuple[str, ...]" = ()
) -> str:
    """The Spark apply plan with the merge table inlined as LITERALS:
    one corpus pass of chained REPLACEs, no subqueries, no re-planned
    CTEs. ``merges`` is rank-ordered. ``carry``: extra ``d.``-qualified
    select items for composers (tokenizer_stats carries lang/n_chars so
    it needn't join documents a second time — r10 optimization);
    bpe_encode itself always calls with carry=() so its declared
    projection is byte-identical to the attested form."""
    d = _SPARK_D
    b1, b2 = "\x01", "\x01\x01"
    carry_cols = "".join(f",\n           {c}" for c in carry)
    enc = f"CONCAT({_sql_str(b2)}, array_join(ws, {_sql_str(b2)}), {_sql_str(b2)})"
    for a, b in merges:
        pat = _sql_str(b1 + a + b2 + b + b1)
        rep = _sql_str(b1 + a + " " + b + b1)
        enc = f"REPLACE({enc}, {pat}, {rep})"
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}
               WHERE text IS NOT NULL),
    encoded AS (SELECT doc_id, {enc} AS enc FROM w),
    stats AS (
      SELECT doc_id,
             CAST(size(split(enc, {_sql_str(b2)})) - 2 AS BIGINT)
               AS n_bpe_tokens,
             md5(enc) AS enc_hash
      FROM encoded
    )
    SELECT d.doc_id,
           CAST(size({d['split']('d.text')}) AS BIGINT) AS n_tokens,
           s.n_bpe_tokens,
           s.enc_hash{carry_cols}
    FROM {d['pdocs']} d LEFT JOIN stats s ON s.doc_id = d.doc_id
    """


_BPE_ENC_DUCK = _bpe_encode_sql(_DUCK_D)
_BPE_MERGES_SPARK = (
    f"WITH w AS (SELECT doc_id, {_SPARK_D['split']('text')} AS ws "
    f"FROM {_SPARK_D['pdocs']} WHERE text IS NOT NULL),\n"
    + _bpe_merges_cte(_SPARK_D)
    + "\nSELECT a, b FROM merges ORDER BY rk"
)


def _bpe_merges(spark: SparkSession, sf_dir: str) -> "list[tuple[str, str]]":
    """The corpus's rank-ordered BPE merge table as driver-side planning
    scalars — session-memoized (one vocab²-bounded job per (session,
    corpus)). The ONE collection point for every merge-table consumer
    (bpe_encode, tokenizer_stats): the key, rank ordering and row shape
    are the merge discipline, and duplicating the collect at call sites
    lets them silently drift apart."""
    from .llm_pipeline import _indexed

    return [
        (r.a, r.b)
        for r in _indexed(
            spark, f"bpe_merges|{sf_dir}", _BPE_MERGES_SPARK
        ).collect()
    ]


@register("bpe_encode", _BPE_ENC_DUCK)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: BPE merge-table APPLICATION — induce the top-8 merge
    table from the corpus (bpe_pairs' statistic, rank = priority), then
    encode every document: merges apply in rank order, each as one
    left-to-right non-overlapping pass over the token stream (the
    standard BPE-apply discipline; a higher-priority merge consumes the
    tokens a lower one would have used). Returns doc_id, n_tokens
    (whitespace grain, the pack_sequences input unit today),
    n_bpe_tokens (after merging — what packing SHOULD budget on), and
    enc_hash (md5 of the boundary-joined encoded stream — value-hashes
    the exact token sequence without shipping it). One row per input
    doc; NULL text passes through with NULL signals.

    Scale shape: the merge table is one vocabulary²-bounded job LIMITed
    to 8 rows, collected as planning scalars (the neardup_index
    probe-cell precedent) and inlined into the apply plan as string
    literals — Spark re-plans an inlined CTE per scalar-subquery
    consumer, so the one-statement form re-ran the pair aggregation 16×
    (measured 30.7 s vs ~3 s at sf0.01); application is then ONE corpus
    pass of chained engine-side REPLACEs (whole-stage codegen, no
    Python, no per-token explode on the apply side); nothing
    fact-proportional shuffles. Pinned row-equal to an independent
    python BPE-apply reimpl (tests/test_corpus_ext.py), including the
    overlapping-run and merge-priority cases."""
    _register_docs(spark, sf_dir)
    # session-materialized like vec_topk_pq's ADC table: the merge table
    # is a planning-scalar read per call, but its vocab²-bounded job
    # should run once per (session, corpus), not once per invocation
    return spark.sql(_bpe_encode_spark_sql(_bpe_merges(spark, sf_dir)))


# --------------------------------------------------------------------------
# bpe_train: iterative BPE vocabulary INDUCTION (round 8) — the real
# training loop: select the argmax adjacent pair, merge it everywhere,
# RECOUNT over the merged stream, repeat. bpe_pairs is iteration 1's
# statistic; bpe_encode applies a static table; this produces the table
# the way tokenizer training actually does (merged tokens can join later
# pairs — "a b" + "c" is selectable at rank 3 only after rank-1 merged
# (a, b), which no single-pass count can see).
# --------------------------------------------------------------------------

_BPE_TRAIN_ROUNDS = 8


def _bpe_train_pairs_over(d, enc_rel: str) -> str:
    """Adjacent-pair counts over a boundary-joined encoded relation
    ``enc_rel`` (doc_id, enc): re-split on the doubled chr(1) boundary
    (dropping the leading/trailing empties), positional-explode, count.
    The argmax row under (n DESC, a, b) is the round's merge."""
    b2 = "CONCAT(chr(1), chr(1))"
    resplit = d["inner"](d["split"]("enc", b2))
    return f"""
      SELECT {d['el']('ws', 'i')} AS a, {d['el']('ws', 'i + 1')} AS b,
             COUNT(*) AS n
      FROM (SELECT ws, {d['expand']('1', d['len']('ws') + ' - 1')} AS i
            FROM (SELECT {resplit} AS ws FROM {enc_rel}) t0
            WHERE {d['len']('ws')} >= 2) t
      GROUP BY a, b
      ORDER BY n DESC, a, b
      LIMIT 1"""


def _bpe_train_duck() -> str:
    """The oracle as {_BPE_TRAIN_ROUNDS} mechanically-unrolled CTE
    layers: e0 = boundary-joined corpus; p{k} = argmax pair over
    e{k-1}; e{k} = e{k-1} with p{k} merged (the same doubled-boundary
    REPLACE as bpe_encode); result = UNION ALL of the p{k} rows with
    their ranks. A layer whose corpus has no pairs left yields an empty
    p{k}, a no-op REPLACE (COALESCE to the unmatchable chr(2)), and no
    output row — the Spark loop breaks at the same point. Every CTE is
    AS MATERIALIZED (DuckDB syntax — this string only ever runs there):
    each e{k} is referenced twice (by p{k+1} and e{k+1}), so inlining
    doubles the work per level — 2^8 corpus explodes, measured minutes;
    materialized, the whole chain is 0.16 s at sf0.01."""
    d = _DUCK_D
    b2 = "CONCAT(chr(1), chr(1))"
    ctes = [
        f"e0 AS MATERIALIZED (SELECT doc_id, CONCAT({b2}, "
        f"array_to_string({d['split']('text')}, {b2}), {b2}) AS enc "
        f"FROM documents WHERE text IS NOT NULL)"
    ]
    selects = []
    for k in range(1, _BPE_TRAIN_ROUNDS + 1):
        ctes.append(
            f"p{k} AS MATERIALIZED ({_bpe_train_pairs_over(d, f'e{k - 1}')}\n    )"
        )
        pat = (
            f"COALESCE((SELECT CONCAT(chr(1), a, {b2}, b, chr(1)) "
            f"FROM p{k}), chr(2))"
        )
        rep = (
            f"COALESCE((SELECT CONCAT(chr(1), a, ' ', b, chr(1)) "
            f"FROM p{k}), '')"
        )
        ctes.append(
            f"e{k} AS MATERIALIZED (SELECT doc_id, "
            f"REPLACE(enc, {pat}, {rep}) AS enc FROM e{k - 1})"
        )
        selects.append(
            f"SELECT CAST({k} AS BIGINT) AS rk, a, b, "
            f"CAST(n AS BIGINT) AS n FROM p{k}"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


@register("bpe_train", _bpe_train_duck())
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: iterative BPE vocabulary induction — {R} rounds of
    (argmax adjacent pair → merge everywhere → RECOUNT), returning the
    merge table (rk, a, b, n-at-selection). This is tokenizer TRAINING:
    unlike bpe_pairs' single-pass statistic, later rounds count pairs
    involving already-merged tokens, so the table can contain merges like
    ("a b", "c") that no one-shot count sees. Ties break (n DESC, a, b)
    — deterministic across engines.

    Scale shape: {R} driver-coordinated rounds (the dedup_clusters /
    connected-components exception class), each collecting exactly ONE
    scalar row (the argmax pair) from a vocabulary²-bounded aggregate
    LIMIT 1 — the per-round job is a corpus token pass with map-side
    partial counts, and the merge application stacks as engine-side
    REPLACEs on the lazy lineage (map-only, no materialization; round k
    re-executes k cheap REPLACE passes rather than checkpointing the
    corpus {R} times, the right trade at 100 TB where the corpus dwarfs
    the recompute). Pinned against an independent python BPE-training
    reimpl (tests/test_corpus_ext.py).""".replace(
        "{R}", str(_BPE_TRAIN_ROUNDS)
    )
    from ..functions.materialize import materialized

    _register_docs(spark, sf_dir)

    def _train() -> DataFrame:
        d = _SPARK_D
        b1, b2l = "\x01", "\x01\x01"
        enc = (
            f"CONCAT({_sql_str(b2l)}, array_join({d['split']('text')}, "
            f"{_sql_str(b2l)}), {_sql_str(b2l)})"
        )
        base = (
            f"SELECT doc_id, {enc} AS enc FROM {d['pdocs']} "
            f"WHERE text IS NOT NULL"
        )
        rows = []
        enc_rel = f"({base})"
        for k in range(1, _BPE_TRAIN_ROUNDS + 1):
            got = spark.sql(
                "SELECT a, b, n FROM ("
                + _bpe_train_pairs_over(d, enc_rel)
                + ")"
            ).collect()
            if not got:
                break
            a, b, n = got[0].a, got[0].b, got[0].n
            rows.append((k, a, b, n))
            pat = _sql_str(b1 + a + b2l + b + b1)
            rep = _sql_str(b1 + a + " " + b + b1)
            enc_rel = (
                f"(SELECT doc_id, REPLACE(enc, {pat}, {rep}) AS enc "
                f"FROM {enc_rel} _e{k})"
            )
        return spark.createDataFrame(
            rows, "rk bigint, a string, b string, n bigint"
        )

    # The trained table is deterministic per corpus — build once per
    # (session, corpus) and serve the materialized relation thereafter,
    # the same posture as the PQ/LSH session indexes (at cluster scale:
    # train once, persist the table, every encoder reads it).
    return materialized(spark, f"bpe_train|{sf_dir}", _train)


# --------------------------------------------------------------------------
# pack_bpe: sequence packing budgeted on MERGED tokens (round 8) —
# pack_sequences counts whitespace tokens, but a context window holds
# post-tokenizer units; this is the same packing rule re-based on
# bpe_encode's n_bpe_tokens, composing the two steps the way a training
# pipeline actually chains them (encode → pack).
# --------------------------------------------------------------------------


def _pack_bpe_tail(d, enc_rel: str) -> str:
    """The pack_sequences rule over an encoded relation carrying
    (doc_id, n_bpe_tokens) — identical md5 bucketing / cumsum / window
    arithmetic, n = merged-token count."""
    bucket = d["bucket"]("pack")
    seq_id = f"((cum - n) {d['idiv']} {_PACK_CAP})"
    return f"""
    t AS (
      SELECT doc_id,
             CAST({bucket} % {_PACK_BUCKETS} AS INT) AS bucket,
             n_bpe_tokens AS n
      FROM {enc_rel}
    ),
    c AS (
      SELECT bucket, doc_id, n,
             SUM(n) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT bucket,
           CAST({seq_id} AS BIGINT) AS seq_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(n) AS DOUBLE) / {_PACK_CAP}.0, 6) + 0.0 AS fill_ratio
    FROM c
    GROUP BY bucket, CAST({seq_id} AS BIGINT)
    """


_PACK_BPE_DUCK = (
    f"WITH enc AS (SELECT * FROM ( {_BPE_ENC_DUCK} ) e0),"
    + _pack_bpe_tail(_DUCK_D, "enc")
)


@register("pack_bpe", _PACK_BPE_DUCK)
def pack_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: sequence packing on MERGED-token counts — the encode→pack
    composition a training pipeline runs: bpe_encode supplies each doc's
    post-merge token count and pack_sequences' exact rule (md5 buckets,
    deterministic doc order, integer cumsum windows at 2048) cuts the
    context windows a loader would fill. Same manifest schema as
    pack_sequences; the merged counts are smaller, so windows hold more
    documents — the fill-ratio delta between the two entries IS the
    compression the tokenizer buys. A NULL-text doc carries a NULL count
    into a NULL seq, exactly as pack_sequences treats it.

    Scale shape: bpe_encode's one map-only apply pass feeds the packing
    window; packing itself stays 64-way bucket-parallel (no global
    running sum). The Spark side reuses the registry bpe_encode plan via
    a temp view so the two entries can never desync."""
    import uuid

    # per-call view name: two concurrent builds in one session must not
    # stomp each other's relation (the lsh_ingest_stream precedent)
    view = f"_pack_bpe_enc_{uuid.uuid4().hex[:12]}"
    bpe_encode(spark, sf_dir).createOrReplaceTempView(view)
    df = spark.sql("WITH " + _pack_bpe_tail(_SPARK_D, view))
    spark.catalog.dropTempView(view)  # plan resolved at sql() time
    return df


# --------------------------------------------------------------------------
# perplexity_buckets: CCNet-style head/middle/tail quality split (round 8)
# — per-language terciles of unigram cross-entropy (Wenzek et al. 2020:
# docs closest to the reference LM are "head"). unigram_xent supplies the
# engine-identical micro-nat score; the split is exact integer rank
# arithmetic, so the bucket labels are bit-stable across engines.
# --------------------------------------------------------------------------


def _ppl_buckets_tail(d, xent_rel: str) -> str:
    return f"""
    j AS (
      SELECT d.doc_id, d.lang, x.xent_nats
      FROM documents d JOIN {xent_rel} x ON x.doc_id = d.doc_id
    ),
    r AS (
      SELECT doc_id, lang, xent_nats,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY xent_nats, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS cnt
      FROM j
    )
    SELECT doc_id, lang, xent_nats,
           CASE WHEN rk * 3 <= cnt THEN 'head'
                WHEN rk * 3 <= 2 * cnt THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM r
    """


def _ppl_buckets_duck() -> str:
    from .llm_pipeline import _XENT_DUCK

    return (
        f"WITH x0 AS (SELECT * FROM ( {_XENT_DUCK} ) xq),"
        + _ppl_buckets_tail(_DUCK_D, "x0")
    )


@register("perplexity_buckets", _ppl_buckets_duck())
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: CCNet-style head/middle/tail split — per-language
    terciles of each document's cross-entropy under the corpus unigram LM
    (the published CCNet move: keep "head", down-weight "tail"). Rides
    unigram_xent's micro-nat-exact score (bit-identical across engines),
    so the tercile boundary — exact integer rank arithmetic with a doc_id
    tiebreak — can never straddle an engine-divergent value. Docs with no
    tokens (NULL text) have no LM score and no bucket, as in CCNet.

    Scale shape: xent's one-corpus-pass broadcast-vocab plan (_vocab_sql
    strips the hint past the vocab threshold) plus ONE lang-keyed
    window exchange over doc-proportional rows; at 100 TB the window
    partitions by language — the natural corpus shard key — and the rank
    is a streaming frame. The per-doc score relation is
    session-materialized (the pipeline posture: LM quality signals are
    computed once and persisted as a table every downstream selector
    reads — here the session-index analog of that table)."""
    import uuid

    from .llm_pipeline import _XENT_SPARK, _vocab_sql

    _register_docs(spark, sf_dir)
    view = f"_ppl_xent_{uuid.uuid4().hex[:12]}"
    _indexed(
        spark, f"pplxent|{sf_dir}", _vocab_sql(sf_dir, _XENT_SPARK)
    ).createOrReplaceTempView(view)
    df = _spark_docs(
        spark, sf_dir, "WITH " + _ppl_buckets_tail(_SPARK_D, view)
    )
    spark.catalog.dropTempView(view)  # plan resolved at sql() time
    return df


# --------------------------------------------------------------------------
# gopher_rules: the published Gopher document-quality gates (Rae et al.
# 2021, Appendix A) as per-document boolean flags + overall keep.
# --------------------------------------------------------------------------

_GOPHER_STOPS = "('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with')"


def _gopher_sql(d) -> str:
    ws = d["split"]("text")
    lines = d["split"]("text", d["nl"])
    alpha = f"w -> {d['rlike']('w', '[A-Za-z]')}"
    bullets = (
        f"x -> {d['startswith']}(x, '- ') OR {d['startswith']}(x, '* ')"
    )
    ell_line = f"x -> {d['endswith']}(x, '...')"
    intersect = d["intersect"]
    distinct = d["distinct"]
    ln = d["len"]
    filt = d["filter"]
    stops = d["array"](_GOPHER_STOPS[1:-1])
    # Every ratio below is a quotient of exact integers (raw doubles, no
    # ROUND — bit-identical across engines); denominators are ≥ 1 by
    # construction (split always yields at least one token/line).
    return f"""
    WITH m AS (
      SELECT doc_id, source, lang,
             {ln(ws)} AS n_words,
             CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
               / {ln(ws)} AS mean_word_len,
             (CAST(LENGTH(text) - LENGTH(REPLACE(text, '#', '')) AS DOUBLE)
              + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3)
               / {ln(ws)} AS symbol_ratio,
             CAST({ln(filt(lines, bullets))} AS DOUBLE)
               / {ln(lines)} AS bullet_frac,
             CAST({ln(filt(lines, ell_line))} AS DOUBLE)
               / {ln(lines)} AS ellipsis_frac,
             CAST({ln(filt(ws, alpha))} AS DOUBLE)
               / {ln(ws)} AS alpha_word_frac,
             {ln(f"{intersect}({distinct(ws)}, {stops})")} AS stop_hits
      FROM {d['pdocs']}
    )
    SELECT doc_id, source, lang, n_words, mean_word_len,
           symbol_ratio, bullet_frac, ellipsis_frac, alpha_word_frac,
           CAST(stop_hits AS INT) AS stop_hits,
           n_words BETWEEN 50 AND 100000 AS ok_word_count,
           mean_word_len BETWEEN 3 AND 10 AS ok_mean_word_len,
           symbol_ratio < 0.1 AS ok_symbol_ratio,
           bullet_frac < 0.9 AS ok_bullets,
           ellipsis_frac < 0.3 AS ok_ellipsis,
           alpha_word_frac >= 0.8 AS ok_alpha_words,
           stop_hits >= 2 AS ok_stop_words,
           (n_words BETWEEN 50 AND 100000)
             AND (mean_word_len BETWEEN 3 AND 10)
             AND symbol_ratio < 0.1 AND bullet_frac < 0.9
             AND ellipsis_frac < 0.3 AND alpha_word_frac >= 0.8
             AND stop_hits >= 2 AS keep
    FROM m
    """


_GOPHER_SPARK, _GOPHER_DUCK = _dual(_gopher_sql)


@register("gopher_rules", _GOPHER_DUCK)
def gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality gates (Rae et al. 2021, Appendix A) as
    per-document boolean flags + overall keep: word-count bounds, mean
    word length, symbol-to-word ratio (# and ellipses), bullet-start and
    ellipsis-end line fractions, alphabetic-word fraction, and the
    ≥2-distinct-stop-words check. Pure projection over one corpus scan —
    zero shuffles (plan-asserted), every ratio an exact-integer quotient
    so both engines emit bit-identical doubles. The standard first gate
    of a training-data curation funnel, composable with corpus_filter's
    dedup stage downstream."""
    return _spark_docs(spark, sf_dir, _GOPHER_SPARK)


def _curate_decisions_duck() -> str:
    """Composed DuckDB oracle for the curation DECISIONS table: each stage
    is the already-oracle-checked component's own SQL (quality gate =
    `_doc_quality_gate_sql`, near-dup clusters = dedup_clusters' recursive
    min-label closure, Gopher = gopher_rules', DSIR = dsir_weights'),
    nested as subqueries so their internal CTE names can't collide, then
    joined with the workflow's exact composition rule (quality-aware
    survivor, LEFT joins, coalesced gates)."""
    from .llm_pipeline import (
        _DSIR_DUCK,
        _clusters_duck_sql,
        _doc_quality_gate_sql,
    )

    return f"""
    WITH
    base AS (
      SELECT doc_id, source, lang, lang_ok = 1 AND q_ok = 1 AS keep_quality
      FROM ( {_doc_quality_gate_sql(_DUCK_D)} ) g0
    ),
    goph AS (SELECT doc_id, keep AS gopher_keep FROM ( {_GOPHER_DUCK} ) g1),
    ds AS (SELECT doc_id, n_tokens, logw_nats, more_target_like
           FROM ( {_DSIR_DUCK} ) d0),
    comp AS (SELECT doc_id, cluster_rep FROM ( {_clusters_duck_sql()} ) c0),
    memberq AS (
      SELECT c.doc_id, c.cluster_rep, b.keep_quality
      FROM comp c LEFT JOIN base b ON b.doc_id = c.doc_id
    ),
    qrep AS (SELECT cluster_rep, MIN(doc_id) AS qrep
             FROM memberq WHERE keep_quality GROUP BY cluster_rep),
    flags AS (
      SELECT m.doc_id, m.doc_id != COALESCE(q.qrep, m.cluster_rep) AS is_dup
      FROM memberq m LEFT JOIN qrep q ON q.cluster_rep = m.cluster_rep
    )
    SELECT b.doc_id, b.source, b.lang, ds.n_tokens,
           COALESCE(b.keep_quality, FALSE) AS keep_quality,
           NOT COALESCE(f.is_dup, FALSE) AS keep_dedup,
           g.gopher_keep, ds.logw_nats, ds.more_target_like,
           COALESCE(b.keep_quality, FALSE)
             AND NOT COALESCE(f.is_dup, FALSE) AS keep
    FROM base b
    LEFT JOIN goph g ON g.doc_id = b.doc_id
    LEFT JOIN ds ON ds.doc_id = b.doc_id
    LEFT JOIN flags f ON f.doc_id = b.doc_id
    """


@register("curate_decisions", _curate_decisions_duck())
def curate_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: the curation workflow's per-document decisions audit table,
    returned as a DataFrame (the rows `curated_corpus` writes, minus the
    write jobs) so the driver's value-hash gate covers the composed
    workflow plan itself — VERDICT r06 item 2. Same builder the sink
    persists (`sinks.curate_decisions_frame`), so the oracle-checked plan
    and the written dataset can never desync."""
    from ..sinks import curate_decisions_frame

    return curate_decisions_frame(spark, sf_dir)


@register("curated_corpus", None)
def curated_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT end-to-end workflow: run the curation pipeline (Gopher
    quality gates + MinHash near-dup dedup + DSIR importance weights) and
    write the decisions audit table plus the kept corpus as partitioned
    parquet, returning the per-stage count summary verified from the
    written files' footers. Rows-only check: every constituent signal is
    independently oracle-checked (gopher_rules, minhash_dedup /
    dedup_clusters / neardup_survivors, dsir_weights); this entry checks
    the composed WRITE workflow — the plot_bundle precedent applied to the
    curation surface."""
    import os
    import tempfile

    from ..sinks import write_curated_corpus
    from . import _cleanup_at_exit

    # PID in the path: two concurrent sessions on the same fixture (bench
    # run + pytest) must not overwrite each other's output mid-read.
    # Registered for at-exit removal — without it every process leaks a
    # full curated-corpus copy under /tmp.
    out = os.path.join(
        tempfile.gettempdir(),
        f"curated_{os.path.basename(sf_dir)}_{os.getpid()}",
    )
    _cleanup_at_exit(out)
    return write_curated_corpus(spark, sf_dir, out)


# --------------------------------------------------------------------------
# token_budget_sample: mixture-driven selection of concrete documents to a
# per-source token budget (round 7 — the step between domain_mix's WEIGHTS
# and a training run's actual document list).
# --------------------------------------------------------------------------


def _token_budget_sql(d) -> str:
    # Budget rule: total budget = half the corpus tokens, allocated across
    # sources ∝ sqrt(source tokens) — the SAME temperature-0.5 smoothing
    # domain_mix publishes as `mix_weight`, down to the identical
    # quantization (`_w_micro_sql`, shared), here turned into an integer
    # token budget and an actual per-source document selection. Within a
    # source, documents are taken in quality order (the quality_score
    # composite as a FLOOR-micro integer, doc_id tiebreak) while the
    # running token total stays within budget — greedy quality-first
    # fill, the standard way a loader materializes a mixture.
    #
    # Determinism discipline: every kept/dropped decision compares exact
    # integers (q_micro, cum_tokens, src_budget). The only floats are the
    # per-row quality composite (identical expression tree → bit-identical
    # doubles in both engines; integer numerators CAST AS DOUBLE before
    # the decimal-literal divides) and the sqrt/share product, floored to
    # micro-ints before ANY comparison. NULL text is excluded up front —
    # a doc with no tokens cannot be sampled, and excluding NULLs keeps
    # the window order engine-independent.
    ws = d["split"]("text")
    hits = d["filter"](ws, f"w -> w IN {_STOPWORDS}")
    ln = d["len"]
    return f"""
    WITH t0 AS (
      SELECT doc_id, source,
             {ln(ws)} AS n_tok,
             CAST({ln(ws)} AS DOUBLE) AS n_words,
             CAST({ln(hits)} AS DOUBLE) / {ln(ws)} AS stop_ratio,
             CAST({ln(d['distinct'](ws))} AS DOUBLE) / {ln(ws)}
               AS unique_ratio
      FROM {d['pdocs']}
      WHERE text IS NOT NULL
    ),
    t AS (
      SELECT doc_id, source, n_tok,
             CAST(FLOOR(({_Q_COMPOSITE}) * 1000000.0) AS BIGINT) AS q_micro
      FROM t0
    ),
    src AS (
      SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tokens
      FROM t GROUP BY source
    ),
    w AS (
      SELECT source, src_tokens, {_w_micro_sql('src_tokens')} AS w_micro
      FROM src
    ),
    b AS (
      SELECT source,
             CAST(FLOOR(CAST(w_micro AS DOUBLE)
                        / CAST(SUM(w_micro) OVER () AS DOUBLE)
                        * (CAST(SUM(src_tokens) OVER () AS DOUBLE) / 2.0))
                  AS BIGINT) AS src_budget
      FROM w
    ),
    r AS (
      SELECT doc_id, source, n_tok, q_micro,
             CAST(SUM(n_tok) OVER (
               PARTITION BY source
               ORDER BY q_micro DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT r.doc_id, r.source,
           CAST(r.n_tok AS BIGINT) AS n_tokens,
           r.q_micro, r.cum_tokens, b.src_budget
    FROM r JOIN b ON b.source = r.source
    WHERE r.cum_tokens <= b.src_budget
    """


_TOKBUDGET_SPARK, _TOKBUDGET_DUCK = _dual(_token_budget_sql)

# The Spark side's budget branch as its own statement: everything through
# b, emitting one (source, src_budget) row per source. Collected as
# planning scalars (n_sources rows — dozens at any real scale) and
# inlined into the selection statement, which saves the second corpus
# pass (Spark re-plans the inlined t CTE per consumer) plus the b-join
# stage waves. Session-materialized per corpus like the PQ ADC table.
_TOKBUDGET_BUDGETS_SPARK = (
    _TOKBUDGET_SPARK[: _TOKBUDGET_SPARK.rindex("SELECT r.doc_id")]
    + "SELECT source, src_budget FROM b"
)
assert "src_budget FROM b" in _TOKBUDGET_BUDGETS_SPARK

# Guard: a pathological corpus with thousands of sources would bloat the
# literal map — past this the join form is the right plan anyway.
_TOKBUDGET_INLINE_MAX_SOURCES = 1000


def _token_budget_spark_inlined(budgets: "list[tuple[str, int]]") -> str:
    """The selection statement with the budget table inlined as a map
    literal — ONE corpus pass, window, filter; no join."""
    d = _SPARK_D
    pairs = ", ".join(
        f"{_sql_str(s)}, {int(v)}L" for s, v in budgets
    )
    budget = f"element_at(map({pairs}), r.source)"
    head = _TOKBUDGET_SPARK[: _TOKBUDGET_SPARK.index(",\n    src AS (")]
    assert head.rstrip().endswith(")")
    return f"""{head},
    r AS (
      SELECT doc_id, source, n_tok, q_micro,
             CAST(SUM(n_tok) OVER (
               PARTITION BY source
               ORDER BY q_micro DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM t
    )
    SELECT r.doc_id, r.source,
           CAST(r.n_tok AS BIGINT) AS n_tokens,
           r.q_micro, r.cum_tokens, {budget} AS src_budget
    FROM r
    WHERE r.cum_tokens <= {budget}
    """


@register("token_budget_sample", _TOKBUDGET_DUCK)
def token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: materialize a training mixture — select the concrete
    documents that fill each source's token budget, where the budget is
    half the corpus tokens split ∝ sqrt(source tokens) (domain_mix's
    temperature-0.5 rule) and each source fills quality-first (the
    quality_score composite as a micro-int, doc_id tiebreak). Returns one
    row per SELECTED document with its budget audit trail (q_micro,
    cum_tokens, src_budget).

    Scale shape (round 8, the vec_topk_pq planning-scalar move): the
    budget branch — per-source token sums through the temperature-0.5
    quantization, ~n_sources rows — is session-materialized and
    collected as planning scalars, then inlined into the selection
    statement as a map literal: the steady-state plan is ONE corpus pass
    feeding the one data-proportional shuffle (the source-keyed window
    for the running total), a map lookup instead of the b-join, and no
    second corpus pass (Spark re-plans the inlined t CTE per consumer —
    the join form paid the scan+composite twice; measured 0.52 s → see
    FLOOR.md §r8). Falls back to the one-statement join form past
    _TOKBUDGET_INLINE_MAX_SOURCES (a literal map over thousands of
    sources is the wrong plan). Earlier rejected alternative (sharing
    one exchange between branches via a double-frame window: 0.84 s vs
    0.64 s) stays rejected. A skewed giant source is the same skew the
    window already handles for length_percentiles — at 100 TB the greedy
    fill inside one source is exactly as parallel as one sort-partition,
    the honest cost of a cross-document cumulative constraint."""
    _register_docs(spark, sf_dir)
    budgets = [
        (r.source, r.src_budget)
        for r in _indexed(
            spark, f"tokbudget|{sf_dir}", _TOKBUDGET_BUDGETS_SPARK
        ).collect()
    ]
    if len(budgets) > _TOKBUDGET_INLINE_MAX_SOURCES:
        return _spark_docs(spark, sf_dir, _TOKBUDGET_SPARK)
    return _spark_docs(
        spark, sf_dir, _token_budget_spark_inlined(sorted(budgets))
    )


# --------------------------------------------------------------------------
# source_overlap: near-duplicate leakage matrix between sources (round 7).
# --------------------------------------------------------------------------

def _source_overlap_duck() -> str:
    from .llm_pipeline import _MINHASH_DUCK

    return f"""
    WITH p AS (SELECT * FROM ( {_MINHASH_DUCK} ) p0),
    j AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b,
             p.jaccard
      FROM p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(FLOOR(jaccard * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_jac_micro
    FROM j GROUP BY source_a, source_b
    """


@register("source_overlap", _source_overlap_duck())
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: the near-duplicate leakage matrix between sources — for
    each unordered source pair, how many MinHash near-dup pairs (the
    exact relation minhash_dedup publishes, jaccard >= 0.5 verified)
    cross it, with the jaccard mass as a FLOOR-micro integer sum. The
    curation diagnostic that tells you WHICH crawls/dumps duplicate each
    other before you pick a dedup survivor policy — mirror-heavy source
    pairs get cross-source dedup, self-similar sources get within-source
    dedup only.

    Scale shape: rides minhash_dedup's session index (bucketed candidate
    generation, never all-pairs); the pair relation is near-dup-
    proportional, so the two doc_id→source lookups are joins of a SMALL
    relation against the corpus projection — AQE turns them into
    broadcasts from runtime sizes at fixture scale, and at 100 TB they
    are plain equality shuffles on doc_id. Output is n_sources² bounded."""
    from pyspark.sql import functions as F

    from ..functions.materialize import materialized
    from ..sources import load
    from .llm_pipeline import minhash_dedup

    # r10 optimization: reuse the session-materialized near-dup pair
    # relation (the SAME `mh_pairs` key dedup_clusters materializes) —
    # the bucket-join + array-intersect verify tail otherwise re-executes
    # on every call even though the LSH index relations are memoized.
    # At 100 TB this is the pair manifest a dedup pipeline persists once
    # and every diagnostic reads.
    pairs = materialized(
        spark,
        f"mh_pairs|{sf_dir}",
        lambda: minhash_dedup(spark, sf_dir).select(
            "doc_a", "doc_b", "jaccard"
        ),
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "source", "src_a"
            ),
            "doc_a",
        )
        .join(
            docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "source", "src_b"
            ),
            "doc_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "jaccard",
        )
    )
    return j.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.floor(F.col("jaccard") * 1000000.0).cast("long")).alias(
            "sum_jac_micro"
        ),
    )


# --------------------------------------------------------------------------
# ngram_novelty: per-document novelty curve (round 7) — what fraction of a
# doc's verbatim 8-token runs is FIRST seen in that doc, in doc_id order.
# The corpus-staleness diagnostic: a crawl increment whose novelty curve
# collapses is re-crawling what the corpus already holds.
# --------------------------------------------------------------------------


def _novelty_run_expr(d) -> str:
    """The 8-gram run hash over pos rows (ws array + position i). Same
    hash discipline as decontam_ngram: internal-only (outputs are counts),
    so Spark uses the in-place multi-arg xxhash64 and the oracle keeps
    md5-of-joined-run — a collision would merge two runs and fail the
    value gate visibly."""
    if d is _SPARK_D:
        return f"xxhash64({', '.join(f'element_at(ws, i + {j})' for j in range(_DC_K))})"
    return f"md5({d['joinarr'](d['slice']('ws', 'i', _DC_K))})"


def _novelty_head(
    d, where: "str | None" = None, src: "str | None" = None
) -> str:
    """WITH-chain producing the run positions relation ``pos`` (doc_id, ws,
    i), optionally restricted to the docs matching ``where`` and/or read
    from an alternate relation ``src`` (a streamed micro-batch view) — the
    splices the incremental index builders (functions/neardup_index.py)
    reuse."""
    ws = d["split"]("text")
    pred = f" AND ({where})" if where else ""
    return f"""
    WITH w AS (
      SELECT doc_id, {ws} AS ws FROM {src or d['pdocs']}
      WHERE text IS NOT NULL AND {d['len'](ws)} >= {_DC_K}{pred}
    ),
    pos AS (SELECT doc_id, ws,
                   {d['expand']('1', d['len']('ws') + f' - {_DC_K - 1}')} AS i
            FROM w)"""


def _novelty_rollup_sql() -> str:
    """The per-doc novelty rollup over an ``x`` relation of (doc_id,
    first_doc) occurrence rows — THE single definition of the output
    contract (n_runs / n_novel / FLOOR-micro ratio), shared by the
    registry Spark plan and the incremental/streaming probe in
    functions/neardup_index.py so the serving path can never silently
    diverge from the oracle-checked query."""
    return """
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(FLOOR(CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0
                                END) AS DOUBLE)
                      / COUNT(*) * 1000000.0) AS BIGINT) AS novelty_micro
    FROM x GROUP BY doc_id
    """


def _ngram_novelty_sql(d, two_phase: bool = False) -> str:
    # A run is "novel in doc D" iff D is the min-doc_id document containing
    # it (hash discipline: see _novelty_run_expr).
    run = _novelty_run_expr(d)
    head = _novelty_head(d)
    if d is _SPARK_D and not two_phase:
        # One aggregation by run hash (collect_set dedups per-doc repeats
        # in the same exchange, map-side partials), then the occurrence
        # explode is LINEAR in run occurrences — unlike the pair explode
        # in substring_dup, boilerplate runs cannot go quadratic, so no
        # stop-gram cap is needed. The one skew: a UNIVERSAL boilerplate
        # run's collect_set holds one array proportional to corpus size
        # in a single aggregation state row, so past _NOVELTY_TWO_PHASE
        # documents (footer count, no job) the registry switches to the
        # two-phase form below — h -> MIN(doc_id) + SHUFFLE_HASH join
        # back — which bounds per-run state at ONE row at the price of a
        # second exchange. Both forms are pinned row-equal on random and
        # hot-boilerplate corpora (tests/test_corpus_ext.py).
        return f"""{head},
    g AS (
      SELECT {run} AS h, collect_set(doc_id) AS ds
      FROM pos GROUP BY {run}
    ),
    x AS (
      SELECT ds_doc AS doc_id, array_min(ds) AS first_doc
      FROM g LATERAL VIEW explode(ds) AS ds_doc
    )""" + _novelty_rollup_sql()
    # Two-phase form — DuckDB's oracle definition, and the Spark plan for
    # the large/boilerplate tier. The SHUFFLE_HASH hint (Spark only)
    # prevents the planner broadcasting the corpus-proportional firsts
    # relation (the measured fact-proportional-broadcast OOM class); AQE
    # skew-join splitting divides a hot-h probe partition.
    hint = "/*+ SHUFFLE_HASH(f) */ " if d is _SPARK_D else ""
    return f"""{head},
    runs AS (SELECT DISTINCT doc_id, {run} AS h FROM pos),
    firsts AS (SELECT h, MIN(doc_id) AS first_doc FROM runs GROUP BY h)
    SELECT {hint}r.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(CASE WHEN f.first_doc = r.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(FLOOR(CAST(SUM(CASE WHEN f.first_doc = r.doc_id THEN 1
                                    ELSE 0 END) AS DOUBLE)
                      / COUNT(*) * 1000000.0) AS BIGINT) AS novelty_micro
    FROM runs r JOIN firsts f ON f.h = r.h
    GROUP BY r.doc_id
    """


_NOVELTY_SPARK, _NOVELTY_DUCK = _dual(_ngram_novelty_sql)
_NOVELTY_SPARK_2P = _ngram_novelty_sql(_SPARK_D, two_phase=True)

# Above this many documents (footer count, no job) ngram_novelty switches
# to the two-phase form: the single-pass collect_set holds one array per
# run proportional to that run's occurrence count — a universal
# boilerplate run makes that ONE aggregation-state row corpus-sized, and
# the explode of that one giant array then runs in ONE task. Measured
# (interleaved, FLOOR.md §r8; hot = 8-token block on 80% of docs):
#   sf1  uniform (50k):   single 1.08 s   two-phase 1.68 s
#   sf1  hot     (50k):   single 3.40 s   two-phase 2.02 s
#   sf10 uniform (500k):  single 4.43 s   two-phase 6.32 s
#   sf10 hot     (500k):  single 259 s    two-phase 9.07 s   (29×)
# Unlike dedup_spans' window (which spills gracefully and wins every
# tier), the single-pass form's hot-run failure is superlinear and
# ultimately OOM (the state array cannot spill row-internally), while
# the two-phase form's uniform-tier loss is a bounded ~1.4×. The gate
# sits between the measured tiers: fixtures keep the single-pass win,
# anything bigger takes the bounded plan.
_NOVELTY_TWO_PHASE_ROWS = 100_000


@register("ngram_novelty", _NOVELTY_DUCK)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: per-document 8-gram novelty — distinct verbatim runs, how
    many are FIRST seen in this document (min-doc_id rule), and the exact
    FLOOR-micro novelty ratio. Scanning docs in id order, this is the
    novelty curve that tells a crawl pipeline when an increment stops
    adding content (dedup rate rising = novelty collapsing). One corpus
    pass on Spark: the explode feeds a single hash-keyed aggregation
    (per-doc dedup + first-doc min in the collect_set), then a linear
    occurrence explode and a doc-keyed rollup; the oracle keeps the
    naive DISTINCT + MIN + join form as the independent definition.
    Past _NOVELTY_TWO_PHASE_ROWS documents the Spark side switches to
    that two-phase form itself (DISTINCT + MIN-by-h + SHUFFLE_HASH join
    back): per-run aggregation state drops from one occurrence-sized
    array to one row, so a universal boilerplate run can no longer make
    a single state row corpus-sized; AQE's skew-join splitting divides
    the hot-h probe partition that replaces it. Both forms pinned
    row-equal on random and hot-boilerplate corpora
    (tests/test_corpus_ext.py); measured crossover in FLOOR.md §r8."""
    from ..sources.tables import table_rows

    if table_rows(sf_dir, "documents") > _NOVELTY_TWO_PHASE_ROWS:
        return _spark_docs(spark, sf_dir, _NOVELTY_SPARK_2P)
    return _spark_docs(spark, sf_dir, _NOVELTY_SPARK)


# --------------------------------------------------------------------------
# dedup_spans: sub-document exact-substring dedup APPLY (round 7) — remove
# the verbatim 8-token spans whose corpus-first occurrence is in an earlier
# document and rebuild the cleaned text (the RefinedWeb/MassiveText move:
# near-dup docs get dropped, repeated SPANS get excised).
# --------------------------------------------------------------------------


def _dedup_spans_sql(d) -> str:
    # A token position is COVERED iff it lies inside some 8-token run
    # whose min-doc_id occurrence is in an EARLIER doc — the rule is
    # DOC-grain: every occurrence inside the min doc is kept (within-doc
    # repeats survive there; see the docstring). Cleaned text is rebuilt
    # relationally (kept tokens re-joined in position order) so both
    # engines use plain anti-join + ordered string aggregation — no
    # indexed-lambda dialect divergence — and ONLY for TOUCHED docs: the
    # token explode / coverage anti-join / ordered rebuild are semi-joined
    # to the distinct covered doc set, while untouched and NULL-text docs
    # flow straight from the base scan (original text / NULL signals, row
    # always preserved). Data-proportional shuffles: the run-keyed window
    # stamping each position with its run's first doc (position rows ≈
    # token count), the covered-position DISTINCT, and the touched-docs
    # rebuild exchange. The window form was CHOSEN over two-phase
    # MIN-by-h + join-back: measured at sf1, the join planner broadcasts
    # the run relation (run-cardinality ~ corpus-proportional) and OOMs
    # the driver — the fact-proportional-broadcast failure class the
    # sf100 ladder first caught; a hint-pinned shuffle join survives but
    # pays the position relation through the h exchange TWICE (Spark
    # inlines the ph CTE per consumer) and lost to the window at every
    # measured tier, hot boilerplate included (FLOOR.md §r8). A hot
    # boilerplate run skews the window's h partition; the window is a
    # sortless full-partition MIN, so the skewed task streams linearly
    # (buffering/spilling the hot h's positions in ONE task).
    run = _novelty_run_expr(d)
    ws = d["split"]("text")
    # The ordered rebuild is each engine's own plan: Spark positions tokens
    # with posexplode and sorts a collect_list of (t, tok) structs, DuckDB
    # indexes the list and aggregates with string_agg(... ORDER BY t).
    if d is _SPARK_D:
        tok_rel = (
            "SELECT doc_id, pos + 1 AS t, tok FROM allw "
            "LATERAL VIEW posexplode(ws) AS pos, tok"
        )
        rebuild = (
            "array_join(transform(array_sort(collect_list("
            "named_struct('t', k.t, 'tok', k.tok))), s -> s.tok), ' ')"
        )
    else:
        tok_rel = (
            "SELECT doc_id, t, ws[t] AS tok FROM allw, "
            "unnest(generate_series(1, len(ws))) AS u(t)"
        )
        rebuild = "string_agg(k.tok, ' ' ORDER BY k.t)"
    j_seq = d["seq"]("0", str(_DC_K - 1))
    return f"""{_novelty_head(d)},
    ph AS (SELECT doc_id, i, {run} AS h FROM pos),
    fh AS (
      SELECT doc_id, i,
             MIN(doc_id) OVER (PARTITION BY h) AS first_doc
      FROM ph
    ),
    cov AS (
      SELECT DISTINCT doc_id, i + j AS t
      FROM {d['lateral']('fh', j_seq, 'j', alias='ju')}
      WHERE doc_id > first_doc
    ),
    covd AS (SELECT DISTINCT doc_id FROM cov),
    allw AS (
      SELECT doc_id, {ws} AS ws FROM {d['pdocs']}
      WHERE text IS NOT NULL
        AND doc_id IN (SELECT doc_id FROM covd)
    ),
    toks AS ({tok_rel}),
    kept AS (
      SELECT tk.doc_id, tk.t, tk.tok
      FROM toks tk LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.t = tk.t
      WHERE c.t IS NULL
    ),
    rebuilt AS (
      SELECT k.doc_id, COUNT(*) AS n_kept, {rebuild} AS clean_text
      FROM kept k GROUP BY k.doc_id
    ),
    base AS (SELECT doc_id, {d['len'](ws)} AS n_tokens, text
             FROM {d['pdocs']})
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN b.n_tokens IS NULL THEN CAST(NULL AS BIGINT)
                WHEN c.doc_id IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(b.n_tokens - COALESCE(r.n_kept, 0) AS BIGINT)
           END AS n_removed,
           CASE WHEN b.n_tokens IS NULL THEN CAST(NULL AS {d['str']})
                WHEN c.doc_id IS NULL THEN b.text
                ELSE COALESCE(r.clean_text, '')
           END AS clean_text
    FROM base b
    LEFT JOIN covd c ON c.doc_id = b.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
    """


_SPANS_SPARK, _SPANS_DUCK = _dual(_dedup_spans_sql)


@register("dedup_spans", _SPANS_DUCK)
def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: exact-substring dedup at SPAN grain — every verbatim
    8-token run whose first corpus occurrence (min doc_id) is in an
    earlier document is excised, and the cleaned text is rebuilt from the
    surviving tokens in order (doc-level near-dup dedup drops whole docs;
    this is the complementary RefinedWeb-style move for boilerplate and
    quoted spans). Returns doc_id, n_tokens, n_removed, clean_text — one
    row per input doc, ALWAYS: overlapping stale spans union their
    coverage, a fully-covered doc comes back with empty text rather than
    disappearing, docs under 8 tokens and untouched docs pass through
    verbatim (fast path: they never enter the rebuild pipeline), and a
    NULL-text doc keeps its row with NULL signals (the curate-workflow
    convention). The keep-first rule is DOC-grain: every occurrence
    inside the run's min-doc_id document survives — within-document
    repeats are NOT excised there (that is repetition_ratio's signal and
    a different, position-grain rule whose overlapping-occurrence
    semantics are ambiguous; pinned by the planted test).

    Scale shape: position rows ≈ token count flow through ONE run-keyed
    window exchange (stamping each position with its run's first doc);
    coverage expansion is a bounded ×8 explode of STALE positions only;
    the rebuild is an anti-join plus one doc-keyed ordered aggregation.
    Nothing is quadratic in anything. Boilerplate-heavy corpora skew the
    run-key window (the hot h buffers in ONE task); the window still beat
    the agg + SHUFFLE_HASH-join alternative at every measured tier, hot
    boilerplate included (FLOOR.md §r8), and is pinned row-equal to the
    oracle on random and hot-boilerplate corpora (tests/test_corpus_ext.py)."""
    return _spark_docs(spark, sf_dir, _SPANS_SPARK)


# --------------------------------------------------------------------------
# embed_decontam: SEMANTIC cross-split contamination (round 7) — test-split
# vectors whose embedding sits near a train-split vector. decontam_ngram
# catches verbatim leakage; this is its embedding-space complement (a
# paraphrased or re-encoded copy shares no 8-gram but keeps its cosine).
# --------------------------------------------------------------------------


def _vec_split_case(d, col: str) -> str:
    """The SAME deterministic md5-bucket split rule as hash_split, applied
    to a vector id — one definition of 'which split is this row in' for
    the embeddings table."""
    bucket = d["bucket"]("split", col)
    return (
        f"CASE WHEN {bucket} % 100 < 80 THEN 'train' "
        f"WHEN {bucket} % 100 >= 90 THEN 'test' END"
    )


def _embed_decontam_duck() -> str:
    return f"""
    WITH p AS (SELECT * FROM ( {_ND_DUCK} ) p0),
    s AS (
      SELECT p.*, {_vec_split_case(_DUCK_D, 'p.vec_a')} AS split_a,
             {_vec_split_case(_DUCK_D, 'p.vec_b')} AS split_b
      FROM p
    )
    SELECT CASE WHEN split_a = 'test' THEN vec_a ELSE vec_b END AS test_vec,
           CASE WHEN split_a = 'test' THEN vec_b ELSE vec_a END AS train_vec,
           CASE WHEN split_a = 'test' THEN label_a ELSE label_b END
             AS test_label,
           CASE WHEN split_a = 'test' THEN label_b ELSE label_a END
             AS train_label,
           cos_sim
    FROM s
    WHERE (split_a = 'test' AND split_b = 'train')
       OR (split_a = 'train' AND split_b = 'test')
    """


@register("embed_decontam", _embed_decontam_duck())
def embed_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: semantic benchmark decontamination — test-split vectors
    (hash_split's exact md5-bucket rule on vec_id) whose embedding is
    near-duplicate to a TRAIN-split vector, with the pair oriented
    test→train. Catches the leakage decontam_ngram cannot: a paraphrased
    or re-encoded copy shares no verbatim 8-gram but keeps its cosine.

    Scale shape: rides embed_neardup's banded hyperplane LSH session
    index verbatim (bucket-equality candidates, fused exact-cosine
    verify; note the oracle value-hashes only the CROSS-SPLIT slice of
    the pair relation — embed_neardup's full-relation coverage stays
    with its own session replay and recall pins); the split stamp is a
    stateless hash projection on the pair relation
    (near-dup-proportional), so the decontam filter adds zero
    corpus-scale work."""
    from pyspark.sql import functions as F

    from .llm_pipeline import embed_neardup

    pairs = embed_neardup(spark, sf_dir)
    sa = F.expr(_vec_split_case(_SPARK_D, "vec_a"))
    sb = F.expr(_vec_split_case(_SPARK_D, "vec_b"))
    s = pairs.withColumn("split_a", sa).withColumn("split_b", sb)
    t = s.where(
        ((F.col("split_a") == "test") & (F.col("split_b") == "train"))
        | ((F.col("split_a") == "train") & (F.col("split_b") == "test"))
    )
    a_is_test = F.col("split_a") == "test"
    return t.select(
        F.when(a_is_test, F.col("vec_a")).otherwise(F.col("vec_b")).alias(
            "test_vec"
        ),
        F.when(a_is_test, F.col("vec_b")).otherwise(F.col("vec_a")).alias(
            "train_vec"
        ),
        F.when(a_is_test, F.col("label_a")).otherwise(F.col("label_b")).alias(
            "test_label"
        ),
        F.when(a_is_test, F.col("label_b")).otherwise(F.col("label_a")).alias(
            "train_label"
        ),
        "cos_sim",
    )
