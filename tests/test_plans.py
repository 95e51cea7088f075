"""Physical-plan audits: the properties that matter at 100 TB, asserted on
the actual executed plans (column pruning, broadcast joins, top-k strategy,
partial aggregation, whole-stage codegen)."""

from __future__ import annotations

import pytest

from synth_timeseries_data_spark.queries import all_queries


def _plan(spark, name, sf_dir) -> str:
    df = all_queries()[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_lag_features_scan_is_pruned(spark, oracle_sf_dir):
    """The events scan must read only the 4 needed columns — props and
    event_type stay out of ReadSchema."""
    plan = _plan(spark, "lag_features", oracle_sf_dir)
    assert "props" not in plan
    assert "event_type" not in plan


def test_revenue_star_join_broadcasts_dims(spark, oracle_sf_dir):
    plan = _plan(spark, "revenue_by_nation", oracle_sf_dir)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_topk_uses_take_ordered(spark, oracle_sf_dir):
    plan = _plan(spark, "topk_value", oracle_sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_summary_stats_partial_aggregation(spark, oracle_sf_dir):
    """Two HashAggregates (partial + final) around one exchange — map-side
    combine is what keeps the shuffle narrow at scale."""
    plan = _plan(spark, "summary_stats", oracle_sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan  # map-side combine present
    # scan reads only the 5 referenced columns
    assert "l_orderkey" not in plan and "l_shipdate" not in plan


def test_order_set_ops_single_scan(spark, oracle_sf_dir):
    """The rewrite's contract: ONE scan of orders, no intersect/except."""
    plan = _plan(spark, "order_set_ops", oracle_sf_dir)
    assert plan.count("FileScan parquet") == 1


def test_plot_frames_branch_shapes(spark, oracle_sf_dir):
    """The tagged-union bundle keeps each frame's own minimal shape: the
    per-series OLS fit BROADCASTS back onto the points (never the points
    to the fit), and the three branches together carry exactly 4 shuffles
    (fit agg, histogram window, histogram agg, pattern agg)."""
    import re

    plan = _plan(spark, "plot_frames", oracle_sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", plan))
    assert shuffles == 4, plan[:2000]


def test_dedup_single_shuffle(spark, oracle_sf_dir):
    plan = _plan(spark, "dedup_firstseen", oracle_sf_dir)
    assert plan.count("Exchange") == 1


@pytest.mark.parametrize("name", ["lag_features", "ts_diff", "rolling_stats"])
def test_window_queries_one_shuffle(spark, oracle_sf_dir, name):
    """All per-series window ops shuffle exactly once, on the series key."""
    plan = _plan(spark, name, oracle_sf_dir)
    assert plan.count("Exchange") == 1, name


def test_asof_no_candidate_blowup(spark, oracle_sf_dir):
    """The bracket-based as-of is JOIN-FREE: candidate payloads are carried
    by running windows over the merged points+probes relation, so the plan
    must contain no join operator of any kind (the old candidate-fetch
    equi-join and stats join are gone) and no candidate blowup is even
    expressible. Exchanges are bounded: the event spine and the merged
    spine, both hash-partitioned on the series key."""
    plan = _plan(spark, "asof_lag", oracle_sf_dir)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "rn#" in plan  # still rank-based bracket discovery
    assert plan.count("Exchange") <= 2


def test_sliding_agg_single_exchange_with_partials(spark, oracle_sf_dir):
    """The r6 sliding-window form is ONE hash aggregation over the window
    explode: map-side partial aggregation must precede the single exchange
    (so shuffle volume is O(windows×types×tasks), never O(kn)) and no
    second stage barrier may exist."""
    plan = _plan(spark, "sliding_agg", oracle_sf_dir)
    assert plan.count("Exchange") == 1
    assert "Generate explode" in plan  # the k=0..3 window assignment
    # two HashAggregates (partial + final) around exactly one exchange:
    # top-down print → final agg above the Exchange, partial agg below it
    assert plan.count("HashAggregate") == 2
    assert plan.index("HashAggregate") < plan.index("Exchange") < plan.rindex(
        "HashAggregate"
    )


def test_edge_tensor_broadcasts_edges(spark, oracle_sf_dir):
    """Domain × edges joins stay broadcast at any scale (edge lists are
    dim-sized by construction)."""
    plan = _plan(spark, "edge_tensor", oracle_sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_vec_topk_no_cartesian(spark, oracle_sf_dir):
    """Brute-force cosine top-k broadcasts the query vector as a literal /
    small side — the scan side must stream once with TakeOrdered, never a
    doc×doc product."""
    plan = _plan(spark, "vec_topk", oracle_sf_dir)
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_embed_neardup_no_allpairs(spark, oracle_sf_dir):
    """Candidate generation must be an equality join on (band, sig) — never a
    vec×vec product. The only nested-loop joins permitted are tiny literal
    broadcasts (none expected here)."""
    plan = _plan(spark, "embed_neardup", oracle_sf_dir)
    assert "CartesianProduct" not in plan
    # permitted nested-loop joins are the literal plane-grid cross joins
    # (explode(p) × explode(dim), constant 32×64) — never a data×data side
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # candidate generation and verify are equi joins
    assert (
        plan.count("SortMergeJoin")
        + plan.count("ShuffledHashJoin")
        + plan.count("BroadcastHashJoin")
    ) >= 3
    # plane-dot accumulation stays integer (codegen) — a decimal accumulator
    # would show up as a sum(cast(... as decimal
    assert "as decimal(26,6)" not in plan.lower()


def test_generation_sweep_partitioning_survives_aqe(spark, smoke_sf_dir):
    """The kernel sweep must run full-width: AQE's coalescer once
    collapsed the tiny grid shuffle to a single partition, serializing
    every kernel into one task (6.0 s -> 1.7 s fix); a later pass batched
    the millisecond kernels into min(n_configs, defaultParallelism)
    round-robin partitions to amortize per-task Python/Arrow setup
    (1.88 s -> 0.72 s). The RDD must carry exactly that user-pinned
    width — neither coalesced down nor exploded back to one-per-config."""
    from synth_timeseries_data_spark.queries import generation as G

    df = all_queries()["scm_generate"].build(spark, smoke_sf_dir)
    n_configs = len(G.grid(("a1", "a2", "b1", "b2", "c1", "c2")))
    expected = min(n_configs, spark.sparkContext.defaultParallelism)
    assert df.rdd.getNumPartitions() == expected
    # the LPT packing weighs every grid config by a measured cost class
    assert {(r[0], r[5]) for r in G.grid()} <= set(G._COST_W)


def test_stratified_sample_broadcasts_rates_no_extra_shuffle(spark, oracle_sf_dir):
    """The rate dim is a literal — it must broadcast, and the sampled
    projection must not shuffle document rows at all."""
    plan = _plan(spark, "stratified_sample", oracle_sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    # the only exchange allowed is the broadcast of the literal rate table
    assert plan.count("Exchange hashpartitioning") == 0, plan[:2000]


def test_hash_split_is_projection_plus_one_agg(spark, oracle_sf_dir):
    """Split assignment is stateless projection; one partial+final agg."""
    plan = _plan(spark, "hash_split", oracle_sf_dir)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial_" in plan


def test_rolling_median_stays_codegen(spark, oracle_sf_dir):
    """Round-4 rewrite contract: the frame quantile is collect_list +
    codegen'd array interpolation, NOT the interpreted `percentile`
    ImperativeAggregate (which costs a per-row hashmap rebuild)."""
    plan = _plan(spark, "rolling_median", oracle_sf_dir)
    assert "percentile" not in plan.lower()
    assert "collect_list" in plan
    assert plan.count("Exchange") == 1  # one window shuffle on the series key


def test_funnel_single_fact_shuffle(spark, oracle_sf_dir):
    """Round-4 rewrite contract: ONE user-keyed shuffle of events (the
    per-user stage-array agg) + the tiny global-agg exchange — never the
    oracle's per-stage re-shuffles of the fact table."""
    plan = _plan(spark, "funnel", oracle_sf_dir)
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange") <= 2, plan[:2000]


def test_revenue_aggregates_before_dim_joins(spark, oracle_sf_dir):
    """Round-4 rewrite contract: the fact-side aggregate groups on the int
    c_nationkey BEFORE nation/region join (early aggregation); the only
    exchange in the plan is the 25-group agg exchange — the fact scan
    itself is never shuffled."""
    plan = _plan(spark, "revenue_by_nation", oracle_sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1
    # the aggregate keys on c_nationkey, not on the dim name columns
    assert "keys=[c_nationkey" in plan


def test_tfidf_single_corpus_pass(spark, oracle_sf_dir):
    """Broadcast-df shape: the tf relation never moves. Two explode
    branches (tf + the partial-distinct document frequencies), the df
    side BROADCAST back onto tf, and the top-k rank windowing on the
    doc clustering tf already has — no full-relation term exchange of tf
    and no exchange back to doc."""
    plan = _plan(spark, "tfidf_topterms", oracle_sf_dir)
    assert plan.count("FileScan parquet") <= 3  # 2 corpus branches + COUNT(*)
    assert plan.count("Generate") == 2, plan[:2000]
    assert "BroadcastHashJoin" in plan
    # rank pruning pushed below the final sort: only top-3 rows per doc
    # survive to the row_number projection
    assert "WindowGroupLimit" in plan


def test_pii_redact_no_shuffle(spark, oracle_sf_dir):
    """Row-local projection: the only exchange is the spread view's
    repartition — no aggregation/join shuffles."""
    plan = _plan(spark, "pii_redact", oracle_sf_dir)
    assert plan.count("Exchange") <= 1
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_substring_dup_single_pass_no_join(spark, oracle_sf_dir):
    """The one-aggregation form: candidates pair up INSIDE a run-hash
    bucket (collect_set + in-bucket explode), so the plan has exactly one
    corpus scan, one explode pipeline feeding a collect_set aggregate, and
    NO join operator of any kind — the earlier relational form re-ran the
    scan→explode→hash pipeline four times across a self-join + anti-join."""
    plan = _plan(spark, "substring_dup", oracle_sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("FileScan parquet") == 1, plan[:2000]
    assert "collect_set" in plan
    assert "Join" not in plan, plan[:2000]


def test_partitioned_roundtrip_prunes_partitions(spark, oracle_sf_dir):
    """The readback scan must carry the lang filter as a PartitionFilter
    (directory-level pruning), not a post-scan Filter over all files."""
    plan = _plan(spark, "partitioned_roundtrip", oracle_sf_dir)
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "lang" in m.group(1), plan[:2000]


def test_doc_chunks_map_only(spark, oracle_sf_dir):
    """Chunking is a row-local explode: the ONLY exchange is the spread
    view's repartition — no joins, no aggregates, one corpus scan."""
    plan = _plan(spark, "doc_chunks", oracle_sf_dir)
    assert plan.count("Exchange") <= 1
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan and "HashAggregate" not in plan


def test_pack_sequences_single_bucket_shuffle(spark, oracle_sf_dir):
    """Packing shuffles ONCE on the bucket key: the running-sum window and
    the (bucket, seq_id) rollup both reuse the hash(bucket) clustering, so
    no second exchange exists — the property that makes packing
    embarrassingly parallel across buckets at 100 TB."""
    plan = _plan(spark, "pack_sequences", oracle_sf_dir)
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "partial_" in plan  # rollup still map-side combines
    assert "Join" not in plan


def test_decontam_ngram_no_join_single_pipeline(spark, oracle_sf_dir):
    """The leak report comes from ONE aggregation over the run hashes (cap
    via HAVING, doc lists via collect_set) — no self-join of the explode
    pipeline, no cartesian anywhere, one corpus scan."""
    plan = _plan(spark, "decontam_ngram", oracle_sf_dir)
    assert "Join" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert plan.count("FileScan parquet") == 1


def test_semdedup_cluster_bounded_pairs(spark, oracle_sf_dir):
    """Candidate pairs come from the cluster-equality self-join of the
    materialized assignment relation — never an all-pairs product."""
    plan = _plan(spark, "semdedup", oracle_sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the assignment relation is a materialized leaf, not a re-run pipeline
    assert plan.count("Scan ExistingRDD") >= 2, plan[:1500]


def test_unigram_xent_broadcast_vocab_tf_unmoved(spark, oracle_sf_dir):
    """Broadcast-vocab shape (same device as tfidf): the tf relation joins
    the corpus term counts via BroadcastHashJoin and the final per-doc
    aggregate runs on tf's doc clustering — no full-relation exchange of
    tf to term and back (the old window form had both)."""
    plan = _plan(spark, "unigram_xent", oracle_sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "Window" not in plan  # the term-window form is gone
    assert plan.count("Generate") == 2  # tf branch + vocab branch


def test_dsir_weights_broadcast_lr_tf_unmoved(spark, oracle_sf_dir):
    """dsir_weights inherits unigram_xent's single-corpus-pass shape: the
    per-term log-ratio relation (vocab-sized) joins tf via
    BroadcastHashJoin, tf's per-doc aggregate rides its doc clustering
    (no term-and-back exchange of the big relation), and exactly two
    corpus explodes exist (tf branch + vocab branch) — the LM-normalizer
    window lives on the vocab-sized side only, so a third corpus pass
    (the scalar-subquery CTE re-inline) can never sneak back in."""
    plan = _plan(spark, "dsir_weights", oracle_sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert plan.count("Generate") == 2  # tf branch + vocab branch
    assert plan.count("Window") == 1  # normalizer totals over vocab only


def test_char_entropy_zero_shuffle_python_stage(spark, oracle_sf_dir):
    """The Arrow-batched histogram is a pure map over the pruned scan:
    no Exchange of any kind, no explode, one scan reading only
    (doc_id, text)."""
    plan = _plan(spark, "char_entropy", oracle_sf_dir)
    assert "Exchange" not in plan, plan[:2000]
    assert "Generate" not in plan
    assert "MapInPandas" in plan
    import re

    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id",
        "text",
    }, plan[:2000]


def test_neardup_survivors_broadcast_apply(spark, oracle_sf_dir):
    """Applying the dedup is a broadcast join of the (near-dup-sized) drop
    set against the documents scan — never a corpus-sized shuffle join."""
    plan = _plan(spark, "neardup_survivors", oracle_sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gopher_rules_zero_shuffle_projection(spark, oracle_sf_dir):
    """The Gopher gates are per-document projections — besides the spread
    view's input repartition, the plan must contain no exchange, no join,
    and no aggregation."""
    plan = _plan(spark, "gopher_rules", oracle_sf_dir)
    assert plan.count("Exchange") <= 1  # only the spread-view repartition
    assert "Join" not in plan and "HashAggregate" not in plan


def test_repetition_ratio_zero_shuffle_projection(spark, oracle_sf_dir):
    """The duplicate-3-gram ratio collapses to size()/size(array_distinct())
    on the per-row shingle array: besides the spread view's input
    repartition, the plan must contain no exchange, no explode, no join,
    and no aggregation — the explode+COUNT(DISTINCT) form shuffled every
    (doc_id, shingle) string pair."""
    plan = _plan(spark, "repetition_ratio", oracle_sf_dir)
    assert plan.count("Exchange") <= 1  # only the spread-view repartition
    assert "Generate" not in plan, plan[:2000]
    assert "Join" not in plan and "HashAggregate" not in plan


def test_token_budget_inlined_plan_has_no_joins(spark, oracle_sf_dir):
    """Round 8: the budget table rides in as a collected map literal, so
    the selection plan has NO join at all — one corpus pass into the
    cumsum window (its sort is the only sort), a map lookup where the
    broadcast join used to be, nothing cartesian."""
    plan = _plan(spark, "token_budget_sample", oracle_sf_dir)
    assert "Join" not in plan
    assert "Cartesian" not in plan
    assert plan.count("Sort ") == 1


def test_length_percentiles_histogram_shape(spark, oracle_sf_dir):
    """The histogram form: map-side partial counts run BEFORE the exchange
    (shuffle rows are per-task-distinct (source, n) pairs, not documents)
    and the only sort is the per-source rank walk over histogram rows."""
    plan = _plan(spark, "length_percentiles", oracle_sf_dir)
    assert "partial_" in plan  # partial aggregation precedes the exchange
    assert plan.count("Exchange") <= 3
    assert plan.count("Sort ") == 1
    assert "SortMergeJoin" not in plan


def test_multimodal_audio_zero_shuffle(spark, oracle_sf_dir):
    """The audio metadata pass is a pure map pipeline: pruned scan →
    Arrow boundary → parse. No exchange at any scale."""
    plan = _plan(spark, "multimodal_audio", oracle_sf_dir)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_source_overlap_no_allpairs(spark, oracle_sf_dir):
    """The leakage matrix rides minhash's bucketed candidate generation —
    no cartesian product and no corpus-wide sort-merge anywhere."""
    plan = _plan(spark, "source_overlap", oracle_sf_dir)
    assert "Cartesian" not in plan
    assert "SortMergeJoin" not in plan


def test_ngram_novelty_single_pass_no_join(spark, oracle_sf_dir):
    """The Spark novelty form is join-free: one hash-keyed aggregation over
    the run explode (map-side partials), a linear occurrence explode, and
    the doc rollup — the corpus is scanned once."""
    plan = _plan(spark, "ngram_novelty", oracle_sf_dir)
    assert "Join" not in plan
    assert "partial_" in plan
    assert plan.count("Scan parquet") == 1


def test_dedup_spans_bounded_expansion_no_cartesian(spark, oracle_sf_dir):
    """Span excision: one run-keyed window stamps first docs, coverage
    expands stale positions by a bounded x8 only, the rebuild is an
    anti-join + one doc aggregation — nothing cartesian, no corpus-wide
    sort-merge beyond the window/rebuild sorts."""
    plan = _plan(spark, "dedup_spans", oracle_sf_dir)
    assert "Cartesian" not in plan
    assert "partial_" in plan


def test_winnowing_single_exchange_distinct_collapses(spark, oracle_sf_dir):
    """Winnowing's whole pipeline rides ONE exchange: the doc-keyed
    partitioning feeds the per-doc window sort AND satisfies the final
    DISTINCT's clustered distribution (doc_id is a subset of its keys), so
    no second shuffle exists. The scan is pruned to (doc_id, text)."""
    plan = _plan(spark, "winnowing", oracle_sf_dir)
    assert plan.count("Exchange") == 1, plan[:1500]
    assert plan.count("Window") == 1
    assert "lang" not in plan and "source" not in plan


def test_gopher_repetition_zero_shuffle_python_stage(spark, oracle_sf_dir):
    """The registered repetition table is ONE Arrow-batched python stage
    over the pruned scan: no exchange, no join, no window — the
    char_entropy plan shape."""
    plan = _plan(spark, "gopher_repetition", oracle_sf_dir)
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1
    assert "lang" not in plan and "source" not in plan


def test_kmeans_embed_numpy_assignment_no_sortmerge(spark, oracle_sf_dir):
    """The returned relation is the final Lloyd assignment: one
    Arrow-batched numpy stage over the embeddings scan (the centroids
    ride in the kernel's closure) — nothing sort-merges and nothing
    cross-products the corpus against the centroid relation."""
    plan = _plan(spark, "kmeans_embed", oracle_sf_dir)
    assert "MapInPandas" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def _build_jobs(spark, name, sf_dir) -> int:
    """Spark jobs one warm ``Query.build`` runs (its eager training
    rounds): the first build fills the session memos, the second is
    counted in a job group of its own."""
    query = all_queries()[name]
    query.build(spark, sf_dir)
    sc = spark.sparkContext
    group = f"build_jobs_{name}"
    sc.setJobGroup(group, f"{name} build")
    try:
        query.build(spark, sf_dir)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_kmeans_embed_one_job_per_training_round(spark, oracle_sf_dir):
    """The seeds are one job and each of the iters-1 centroid updates is
    one more (_km_step folds the update into the assignment pass); the
    returned final assignment is lazy."""
    from synth_timeseries_data_spark.queries._lloyd import _KM_ITERS

    assert _build_jobs(spark, "kmeans_embed", oracle_sf_dir) == _KM_ITERS


def test_quality_classifier_one_job_per_training_round(spark, oracle_sf_dir):
    """Each training round is one job (the gradient collect); the design
    matrix is a session memo and the weights are a plan literal, so no
    weight relation is broadcast and nothing else runs."""
    from synth_timeseries_data_spark.queries.corpus_mining import _QLR_ROUNDS

    jobs = _build_jobs(spark, "quality_classifier", oracle_sf_dir)
    assert jobs == _QLR_ROUNDS


def test_quality_classifier_round_single_exchange(spark, oracle_sf_dir):
    """One training round over the doc-partitioned memo: the logit
    aggregation and the p ⋈ x join run on the memo's doc_id partitioning,
    the feature-keyed gradient aggregation is the only exchange, nothing
    is broadcast, and the weight literal is folded at planning time."""
    import uuid

    from synth_timeseries_data_spark.queries.corpus_mining import (
        _qlr_fxy,
        _qlr_round_sql,
    )
    from synth_timeseries_data_spark.session import tune_for_input

    tune_for_input(spark, oracle_sf_dir)
    view = f"_qlr_plan_{uuid.uuid4().hex[:8]}"
    _qlr_fxy(spark, oracle_sf_dir).createOrReplaceTempView(view)
    try:
        df = spark.sql(_qlr_round_sql(view, {0: -5, 17: 3_000_000_000}))
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.catalog.dropTempView(view)
    assert plan.count("Exchange") == 1, plan[:3000]
    assert "Exchange hashpartitioning(f#" in plan, plan[:3000]
    assert "BroadcastExchange" not in plan
    assert "split(" not in plan


def test_line_dedup_window_antijoin_shape(spark, oracle_sf_dir):
    """Line dedup: a hash-keyed window MIN stamps first docs, the rebuild
    is an anti-join + ordered doc aggregation over touched docs only —
    nothing cartesian. The covd relation is consumed twice (touched-docs
    semi-join + final row-preserving LEFT join), and Spark re-plans the
    inlined CTE per consumer, so the stamp window legitimately appears
    twice — the same accepted duplication dedup_spans carries at span
    grain."""
    plan = _plan(spark, "line_dedup", oracle_sf_dir)
    assert "Cartesian" not in plan
    # the stamp window appears once, or twice when the covd consumer
    # duplication re-plans it; session state (AQE posture from earlier
    # tests) can add subquery reprints, so assert presence, not an exact
    # count — the load-bearing properties are the window stamp existing
    # and nothing cartesian
    assert plan.count("Window") >= 1


def test_doc_embed_single_exchange_partial_agg(spark, oracle_sf_dir):
    """Featurization: one pruned scan, the word x dim explode partial-
    aggregates map-side to 16 rows per doc before the ONE exchange, no
    joins (weights are hash-derived in-expression, not a relation)."""
    plan = _plan(spark, "doc_embed", oracle_sf_dir)
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "partial_" in plan
    assert plan.count("Scan parquet") == 1


def test_interpolate_and_outliers_single_series_exchange(spark, oracle_sf_dir):
    """Both series operators ride ONE user-keyed exchange: interpolation's
    two bracket frames and the outlier rule's rank/pick passes are window
    work over the same partitioning — no joins anywhere."""
    for name in ("interpolate_ts", "outlier_flags"):
        plan = _plan(spark, name, oracle_sf_dir)
        assert plan.count("Exchange") == 1, name
        assert "Join" not in plan, name
        assert plan.count("Scan parquet") == 1, name


def test_discovery_benchmark_plan_shape(spark, oracle_sf_dir):
    """The composed EP3 plan's 100-TB properties: the screener's literal
    user-id cutoff reaches the events parquet scan (PushedFilters — no row
    group past _GCAP*Vmax users is decoded, the scale-invariance lever),
    the caps-bounded src side of the pair join is BROADCAST (no join
    exchange), and the scan reads only the four needed event columns."""
    plan = _plan(spark, "discovery_benchmark", oracle_sf_dir)
    assert "PushedFilters: [IsNotNull(user_id), LessThan(user_id," in plan, (
        plan[:3000]
    )
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "props" not in plan and "event_type" not in plan


def test_vec_topk_ivf_trained_probe_is_semi_join_shaped(spark, oracle_sf_dir):
    """The trained-IVF search must keep vec_topk_ivf's probe shape: the
    candidate relation is broadcast into the exact-cosine verify (the
    inverted-file probe — never a corpus-wide shuffle on the verify)."""
    plan = _plan(spark, "vec_topk_ivf_trained", oracle_sf_dir)
    assert "BroadcastHashJoin" in plan, plan[:3000]


def test_bigram_xent_broadcast_vocab_tf12_unmoved(spark, oracle_sf_dir):
    """unigram_xent's broadcast-vocab shape one order up: the doc-clustered
    tf12 relation joins both corpus-count relations via BroadcastHashJoin
    and never exchanges to (w1, w2) and back; no Window anywhere."""
    plan = _plan(spark, "bigram_xent", oracle_sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "Window" not in plan


def test_asof_join_orders_is_join_free(spark, oracle_sf_dir):
    """The two-table as-of runs as the union-bracket plan: ONE window over
    the tagged union, no join operator anywhere (the oracle side uses
    DuckDB's native ASOF JOIN — the Spark plan must not degenerate into a
    range join or a per-event probe)."""
    plan = _plan(spark, "asof_join_orders", oracle_sf_dir)
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 1


def test_warm_rebuild_compiles_no_generated_class(spark, smoke_sf_dir):
    """The session keeps every generated class it compiled: rebuilding the
    perfbench `queries` mix recompiles nothing. At Spark's default cache of
    100 entries the mix's ~175 classes evict each other: in a fresh session
    the rebuild re-ran Janino on 86 of them, and later warm passes on 20-45."""
    from synth_timeseries_data_spark.session import _CODEGEN_CACHE_ENTRIES

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    queries = all_queries()
    mix = ("pacf", "dedup_clusters", "tfidf_topterms", "kmeans_embed",
           "quality_classifier")

    def one_pass() -> int:
        for name in mix:
            queries[name].build(spark, smoke_sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        return compiles.METRIC_COMPILATION_TIME().getCount()

    before = one_pass()
    assert one_pass() == before
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        _CODEGEN_CACHE_ENTRIES
    )
