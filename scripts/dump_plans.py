"""Dump formatted physical plans for flagship queries into PLANS.md.

The committed artifact lets a reviewer audit scan pruning (ReadSchema),
join strategies (BroadcastHashJoin vs SortMergeJoin), whole-stage codegen
spans, and exchange counts without running Spark. Regenerate with:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from synth_timeseries_data_spark.queries import all_queries  # noqa: E402
from synth_timeseries_data_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# The queries whose physical shape carries the 100 TB argument.
FLAGSHIPS = [
    ("lag_features", "window spine: scan → single shuffle on user_id → lags"),
    ("asof_lag", "nearest-abs as-of: sorted bracket + rank-1 argmin, O(n) rows"),
    ("revenue_by_nation", "star join: fact-fact shuffle + broadcast dims"),
    ("minhash_dedup", "LSH index scan → bucket self-join → array-intersect verify"),
    ("embed_neardup", "ANN index pair → bucket self-join → exact-cosine verify"),
    ("summary_stats", "single-pass partial+final aggregate, micro-bigint sums"),
    ("stratified_sample", "broadcast literal dim + shuffle-free filter"),
    ("edge_tensor", "domain × edges broadcast join + pivot"),
    ("tfidf_topterms", "broadcast-df: exchange-free tf agg + partial-distinct df broadcast back + WindowGroupLimit top-k"),
    ("corpus_filter", "curation funnel: gates as projections + text-hash dedup window + rollup"),
    ("substring_dup", "one aggregation by run hash: collect_set + HAVING cap + in-bucket pair explode, no joins"),
    ("char_entropy", "zero-shuffle Arrow-batched histogram (mapInPandas over the pruned scan)"),
    ("unigram_xent", "broadcast-vocab: tf never moves, vocab partial-aggs then broadcasts back"),
    ("dsir_weights", "DSIR log-ratio: xent's broadcast-vocab shape + normalizer window on the vocab-sized side only"),
    ("vec_topk_pq", "PQ codes scan + literal ADC lookup-aggregate + shortlist-first exact re-rank (r8: no qd join)"),
    ("bpe_encode", "BPE apply: literal merge table, one map-only pass of chained REPLACEs, no fact shuffle"),
    ("pack_bpe", "encode→pack composition: bpe relation into md5-bucketed cumsum windows"),
    ("perplexity_buckets", "CCNet terciles: xent's broadcast-vocab pass + one lang-keyed rank window"),
    ("scm_output_stats", "sweep-output certificate: applyInPandas config group + FLOOR-micro aggregate"),
    ("neardup_survivors", "broadcast drop-set left join + per-source rollup"),
    ("plot_frames", "G19 bundle union: three independent frame branches (fit broadcast-join-back, window histogram, pattern agg)"),
    ("curate_decisions", "curation decisions audit: single corpus scan feeding gate + dedup + gopher + dsir columns"),
    ("token_budget_sample", "mixture materialization: one corpus pass, source-keyed cumsum window, literal budget-map filter (r8: join-free)"),
    ("length_percentiles", "exact quantiles via count-by-value histogram: partial counts before the exchange, rank walk over histogram rows"),
    ("source_overlap", "near-dup leakage matrix: session pair index + two doc_id→source lookups + pair-keyed rollup"),
    ("ngram_novelty", "join-free first-seen novelty: one hash-keyed collect_set agg + linear occurrence explode"),
    ("dedup_spans", "span excision: run-keyed first-doc window + stale-only x8 coverage + touched-docs-only rebuild"),
    ("winnowing", "MOSS fingerprints: position explode + ONE doc-keyed window (rightmost-min encoded in the value) + exchange-free DISTINCT"),
    ("gopher_repetition", "repetition table: zero-exchange Arrow-batched python stage over the pruned scan (fold twin retired by A/B)"),
    ("line_dedup", "line-grain dedup: hash-keyed sortless first-doc window + touched-docs-only anti-join rebuild"),
    ("kmeans_embed", "Lloyd k-means: seeds + 2 training rounds of one job each (numpy assignment emitting per-batch K*dims partial micro sums, one (c, dim) agg read on the driver); the plan is the lazy final assignment, mapInPandas over the pruned scan"),
    ("quality_classifier", "trained quality filter: session-materialized doc-partitioned design matrix with labels, 5 integer-state LR rounds of one job each (weights as a plan literal, the feature-keyed gradient agg the only exchange); the plan is the exchange-free scoring pass"),
    ("doc_embed", "hashing-trick doc vectors: word x dim explode partial-aggregated to 16 rows/doc before ONE exchange"),
    ("interpolate_ts", "series gap-fill: two ignore-nulls bracket windows over one series-keyed sort, no joins"),
    ("outlier_flags", "median/MAD outliers: exact rank picks, three window passes over one series exchange"),
    ("winnow_dup", "MOSS candidate pairs: capped-fingerprint equality self-join, never doc x doc"),
    ("imputation_error", "gap-fill benchmark metric: interpolate windows + truth join + event-type-bounded micro-sum rollup"),
    ("discovery_benchmark", "EP3 composed: literal user-cutoff pushed to the events scan, caps-bounded src broadcast into the lag pair join, single-scan pair-grouped metric rollup (r9)"),
    ("vec_topk_ivf_trained", "trained-quantizer IVF: numpy-trained Lloyd quantizer inlined as VALUES, index relation materialized once, probe-2 semi-join + broadcast exact-cosine verify (r9)"),
    ("acf", "per-series autocorrelation: ONE series window computes all 8 lag columns, stack() unpivots in the same pass (r9)"),
    ("source_kl", "pairwise unigram KL: telescoped to per-source scalars + one term equi-join over the session-materialized count relation (r9)"),
    ("dsir_resample", "Gumbel-top-k selection: weights pipeline into TakeOrderedAndProject, footer-derived budget, no global sort (r9)"),
    ("pacf", "Durbin-Levinson partial autocorrelation: acf's single series window + 36-col pivot + integer-state numpy mapInPandas fold"),
    ("cusum_changepoint", "CUSUM argmax: ONE series exchange carries cumsum + rank windows, rn=1 reduces in-stage (r9)"),
    ("bigram_xent", "bigram LM cross-entropy: doc-clustered tf12 never moves, bigram vocab partial-aggs then broadcasts back, size-gated (r9)"),
    ("zipf_fit", "Zipf OLS per source: explode → tf agg → vocab-sized rank window → exact micro-nat regression fold (r9)"),
    ("hll_distinct", "HyperLogLog registers: token stream never shuffles — 4096-bucket MAX partials per partition, source-bounded estimate fold (r9)"),
    ("cms_heavy_hitters", "count-min sketch: 16,384 SUM-mergeable cells with map-side partials + top-k probe join on 4 cells/candidate (r9)"),
    ("ks_drift", "exact pairwise KS: per-source length histogram, grid equality-join + window cumsum, pair join on statistics-sized relations (r9)"),
    ("asof_join_orders", "two-table as-of: join-free union bracket — ONE customer exchange, orders dedup folded into the union window's last-value carry (r10)"),
    ("benchmark_scores", "EP1→EP3 composed: applyInPandas sweep generation + config-keyed lag self-join screener + broadcast literal meta/ground-truth + single-scan pair-grouped metric tail (r10)"),
]


def main() -> None:
    spark = get_session("plan-dump")
    out = io.StringIO()
    out.write(
        "# PLANS — formatted physical plans of the flagship queries\n\n"
        f"Generated by `python scripts/dump_plans.py` at {SF_DIR} "
        "(regenerate after plan-affecting changes; plan audits in "
        "tests/test_plans.py enforce the load-bearing properties in CI).\n"
    )
    qs = all_queries()
    for name, why in FLAGSHIPS:
        df = qs[name].build(spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n## {name}\n\n{why}\n\n```\n{buf.getvalue().strip()}\n```\n")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out.getvalue())
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
