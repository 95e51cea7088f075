"""Result invariance under shuffle parallelism.

The engine's cross-engine float discipline (FLOOR/ROUND-micro BIGINT
accumulators, unique-key tiebreaks on every ordering) claims a stronger
property than "matches DuckDB at the default posture": results must be
IDENTICAL under ANY partitioning, because partition count changes the
order in which partial aggregates combine. A plain SUM(double) passes the
oracle gate at one DOP and drifts at another — this file pins the claim
directly by running the float-heavy queries at shuffle DOP 1, 7 and 64
(7 = odd prime, maximally different partial-combine trees) and requiring
bit-identical rows (repr-level: -0.0 vs 0.0 distinct, NaN == NaN).

Queries whose plans read a session-memoized materialized index
(vec_topk_*, embed_neardup, semdedup, minhash_dedup) are excluded: the
cached leaf relation would be reused across DOP switches, making the
comparison vacuous there. Their determinism is pinned by their own
recall/invariant tests instead.
"""

from __future__ import annotations

import pytest

from synth_timeseries_data_spark import session
from synth_timeseries_data_spark.queries import all_queries

from tests.conftest import SF_SMALL

# Float accumulation, libm snapping, rank tiebreaks, Arrow-batched
# histograms, window rollups — the machinery whose combine order varies
# with partitioning.
_QUERIES = (
    "summary_stats",
    "corr_matrix",
    "trend_fit",
    "noise_mixture",
    "sliding_agg",
    "domain_mix",
    "char_entropy",
    "unigram_xent",
    "bigram_xent",
    "zipf_fit",
    "hll_distinct",
    "cms_heavy_hitters",
    "ks_drift",
    "asof_join_orders",
    "dsir_weights",
    "length_percentiles",
    # round-7 additions with float-derived micro-int columns: the budget
    # cumsum/quantization, the jaccard mass, the novelty ratio
    "token_budget_sample",
    "source_overlap",
    "ngram_novelty",
    # round-7 late additions: the decontam cosine (ROUND-6 double) and
    # the span rebuild (exact strings, but the window/semi-join plan must
    # not reorder coverage under a different DOP)
    "embed_decontam",
    "dedup_spans",
    # round-8 additions: the sweep-output FLOOR-micro aggregation (its
    # partial-combine tree varies with DOP over applyInPandas output) and
    # the BPE apply (merge table is session-memoized — fixed across DOP
    # switches by design — but the apply pass, the re-split token counts
    # and the md5 hashes re-run at each DOP)
    "scm_output_stats",
    "bpe_encode",
    # round-8 continuation: kmeans' partial-MIN argmin combine trees and
    # micro-int centroid means, winnowing's window-MIN + distinct under
    # re-partitioned input, line_dedup's first-doc window + ordered
    # rebuild (the dedup_spans class at line grain), the repetition
    # table's per-row folds over re-partitioned scans, and the tokenizer
    # rollup's integer quotients
    "kmeans_embed",
    "winnowing",
    "line_dedup",
    "gopher_repetition",
    "tokenizer_stats",
    # round-8 late additions: the classifier's five training rounds (its
    # gradient partial-combine trees are exactly this test's class), the
    # gap-fill's bracket windows + the error metric's micro sums and
    # snapped sqrt, the rank-pick outlier rule, the hashed projections,
    # and the capped fingerprint self-join
    "quality_classifier",
    "interpolate_ts",
    "imputation_error",
    "outlier_flags",
    "doc_embed",
    "winnow_dup",
    # round-9 addition: the composed EP3 entry — correlation micro-sums,
    # the IEEE rho + |rho| rank (unique-key tiebreak), and the
    # pair-grouped metric rollup all have DOP-dependent combine trees
    "discovery_benchmark",
    # round-9: lag-aligned correlation micro sums, stack unpivot
    "acf",
    # round-9: integer-state Durbin-Levinson over nano-snapped ACF
    "pacf",
    # round-9: exact-integer CUSUM cumsum + division-first centering
    "cusum_changepoint",
    # round-9: per-pair micro-nat KL integer sums over union vocab
    "source_kl",
    # round-9: Gumbel-top-k selection keys (micro-nat integer compares)
    "dsir_resample",
)

_DOPS = (1, 7, 64)


def _rows(spark, name: str) -> list[str]:
    df = all_queries()[name].build(spark, SF_SMALL)
    # repr is the shortest round-trip float form: distinct bit patterns of
    # distinct values stay distinct (incl. -0.0 vs 0.0) and NaN == NaN.
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", _QUERIES)
def test_results_invariant_under_shuffle_dop(spark, name, monkeypatch):
    # Pin the posture: the registry's tune_for_input must not override the
    # DOP under test, and AQE's runtime coalescing is disabled so DOP=64
    # really combines 64 ways instead of being merged back to a few tasks.
    monkeypatch.setattr(session, "tune_for_input", lambda spark, sf_dir: None)
    orig_dop = spark.conf.get("spark.sql.shuffle.partitions")
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        baseline = None
        for dop in _DOPS:
            spark.conf.set("spark.sql.shuffle.partitions", str(dop))
            got = _rows(spark, name)
            assert got, f"{name} returned no rows at dop={dop}"
            if baseline is None:
                baseline = got
            else:
                assert got == baseline, (
                    f"{name} diverges between dop={_DOPS[0]} and dop={dop}"
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_dop)
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
