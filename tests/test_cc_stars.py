"""Connected components via alternating large-star/small-star
(queries/llm_pipeline.py::_cc_alternating_stars).

The VERDICT-r06 adversarial case for the old min-label propagation: a
near-dup CHAIN of length L needs L propagation rounds, and a fixed round
bound silently mislabels anything longer. The star contraction is
O(log n) rounds on any shape — these tests pin both the labels and the
round count on exactly that fixture, plus mixed shapes and degenerate
inputs, against a plain-python union-find reimplementation.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from synth_timeseries_data_spark.queries.llm_pipeline import (
    _cc_alternating_stars,
    _cc_hybrid,
)


def _uf_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Independent oracle: union-find → node -> component-min."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _run(spark, pairs: list[tuple[int, int]]):
    edges = spark.createDataFrame(pairs, "a long, b long")
    labels, rounds = _cc_alternating_stars(edges)
    got = {r["v"]: r["label"] for r in labels.collect()}
    return got, rounds


def test_long_chain_labels_and_log_rounds(spark):
    # 300-link chain: min-label propagation needs 300 rounds (the old
    # 20-round bound returned WRONG labels here); stars need ~2·log2(300).
    n = 300
    pairs = [(i, i + 1) for i in range(n)]
    got, rounds = _run(spark, pairs)
    assert got == _uf_components(pairs)
    assert set(got.values()) == {0}
    assert rounds <= 2 * math.ceil(math.log2(n)) + 4, rounds


def test_chain_reversed_ids_and_mixed_shapes(spark):
    # descending chain (worst orientation), a star, a triangle, an
    # isolated pair — one graph, every component labeled by its min
    chain = [(i + 1, i) for i in range(900, 950)]
    star = [(1000, v) for v in range(1001, 1020)]
    tri = [(5, 6), (6, 7), (7, 5)]
    pair = [(2000, 1999)]
    pairs = chain + star + tri + pair
    got, rounds = _run(spark, pairs)
    assert got == _uf_components(pairs)
    assert rounds <= 16, rounds


def test_duplicate_and_self_edges_ignored(spark):
    pairs = [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4)]
    got, _ = _run(spark, pairs)
    # self-loop (3,3) contributes no component; dupes are harmless
    assert got == {1: 1, 2: 1, 4: 1}


def test_hybrid_shallow_graph_converges_in_propagation(spark):
    # stars/triangles/pairs: diameter ≤ 2 — the hybrid must finish inside
    # its cheap propagation phase (≤ 3 rounds), labels = component min
    pairs = (
        [(100, v) for v in range(101, 110)]
        + [(5, 6), (6, 7), (7, 5)]
        + [(2000, 1999)]
    )
    edges = spark.createDataFrame(pairs, "a long, b long")
    labels, rounds = _cc_hybrid(edges)
    assert {r["v"]: r["label"] for r in labels.collect()} == _uf_components(pairs)
    assert rounds <= 3, rounds


def test_hybrid_long_chain_falls_back_to_stars(spark):
    # 300-link chain: propagation cannot converge in 3 rounds; the hybrid
    # must hand off to star contraction and still label everything 0
    n = 300
    pairs = [(i, i + 1) for i in range(n)]
    edges = spark.createDataFrame(pairs, "a long, b long")
    labels, rounds = _cc_hybrid(edges)
    got = {r["v"]: r["label"] for r in labels.collect()}
    assert got == _uf_components(pairs)
    assert set(got.values()) == {0}
    # 3 propagation rounds + O(log n) star rounds
    assert 3 < rounds <= 3 + 2 * math.ceil(math.log2(n)) + 4, rounds


def test_hybrid_random_graphs_match_union_find(spark):
    # seeded random graphs across the density spectrum (sparse fragments,
    # near-tree, dense blob): hybrid labels == union-find component mins,
    # whichever phase answers
    import random

    rng = random.Random(0xC0FFEE)
    for n_nodes, n_edges in ((60, 25), (80, 80), (40, 200)):
        pairs = [
            (rng.randrange(n_nodes), rng.randrange(n_nodes))
            for _ in range(n_edges)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        edges = spark.createDataFrame(pairs, "a long, b long")
        labels, _ = _cc_hybrid(edges)
        got = {r["v"]: r["label"] for r in labels.collect()}
        assert got == _uf_components(pairs), (n_nodes, n_edges)


def test_driver_union_find_matches_hybrid_and_stars(spark):
    # r10 optimization: below the pair gate dedup_clusters labels come
    # from _cc_driver_labels (driver union-find). Pin it label-identical
    # to BOTH distributed algorithms on every shape above plus seeded
    # random graphs — the three paths must be indistinguishable.
    import random

    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _cc_driver_labels,
    )

    rng = random.Random(0xBEEF)
    cases = [
        [(i, i + 1) for i in range(120)],                      # chain
        [(1000, v) for v in range(1001, 1020)] + [(5, 6)],     # star + pair
        [(1, 2), (2, 1), (1, 2), (3, 3), (2, 4)],              # dupes/self
    ]
    for n_nodes, n_edges in ((60, 25), (80, 80), (40, 200)):
        cases.append(
            [
                (rng.randrange(n_nodes), rng.randrange(n_nodes))
                for _ in range(n_edges)
            ]
        )
    for pairs in cases:
        clean = [(a, b) for a, b in pairs if a != b]
        want = _uf_components(clean)
        assert _cc_driver_labels(pairs) == want
        edges = spark.createDataFrame(pairs, "a long, b long")
        hyb, _ = _cc_hybrid(edges)
        assert {r["v"]: r["label"] for r in hyb.collect()} == want


def test_dedup_clusters_gate_paths_row_equal(spark, oracle_sf_dir):
    """The registered query takes the driver union-find branch at the
    oracle tier, and the oracle gate checks its rows against DuckDB. The
    distributed branch (_cc_hybrid, the one real scale takes) must emit
    IDENTICAL rows when run directly on the same session-memoized pair
    relation — so both CC branches are attested at that tier."""
    from collections import Counter

    from synth_timeseries_data_spark.functions.materialize import materialized
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.queries.llm_pipeline import minhash_dedup

    registered = sorted(
        map(tuple, all_queries()["dedup_clusters"]
            .build(spark, oracle_sf_dir).collect())
    )
    pairs = materialized(
        spark,
        f"mh_pairs|{oracle_sf_dir}",
        lambda: minhash_dedup(spark, oracle_sf_dir).select(
            "doc_a", "doc_b", "jaccard"
        ),
    ).select("doc_a", "doc_b")
    labels, _ = _cc_hybrid(pairs.toDF("a", "b"))
    lab = {r["v"]: r["label"] for r in labels.collect()}
    size = Counter(lab.values())
    distributed = sorted((v, rep, size[rep]) for v, rep in lab.items())
    assert len(registered) > 0 and registered == distributed


def test_empty_edges(spark):
    edges = (
        spark.createDataFrame([(1, 2)], "a long, b long").where(F.lit(False))
    )
    labels, rounds = _cc_alternating_stars(edges)
    assert labels.count() == 0
    assert rounds <= 2
