"""Size-gated broadcast hints (functions/scale.py::broadcast_if_small).

The sf100 ladder caught a forced ``F.broadcast`` on a fact-proportional
relation (revenue_by_nation's one-row-per-order bridge, ~2.4 GB at 150M
orders) blowing ``spark.driver.maxResultSize``. These tests pin the gate:
under the cap the hint fires (BroadcastHashJoin even with auto-broadcast
off); over the cap the hint is absent and Catalyst plans a shuffle join.
"""

from __future__ import annotations

import contextlib

from synth_timeseries_data_spark.functions.scale import (
    BROADCAST_CAP_BYTES,
    broadcast_if_small,
)
from synth_timeseries_data_spark.queries import all_queries
from synth_timeseries_data_spark.sources import load, table_bytes, table_rows


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_table_rows_exact_counts(oracle_sf_dir):
    # footer metadata, no Spark job; sf0.01 fixture cardinalities
    assert table_rows(oracle_sf_dir, "nation") == 25
    assert table_rows(oracle_sf_dir, "region") == 5
    assert table_rows(oracle_sf_dir, "orders") > 1000


def test_table_rows_unknown_is_huge(tmp_path):
    # unreadable footer => treat as huge => never force a broadcast
    assert table_rows(str(tmp_path), "nope") >= 2**62


def test_gate_hints_under_cap(spark, oracle_sf_dir):
    orders = load(spark, oracle_sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, oracle_sf_dir, "customer").select("c_custkey", "c_nationkey")
    est = table_rows(oracle_sf_dir, "customer") * 16
    assert est < BROADCAST_CAP_BYTES
    # auto-broadcast off isolates the HINT as the only broadcast source
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        j = orders.join(
            broadcast_if_small(cust, est),
            orders.o_custkey == cust.c_custkey,
        )
        assert "BroadcastHashJoin" in _physical(j)


def test_gate_withholds_hint_over_cap(spark, oracle_sf_dir):
    orders = load(spark, oracle_sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, oracle_sf_dir, "customer").select("c_custkey", "c_nationkey")
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        j = orders.join(
            broadcast_if_small(cust, BROADCAST_CAP_BYTES + 1),
            orders.o_custkey == cust.c_custkey,
        )
        plan = _physical(j)
        assert "BroadcastHashJoin" not in plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_revenue_by_nation_still_broadcasts_at_fixture_scale(
    spark, oracle_sf_dir
):
    # the gate must not cost the small-SF plan its broadcasts
    plan = _physical(all_queries()["revenue_by_nation"].build(spark, oracle_sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_revenue_scale_branch_bit_identical(spark, oracle_sf_dir, monkeypatch):
    """The non-broadcast branch (per-order pre-agg + shuffle join) must give
    byte-identical results: micro-bigint partial sums are associative, so
    re-summing per-order partials per nation equals the one-level sum."""
    import synth_timeseries_data_spark.queries.relational as rel

    build = all_queries()["revenue_by_nation"].build
    base = {tuple(r) for r in build(spark, oracle_sf_dir).collect()}

    monkeypatch.setattr(rel, "BROADCAST_CAP_BYTES", 0)
    # auto-broadcast off: at fixture scale Catalyst would still broadcast the
    # tiny unhinted bridge on stats — hide that to see the at-scale shape
    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        scaled_df = build(spark, oracle_sf_dir)
        plan = _physical(scaled_df)
        # the order bridge must NOT be broadcast in this branch
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # per-order pre-agg present: partial+final around the orderkey
        # exchange, then partial+final for the nation rollup
        assert plan.count("HashAggregate") >= 4
        assert {tuple(r) for r in scaled_df.collect()} == base


def test_vocab_gate_strips_hint_in_plan(spark, oracle_sf_dir, monkeypatch):
    """The corpus-proportional vocab broadcasts in tfidf_topterms /
    unigram_xent / bigram_xent / dsir_weights are size-gated on on-disk
    documents bytes. Under the cap every hinted join is a
    BroadcastHashJoin (bigram_xent hints two); with the cap monkeypatched
    to 0 (any input is 'over the gate') EVERY hint must be gone from the
    physical plan — no BroadcastHashJoin at all, so one surviving hint of
    bigram's pair fails — pinning that the gate actually changes the
    plan, not just which SQL string is picked (their result equality is
    pinned in
    test_corpus_ext.py::test_vocab_shuffle_variants_equal_broadcast_forms).
    Auto-broadcast is disabled so only the HINT can produce a
    BroadcastHashJoin — with it on, Catalyst's own stats would broadcast
    the fixture-small vocab either way (which is exactly the runtime
    freedom the gate is meant to hand back)."""
    from synth_timeseries_data_spark.queries import llm_pipeline as lp

    with _conf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1"):
        for name, n_hints in (
            ("tfidf_topterms", 1),
            ("unigram_xent", 1),
            ("bigram_xent", 2),
            ("dsir_weights", 1),
        ):
            build = all_queries()[name].build
            hinted = _physical(build(spark, oracle_sf_dir))
            assert hinted.count("BroadcastHashJoin") == n_hints, name
            monkeypatch.setattr(lp, "_VOCAB_BCAST_DOCS_BYTES", 0)
            try:
                gated = _physical(build(spark, oracle_sf_dir))
            finally:
                monkeypatch.undo()
            assert "BroadcastHashJoin" not in gated, (name, gated[:1500])
            assert ("SortMergeJoin" in gated) or ("ShuffledHashJoin" in gated), (
                name, gated[:1500],
            )


def test_vocab_gate_follows_rewritten_documents(tmp_path, monkeypatch):
    """The gate's byte statistic is memoized under the dataset
    fingerprint: a documents.parquet rewritten larger at the same path
    in the same process must flip the gate to the hint-stripped text,
    not keep the decision taken on the old file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from synth_timeseries_data_spark.queries import llm_pipeline as lp

    path = tmp_path / "documents.parquet"

    def write(n: int) -> int:
        texts = [f"w{i} x{i % 7} y{i * 31}" for i in range(n)]
        pq.write_table(pa.table({"doc_id": list(range(n)), "text": texts}), path)
        return os.path.getsize(path)

    small = write(10)
    monkeypatch.setattr(lp, "_VOCAB_BCAST_DOCS_BYTES", small + 1)
    assert lp._vocab_sql(str(tmp_path), lp._XENT_SPARK) == lp._XENT_SPARK
    assert write(5000) > small + 1
    gated = lp._vocab_sql(str(tmp_path), lp._XENT_SPARK)
    assert "BROADCAST" not in gated and gated != lp._XENT_SPARK


def test_table_rows_nested_dataset_and_empty_dir(tmp_path, oracle_sf_dir):
    """Hive-partitioned layouts nest part files under key=value dirs; the
    footer count must WALK the tree (a flat listing returned 0 — which the
    size gates read as 'tiny, force the broadcast', the exact
    maxResultSize failure the 2**62 fail-safe exists to prevent). A
    dataset dir with zero footers is UNKNOWN (2**62), never 0."""
    import shutil

    src = f"{oracle_sf_dir}/nation.parquet"
    nested = tmp_path / "nation.parquet" / "source=a"
    nested.mkdir(parents=True)
    shutil.copy(src, nested / "part-0.parquet")
    assert table_rows(str(tmp_path), "nation") == 25

    (tmp_path / "empty.parquet").mkdir()
    assert table_rows(str(tmp_path), "empty") >= 2**62


def test_docs_disk_bytes_nested_dataset_and_empty_dir(tmp_path, oracle_sf_dir):
    """Same asymmetry for the vocab-broadcast gate's byte statistic
    (table_bytes on documents): nested part files must be summed
    recursively, and an existing-but-empty dataset dir is unknown/huge
    (keeps the shuffle-safe plan), not 0."""
    import os
    import shutil

    nested = tmp_path / "documents.parquet" / "source=a"
    nested.mkdir(parents=True)
    shutil.copy(f"{oracle_sf_dir}/nation.parquet", nested / "part-0.parquet")
    expect = os.path.getsize(nested / "part-0.parquet")
    assert table_bytes(str(tmp_path), "documents") == expect

    empty = tmp_path / "emptycase"
    (empty / "documents.parquet").mkdir(parents=True)
    assert table_bytes(str(empty), "documents") >= 2**62
