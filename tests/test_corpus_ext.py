"""Semantic properties of the round-5 corpus-assembly operators beyond the
oracle gate: chunk coverage arithmetic, packing reconstruction, planted
cross-split leaks, and planted semantic duplicates."""

from __future__ import annotations

import hashlib

import pytest

from synth_timeseries_data_spark.queries import all_queries

# ---------------------------------------------------------------------------
# doc_chunks
# ---------------------------------------------------------------------------


def _expected_chunks(n: int, chunk: int = 64, stride: int = 48):
    """Brute-force chunk layout for an n-token doc."""
    last_k = 0 if n <= chunk else (n - chunk + stride - 1) // stride
    out = []
    for k in range(last_k + 1):
        start = 1 + k * stride
        out.append((k, start, min(chunk, n - start + 1)))
    return out


def test_doc_chunks_covers_every_token_exactly(spark, oracle_sf_dir):
    """Chunk starts/lengths must match the brute-force layout for every doc,
    which implies full coverage (no token outside a chunk) and the 16-token
    overlap between consecutive chunks."""
    from synth_timeseries_data_spark.sources import load
    from pyspark.sql import functions as F

    docs = {
        r.doc_id: r.n
        for r in load(spark, oracle_sf_dir, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    rows = all_queries()["doc_chunks"].build(spark, oracle_sf_dir).collect()
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(r.doc_id, []).append((r.chunk_id, r.start_tok, r.n_tok))
    assert set(got) == set(docs)
    for doc_id, n in docs.items():
        assert sorted(got[doc_id]) == _expected_chunks(n), (doc_id, n)


def test_doc_chunks_fingerprint_is_md5_of_slice(spark):
    """Planted doc: the chunk_fp must be the md5 of exactly the sliced
    tokens (space-joined), including the short tail chunk."""
    words = [f"w{i}" for i in range(120)]  # 120 tokens -> chunks at 1, 49, 97
    text = " ".join(words)
    spark.sql(
        f"SELECT * FROM (VALUES (1, '{text}')) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_ext import _DOC_CHUNKS_SPARK

        rows = {r.chunk_id: r for r in spark.sql(_DOC_CHUNKS_SPARK).collect()}
        assert set(rows) == {0, 1, 2}
        for k, start, ntok in [(0, 1, 64), (1, 49, 64), (2, 97, 24)]:
            sl = words[start - 1 : start - 1 + 64]
            fp = hashlib.md5(" ".join(sl).encode()).hexdigest()
            assert rows[k].start_tok == start
            assert rows[k].n_tok == ntok
            assert rows[k].chunk_fp == fp, k
    finally:
        spark.catalog.dropTempView("documents_par")


# ---------------------------------------------------------------------------
# pack_sequences
# ---------------------------------------------------------------------------


def test_pack_sequences_matches_bruteforce_reconstruction(spark, oracle_sf_dir):
    """Recompute the packing driver-side (md5 buckets, doc_id order, running
    token sum, floor-div window id) and require the Spark manifest to match
    it EXACTLY — pins bucket assignment, ordering, and straddle arithmetic."""
    import duckdb

    con = duckdb.connect()
    base = con.execute(
        "SELECT doc_id, len(str_split(text, ' ')) AS n FROM "
        f"read_parquet('{oracle_sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()

    expect: dict[tuple, list] = {}
    cum: dict[int, int] = {}
    for doc_id, n in base:
        b = (
            int(
                hashlib.md5(f"pack|{doc_id}".encode()).hexdigest()[:15],
                16,
            )
            % 64
        )
        before = cum.get(b, 0)
        cum[b] = before + n
        seq = before // 2048
        key = (b, seq)
        expect.setdefault(key, [0, 0])
        expect[key][0] += 1
        expect[key][1] += n

    rows = all_queries()["pack_sequences"].build(spark, oracle_sf_dir).collect()
    got = {(r.bucket, r.seq_id): [r.n_docs, r.n_tokens] for r in rows}
    assert got == expect
    # fill ratio is n_tokens / capacity
    for r in rows:
        assert r.fill_ratio == pytest.approx(r.n_tokens / 2048.0, abs=1e-6)
    # windows are contiguous within a bucket
    by_bucket: dict[int, list] = {}
    for b, s in got:
        by_bucket.setdefault(b, []).append(s)
    for b, seqs in by_bucket.items():
        assert sorted(seqs) == list(range(len(seqs))), b


# ---------------------------------------------------------------------------
# decontam_ngram
# ---------------------------------------------------------------------------


def test_decontam_detects_planted_8gram_leak(spark):
    """A verbatim 8-token run shared train->test MUST be reported (with
    correct run/doc counts); a 7-token overlap must NOT."""
    from synth_timeseries_data_spark.queries.corpus_ext import _DECONTAM_SPARK
    from synth_timeseries_data_spark.queries import _SPARK_D

    bucket = _SPARK_D["bucket"]("split", "id")
    buckets = {
        r.id: r.b
        for r in spark.sql(
            f"SELECT id, CAST({bucket} % 100 AS INT) AS b "
            "FROM (SELECT explode(sequence(0, 300)) AS id)"
        ).collect()
    }
    train_ids = [i for i, b in buckets.items() if b < 80]
    test_ids = [i for i, b in buckets.items() if b >= 90]

    leak = "a1 a2 a3 a4 a5 a6 a7 a8"  # exactly 8 tokens
    seven = "b1 b2 b3 b4 b5 b6 b7"
    docs = [
        (train_ids[0], f"intro words {leak} trailing text here"),
        (test_ids[0], f"{leak} other tail content words"),  # leaked
        (train_ids[1], f"{seven} x filler filler2 filler3"),
        (test_ids[1], f"{seven} y pad pad2 pad3"),  # 7-gram only: clean
    ]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        rows = {r.test_doc: r for r in spark.sql(_DECONTAM_SPARK).collect()}
        assert set(rows) == {test_ids[0]}
        assert rows[test_ids[0]].n_leaked_ngrams == 1
        assert rows[test_ids[0]].n_train_docs == 1
    finally:
        spark.catalog.dropTempView("documents_par")


def test_decontam_spark_matches_duckdb_on_planted_data(spark):
    """Cross-engine pin on data with actual leaks (the fixture corpus may
    have few): the dialect twins must agree row-for-row."""
    import duckdb

    from synth_timeseries_data_spark.queries.corpus_ext import _decontam_sql
    from synth_timeseries_data_spark.queries.llm_pipeline import _DUCK_D, _SPARK_D

    # ids 0..120 hashed into splits inside the SQL itself; shared run text
    base = "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10"
    docs = [(i, f"{base} u{i} v{i} w{i}") for i in range(120)]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        got = sorted(
            (r.test_doc, r.n_leaked_ngrams, r.n_train_docs)
            for r in spark.sql(_decontam_sql(_SPARK_D)).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
        )
        want = sorted(map(tuple, con.execute(_decontam_sql(_DUCK_D)).fetchall()))
        con.close()
        assert got == want
        assert len(got) > 0  # the planted run leaks for every test doc
    finally:
        spark.catalog.dropTempView("documents_par")


# ---------------------------------------------------------------------------
# bloom_decontam
# ---------------------------------------------------------------------------


def _exact_bloom_ground_truth(sf_dir: str):
    """Independent pure-python recomputation of the exact leak set: per
    train doc, the distinct 8-token runs it shares verbatim with any
    test-split doc (same md5-bucket split rule, same tokenization)."""
    import hashlib

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]

    def split_of(doc_id: int) -> str | None:
        h = hashlib.md5(f"split|{doc_id}".encode()).hexdigest()
        b = int(h[:15], 16) % 100
        return "train" if b < 80 else ("test" if b >= 90 else None)

    grams: dict[str, dict[str, set]] = {"train": {}, "test": {}}
    train_docs = set()
    for r in docs.itertuples(index=False):
        sp = split_of(r.doc_id)
        if sp is None:
            continue
        ws = str(r.text).split(" ")
        if sp == "train":
            train_docs.add(r.doc_id)
        if len(ws) < 8:
            continue
        for i in range(len(ws) - 7):
            g = " ".join(ws[i:i + 8])
            grams[sp].setdefault(g, set()).add(r.doc_id)
    exact: dict[int, int] = {}
    for g, tr in grams["train"].items():
        if g in grams["test"]:
            for d in tr:
                exact[d] = exact.get(d, 0) + 1
    return exact, train_docs


def test_bloom_decontam_no_false_negatives_and_bounded_fp(spark, oracle_sf_dir):
    """The Bloom probe's structural guarantees against an independent
    python recomputation: every truly-leaked train doc is flagged with
    n_flagged_runs >= its exact distinct leaked-run count (no false
    negatives — Bloom filters cannot miss), and the 64c sizing rule
    keeps false-positive FLAGS to a handful of docs (per-gram FPR
    ~1.4e-5; per-doc well under 1%)."""
    from synth_timeseries_data_spark.queries import all_queries

    exact, train_docs = _exact_bloom_ground_truth(oracle_sf_dir)
    got = {
        r.train_doc: r.n_flagged_runs
        for r in all_queries()["bloom_decontam"]
        .build(spark, oracle_sf_dir)
        .collect()
    }
    # no false negatives, and counts dominate the exact counts
    for d, n_exact in exact.items():
        assert d in got and got[d] >= n_exact, (d, n_exact, got.get(d))
    # false-positive FLAGS bounded: a handful of docs at worst
    fp_docs = set(got) - set(exact)
    clean = len(train_docs) - len(exact)
    assert len(fp_docs) <= max(3, 0.02 * clean), (len(fp_docs), clean)
    assert len(exact) > 0  # the fixture must actually exercise the leak path


def test_bloom_decontam_spark_matches_duckdb_on_planted_data(spark):
    """Cross-engine pin on planted data: the materialized-g Spark plan and
    the single-statement DuckDB oracle must agree row-for-row (the
    positions ARE the contract — both engines slice the same md5)."""
    import duckdb

    from synth_timeseries_data_spark.queries.corpus_ext import (
        _BLOOM_DC_DUCK,
    )
    from synth_timeseries_data_spark.queries import all_queries  # noqa: F401

    base = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"
    docs = [(i, f"{base} u{i} v{i} w{i}") for i in range(120)]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.functions.materialize import (
            materialized,
        )
        from synth_timeseries_data_spark.queries.corpus_ext import (
            _BLOOM_TAIL_SPARK,
            _bloom_g_spark,
        )

        g = materialized(
            spark, "bloomdc|planted-test",
            lambda: spark.sql(_bloom_g_spark()),
        )
        g.createOrReplaceTempView("bloom_g")
        got = sorted(
            (r.train_doc, r.n_flagged_runs)
            for r in spark.sql(_BLOOM_TAIL_SPARK).collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM (VALUES {values}) "
            "AS t(doc_id, text)"
        )
        want = sorted(map(tuple, con.execute(_BLOOM_DC_DUCK).fetchall()))
        con.close()
        assert got == want
        assert len(got) > 0  # planted run leaks into every train doc
    finally:
        spark.catalog.dropTempView("documents_par")


# ---------------------------------------------------------------------------
# semdedup
# ---------------------------------------------------------------------------


def _write_embeddings(tmp_path, vecs):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([0] * len(vecs), pa.int32()),
        }
    )
    pq.write_table(table, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_semdedup_output_invariants(spark, oracle_sf_dir):
    rows = all_queries()["semdedup"].build(spark, oracle_sf_dir).collect()
    assert len(rows) == len({r.vec_id for r in rows})  # one verdict per vector
    for r in rows:
        if r.is_kept:
            assert r.dup_of is None and r.max_cos is None
        else:
            assert r.dup_of is not None and r.dup_of < r.vec_id
            assert r.max_cos >= 0.3


def test_semdedup_drops_planted_duplicate(spark, tmp_path):
    """Two identical vectors (plus orthogonal-ish noise vectors) MUST land
    in one cluster, and the higher id must be dropped with the lower id as
    witness at cosine 1.0."""
    import random

    rng = random.Random(7)
    dup = [rng.uniform(-1, 1) for _ in range(64)]
    vecs = [dup, dup] + [
        [rng.uniform(-1, 1) for _ in range(64)] for _ in range(20)
    ]
    sf_dir = _write_embeddings(tmp_path, vecs)
    rows = {r.vec_id: r for r in all_queries()["semdedup"].build(spark, sf_dir).collect()}
    assert rows[0].is_kept == 1
    assert rows[1].is_kept == 0
    assert rows[1].dup_of == 0
    assert rows[1].max_cos == pytest.approx(1.0, abs=1e-6)
    assert rows[0].cluster_id == rows[1].cluster_id


def test_semdedup_numpy_assignment_bitexact_vs_sql(spark, duck, oracle_sf_dir):
    """The numpy-trained, blocked-numpy Arrow assignment must produce
    EXACTLY the DuckDB twin's (vec_id, c) relation at the same K — the
    FLOOR-micro distances and first-min argmin are the same integer
    arithmetic by construction."""
    from synth_timeseries_data_spark.queries.corpus_ext import (
        _sd_assign_numpy,
        _sd_assign_sql,
    )

    for k in (32, 256):  # gate-scale K and a scale-tier K
        duck_rows = sorted(duck.execute(_sd_assign_sql(k)).fetchall())
        np_rows = sorted(
            (r.vec_id, r.c)
            for r in _sd_assign_numpy(spark, k, oracle_sf_dir).collect()
        )
        assert np_rows == duck_rows, k


def test_length_percentiles_match_numpy_rank_semantics(spark, oracle_sf_dir):
    """Exact order statistics: the q-quantile must be the ceil(q*n)-th
    smallest token count per source — checked against a driver-side numpy
    sort of the same data (independent of both engines' SQL)."""
    import math

    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.sources import load

    got = {
        r.source: r
        for r in all_queries()["length_percentiles"]
        .build(spark, oracle_sf_dir)
        .collect()
    }
    docs = (
        load(spark, oracle_sf_dir, "documents")
        .selectExpr("source", "size(split(text, ' ')) AS n")
        .collect()
    )
    by_src: dict[str, list[int]] = {}
    for r in docs:
        by_src.setdefault(r.source, []).append(r.n)
    assert set(got) == set(by_src)
    for src, ns in by_src.items():
        ns.sort()
        n = len(ns)
        row = got[src]
        assert row.n_docs == n
        assert row.min_tokens == ns[0] and row.max_tokens == ns[-1]
        assert row.p50_tokens == ns[math.ceil(0.5 * n) - 1]
        assert row.p90_tokens == ns[math.ceil(0.9 * n) - 1]
        assert row.p99_tokens == ns[math.ceil(0.99 * n) - 1]


def test_domain_mix_weights_are_normalized(spark, oracle_sf_dir):
    """mix_weight and token_share each sum to 1 (within float addition
    slack); the integer tokens-per-million budgets sum to <= 1e6 with
    deficit < n_sources (floor rounding loses < 1 unit per source)."""
    from synth_timeseries_data_spark.queries import all_queries

    rows = all_queries()["domain_mix"].build(spark, oracle_sf_dir).collect()
    assert len(rows) > 1
    assert abs(sum(r.token_share for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.mix_weight for r in rows) - 1.0) < 1e-9
    budget = sum(r.tokens_per_million for r in rows)
    assert 10**6 - len(rows) < budget <= 10**6


def test_neardup_survivors_consistent_with_clusters(spark, oracle_sf_dir):
    """Total drops must equal sum(cluster_size - 1) over distinct clusters
    (keep exactly one doc per component), and kept + dropped = corpus."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.sources import load

    surv = all_queries()["neardup_survivors"].build(spark, oracle_sf_dir).collect()
    clusters = all_queries()["dedup_clusters"].build(spark, oracle_sf_dir).collect()
    sizes: dict[int, int] = {}
    for r in clusters:
        sizes[r.cluster_rep] = r.cluster_size
    expected_drops = sum(s - 1 for s in sizes.values())
    n_docs_total = load(spark, oracle_sf_dir, "documents").count()
    assert sum(r.n_dropped for r in surv) == expected_drops
    assert sum(r.n_docs for r in surv) == n_docs_total
    assert sum(r.n_kept + r.n_dropped for r in surv) == n_docs_total


def test_char_entropy_fixture_is_codepoint_split_safe():
    """Fixture-content guard for char_entropy's oracle (VERDICT r04 §wrong):
    the Spark side counts CODE POINTS while DuckDB's str_split(text,'') is
    grapheme-aware, so the two engines agree only on text where every
    grapheme is one code point. Assert that holds for every document at the
    gate SF dirs — combining marks (Mn/Mc/Me) and astral-plane chars are the
    divergence classes. If this ever fires, normalize BOTH oracle sides to
    explicit code points before comparing (caveat on _ENT_DUCK)."""
    import unicodedata

    import pyarrow.parquet as pq

    from tests.conftest import SF_ORACLE, SF_SMALL

    for sf_dir in (SF_SMALL, SF_ORACLE):
        texts = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["text"]
        ).column("text").to_pylist()
        for t in texts:
            if t is None or t.isascii():  # fast path: ASCII is always safe
                continue
            for ch in t:
                assert ord(ch) <= 0xFFFF, f"astral char U+{ord(ch):X} in fixture"
                assert unicodedata.category(ch) not in ("Mn", "Mc", "Me"), (
                    f"combining mark U+{ord(ch):04X} in fixture"
                )


def test_gopher_rules_flag_semantics(spark, tmp_path):
    """Crafted docs exercise every rule branch: too short, bullet-heavy,
    ellipsis-heavy, symbol-heavy, non-alpha, stopword-free, and a healthy
    doc that passes all gates."""
    import os

    from synth_timeseries_data_spark.queries import all_queries

    healthy = ("the cat and the dog went to the house of friends with joy "
               * 6).strip()  # 72 words, all alpha, plenty of stops
    docs = [
        (0, healthy, "en", "web", len(healthy)),
        (1, "the cat and dog with toys", "en", "web", 25),       # <50 words
        (2, "\n".join(f"- {w}" for w in ["the and of to with that be have"] * 60), "en", "web", 10),  # bullets
        (3, " ".join(["w###d the and"] * 30), "en", "web", 10),  # symbols
        (4, " ".join(["123 456 789 the and"] * 20), "en", "web", 10),  # non-alpha
        (5, " ".join(["zig zag flip flop bip bop"] * 12), "en", "web", 10),  # no stops
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {r.doc_id: r for r in all_queries()["gopher_rules"].build(spark, sf).collect()}
    assert got[0].keep and all(
        got[0][f] for f in ("ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
                            "ok_bullets", "ok_ellipsis", "ok_alpha_words", "ok_stop_words")
    )
    assert not got[1].ok_word_count and not got[1].keep
    assert not got[2].ok_bullets
    assert not got[3].ok_symbol_ratio
    assert not got[4].ok_alpha_words
    assert not got[5].ok_stop_words


def test_semdedup_dense_cluster_guard_keeps_one_survivor(spark):
    """The round-6 dense-cluster guard (over-cap clusters switch from
    all-pairs to rank-block sorted-neighborhood pairing): an over-cap blob
    of IDENTICAL vectors must still collapse to exactly one survivor —
    every member's rank predecessors (ordered by proj, vec_id) include a
    lower-id duplicate within the neighborhood window, except the global
    minimum. Also pins that candidates stay linear: the blob produces
    O(m·W) pairs, not m²/2 (asserted via the executed plan's lack of an
    unbounded same-cluster self-join on the dense side)."""
    from synth_timeseries_data_spark.queries.corpus_ext import (
        _SD_CLUSTER_CAP,
        _sd_tail,
    )
    from synth_timeseries_data_spark.queries.llm_pipeline import _SPARK_D

    m = _SD_CLUSTER_CAP + 60  # over the cap
    vec = [round(0.1 * (d % 7) + 0.01, 3) for d in range(64)]
    rows = [(i, vec) for i in range(m)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).createOrReplaceTempView("embeddings")
    spark.createDataFrame(
        [(i, 0) for i in range(m)], "vec_id long, c long"
    ).createOrReplaceTempView("guard_assign")
    try:
        out = spark.sql(
            "WITH " + _sd_tail(_SPARK_D, "guard_assign", guard=True).lstrip()
        ).collect()
    finally:
        spark.catalog.dropTempView("embeddings")
        spark.catalog.dropTempView("guard_assign")
    kept = sorted(r.vec_id for r in out if r.is_kept == 1)
    assert kept == [0]
    dropped = [r for r in out if r.is_kept == 0]
    assert len(dropped) == m - 1
    assert all(r.max_cos == 1.0 and r.dup_of < r.vec_id for r in dropped)


def test_dsir_weights_match_independent_reimplementation(spark, oracle_sf_dir):
    """Independent plain-python reimplementation of the DSIR unigram
    log-likelihood-ratio math (Xie et al. 2023, add-1 smoothing) from the
    raw fixture text — validates the published semantics itself, not just
    the DuckDB oracle twin: n_tokens and the sign flag exactly, the
    emitted nats to the ROUND(.,6) grain."""
    import collections
    import math

    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{oracle_sf_dir}/documents.parquet", columns=["doc_id", "text", "source"]
    )
    docs = list(
        zip(
            tbl.column("doc_id").to_pylist(),
            tbl.column("text").to_pylist(),
            tbl.column("source").to_pylist(),
        )
    )
    c_raw: collections.Counter = collections.Counter()
    c_tgt: collections.Counter = collections.Counter()
    for _, text, src in docs:
        toks = text.split(" ")
        c_raw.update(toks)
        if src == "src0":
            c_tgt.update(toks)
    v = len(c_raw)
    t_raw, t_tgt = sum(c_raw.values()), sum(c_tgt.values())

    def snap(x: float) -> int:  # ROUND(ln(x)*1e6, 0), half-up (x > 0 here)
        return math.floor(math.log(x) * 1e6 + 0.5)

    norm = snap(t_raw + v) - snap(t_tgt + v)
    lr = {w: snap(c_tgt[w] + 1) - snap(c_raw[w] + 1) for w in c_raw}

    got = {
        r.doc_id: r
        for r in all_queries()["dsir_weights"].build(spark, oracle_sf_dir).collect()
    }
    assert len(got) == len(docs)
    for doc_id, text, _ in docs:
        toks = text.split(" ")
        micro = sum(lr[t] for t in toks) + len(toks) * norm
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.more_target_like == (micro > 0)
        assert abs(r.logw_nats - micro / 1e6) <= 1e-6
        assert abs(r.avg_logw_nats - micro / 1e6 / len(toks)) <= 1e-6


def test_dsir_weights_planted_target_skew(spark, tmp_path):
    """Content drives the weight, not the source label: a non-target-source
    doc written in the target domain's vocabulary must come out
    more_target_like, and one written in off-domain vocabulary must not."""
    import os

    docs = [(i, "alpha beta alpha beta alpha", "en", "src0", 27) for i in range(5)]
    docs += [(10 + i, "gamma delta gamma delta gamma", "en", "src7", 29)
             for i in range(5)]
    docs += [
        (20, "alpha beta alpha", "en", "src1", 16),   # target-vocab probe
        (21, "gamma delta gamma", "en", "src1", 17),  # off-domain probe
    ]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    got = {r.doc_id: r for r in all_queries()["dsir_weights"].build(spark, sf).collect()}
    assert got[20].more_target_like and got[20].logw_nats > 0
    assert not got[21].more_target_like and got[21].logw_nats < 0
    assert got[20].avg_logw_nats > got[21].avg_logw_nats


def test_vocab_shuffle_variants_equal_broadcast_forms(
    spark, oracle_sf_dir, monkeypatch
):
    """Past the size gate _vocab_sql hands tfidf_topterms, unigram_xent
    (and perplexity_buckets through it), bigram_xent and dsir_weights
    their SQL with the broadcast hint stripped; that text must produce
    exactly the hinted form's results — the gate may only ever change
    the join strategy, never the answer. This exercises the
    over-the-gate branch that no test fixture is large enough to trigger
    through the gate itself."""
    from synth_timeseries_data_spark.queries import llm_pipeline as lp

    for hinted, keycols in (
        (lp._TFIDF_SPARK, ("doc_id", "rk")),
        (lp._XENT_SPARK, ("doc_id",)),
        (lp._DSIR_SPARK, ("doc_id",)),
        (lp._BX_SPARK, ("doc_id",)),
    ):
        monkeypatch.setattr(lp, "_VOCAB_BCAST_DOCS_BYTES", 0)
        unhinted = lp._vocab_sql(oracle_sf_dir, hinted)
        monkeypatch.undo()
        assert "BROADCAST" in hinted and "BROADCAST" not in unhinted
        a = lp._spark_docs(spark, oracle_sf_dir, hinted).collect()
        b = lp._spark_docs(spark, oracle_sf_dir, unhinted).collect()
        key = lambda r: tuple(r[c] for c in keycols)  # noqa: E731
        assert sorted(a, key=key) == sorted(b, key=key) and len(a) > 0


def test_dsir_weights_zero_identity_when_corpus_is_target(spark, tmp_path):
    """When the whole corpus IS the target domain, p_tgt == p_raw term by
    term, so every snapped component cancels and the log-weight is 0.0
    EXACTLY for every doc (not approximately — the micro-nat integers are
    identical on both sides of the subtraction), with more_target_like
    false (strict > 0)."""
    import os

    docs = [(i, f"alpha beta gamma{i % 3} delta", "en", "src0", 20)
            for i in range(12)]
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    rows = all_queries()["dsir_weights"].build(spark, sf).collect()
    assert len(rows) == 12
    for r in rows:
        assert r.logw_nats == 0.0 and r.avg_logw_nats == 0.0
        assert not r.more_target_like


def test_gopher_rules_match_independent_reimplementation(spark, oracle_sf_dir):
    """Independent plain-python reimplementation of the Gopher gates (Rae
    et al. 2021 App. A, as specified in _gopher_sql) over the raw fixture
    text — validates the published semantics, not just the DuckDB twin.
    Ratios are quotients of exact integers, so the comparison is exact
    IEEE equality, not approximate."""
    import re

    import pyarrow.parquet as pq

    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    alpha = re.compile(r"[A-Za-z]")
    tbl = pq.read_table(f"{oracle_sf_dir}/documents.parquet",
                        columns=["doc_id", "text"])
    texts = dict(zip(tbl.column("doc_id").to_pylist(),
                     tbl.column("text").to_pylist()))
    got = {r.doc_id: r
           for r in all_queries()["gopher_rules"].build(spark, oracle_sf_dir)
           .collect()}
    assert set(got) == set(texts)
    for doc_id, text in texts.items():
        ws = text.split(" ")
        lines = text.split("\n")
        n, nl = len(ws), len(lines)
        r = got[doc_id]
        assert r.n_words == n
        assert r.mean_word_len == len(text.replace(" ", "")) / n
        assert r.symbol_ratio == (
            float(text.count("#")) + (len(text) - len(text.replace("...", ""))) / 3
        ) / n
        assert r.bullet_frac == float(
            sum(1 for x in lines if x.startswith(("- ", "* ")))) / nl
        assert r.ellipsis_frac == float(
            sum(1 for x in lines if x.endswith("..."))) / nl
        assert r.alpha_word_frac == float(
            sum(1 for w in ws if alpha.search(w))) / n
        assert r.stop_hits == len(set(ws) & stops)
        keep = (50 <= n <= 100000 and 3 <= r.mean_word_len <= 10
                and r.symbol_ratio < 0.1 and r.bullet_frac < 0.9
                and r.ellipsis_frac < 0.3 and r.alpha_word_frac >= 0.8
                and r.stop_hits >= 2)
        assert r.keep == keep, doc_id


def _budget_expected(docs):
    """Plain-python reimplementation of the budget rule (total budget =
    corpus_tokens/2 split prop. to sqrt(src_tokens) with domain_mix's exact
    quantization; greedy quality-ranked prefix per source). ``docs`` is an
    iterable of (doc_id, source, text); returns {doc_id: (source, n_tokens,
    q_micro, cum_tokens, src_budget)} for the expected selection."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    stops = {"the", "a", "of", "and", "to", "in", "is", "it"}
    per_src: dict[str, list] = {}
    for doc_id, source, text in docs:
        if text is None:
            continue
        ws = text.split(" ")
        q = (
            min(1.0, len(ws) / 100.0) * 0.5
            + min(1.0, sum(w in stops for w in ws) / len(ws) * 10.0) * 0.2
            + len(set(ws)) / len(ws) * 0.3
        )
        per_src.setdefault(source, []).append(
            (math.floor(q * 1000000.0), doc_id, len(ws))
        )
    src_tokens = {s: sum(t[2] for t in v) for s, v in per_src.items()}
    # domain_mix's exact quantization (shared via _w_micro_sql): libm
    # power snapped to 9 decimals HALF_UP on the exact binary value (what
    # Spark's ROUND does), then FLOOR-micro in double arithmetic.
    w_micro = {
        s: math.floor(
            float(
                Decimal(float(n) ** 0.5).quantize(
                    Decimal("1e-9"), ROUND_HALF_UP
                )
            )
            * 1000000.0
        )
        for s, n in src_tokens.items()
    }
    total = sum(src_tokens.values())
    sum_w = sum(w_micro.values())
    expected_sel = {}
    for s, v in per_src.items():
        budget = math.floor(w_micro[s] / sum_w * (total / 2.0))
        v.sort(key=lambda t: (-t[0], t[1]))
        cum = 0
        for q_micro, doc_id, n_tok in v:
            cum += n_tok
            if cum > budget:
                break
            expected_sel[doc_id] = (s, n_tok, q_micro, cum, budget)
    return expected_sel


def _assert_budget_matches(rows, expected_sel):
    got = {r.doc_id: r for r in rows}
    assert set(got) == set(expected_sel)
    for doc_id, (s, n_tok, q_micro, cum, budget) in expected_sel.items():
        r = got[doc_id]
        assert (
            r.source, r.n_tokens, r.q_micro, r.cum_tokens, r.src_budget
        ) == (s, n_tok, q_micro, cum, budget), doc_id


def test_token_budget_sample_is_greedy_quality_prefix(spark, oracle_sf_dir):
    """Independent reimplementation of the budget rule: recompute each
    source's budget from raw per-doc (n_tokens, q_micro) in plain Python
    (total budget = corpus_tokens/2 split prop. to sqrt(src_tokens)) and
    assert the selection is EXACTLY the greedy quality-ranked prefix whose
    running token total fits — per-source maximal: every selected doc fits
    under budget and the first excluded doc would overflow it."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.sources import load

    rows = (
        all_queries()["token_budget_sample"].build(spark, oracle_sf_dir).collect()
    )
    docs = [
        (d.doc_id, d.source, d.text)
        for d in load(spark, oracle_sf_dir, "documents").collect()
    ]
    _assert_budget_matches(rows, _budget_expected(docs))


def test_token_budget_sample_on_seeded_random_corpora(spark, tmp_path):
    """The same reimplementation over three seeded random corpora built to
    hit the rule's edges the fixture cannot: tiny vocab (mass q ties broken
    by doc_id), duplicated texts (exact q ties), single-doc sources, and
    small integer budgets where cum == budget lands exactly."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from synth_timeseries_data_spark.queries import all_queries

    vocab = ["the", "a", "of", "it", "w1", "w2", "w3", "w4", "w5"]
    for seed in (11, 23, 47):
        rng = random.Random(seed)
        docs = []
        doc_id = 0
        for si in range(rng.randint(2, 5)):
            src = f"s{si}"
            for _ in range(rng.randint(1, 12)):
                n = rng.randint(1, 30)
                text = " ".join(rng.choice(vocab) for _ in range(n))
                docs.append((doc_id, src, text))
                doc_id += 1
                if rng.random() < 0.3:  # exact duplicate -> exact q tie
                    docs.append((doc_id, src, text))
                    doc_id += 1
        out = tmp_path / f"corpus_{seed}"
        out.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                    "text": pa.array([d[2] for d in docs]),
                    "lang": pa.array(["en"] * len(docs)),
                    "source": pa.array([d[1] for d in docs]),
                    "n_chars": pa.array(
                        [len(d[2]) for d in docs], pa.int64()
                    ),
                }
            ),
            str(out / "documents.parquet"),
        )
        rows = (
            all_queries()["token_budget_sample"].build(spark, str(out)).collect()
        )
        _assert_budget_matches(rows, _budget_expected(docs))


def test_source_overlap_accounts_for_every_minhash_pair(spark, oracle_sf_dir):
    """The matrix must partition minhash_dedup's pair relation exactly:
    n_pairs sums to the pair count, every (source_a, source_b) cell is
    ordered (a <= b), and each cell's count matches a direct per-pair
    source lookup."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.sources import load

    pairs = all_queries()["minhash_dedup"].build(spark, oracle_sf_dir).collect()
    overlap = all_queries()["source_overlap"].build(spark, oracle_sf_dir).collect()
    src = {
        r.doc_id: r.source
        for r in load(spark, oracle_sf_dir, "documents").collect()
    }
    expected: dict[tuple, int] = {}
    for p in pairs:
        key = tuple(sorted((src[p.doc_a], src[p.doc_b])))
        expected[key] = expected.get(key, 0) + 1
    assert sum(r.n_pairs for r in overlap) == len(pairs)
    got = {(r.source_a, r.source_b): r.n_pairs for r in overlap}
    assert got == expected
    assert all(r.source_a <= r.source_b for r in overlap)


def test_token_budget_sample_prefix_semantics_on_planted_corpus(spark, tmp_path):
    """Structural pins on a crafted corpus: (a) a source whose single doc
    exceeds its budget selects NOTHING; (b) selection is the quality-ranked
    PREFIX whose running total fits — a small low-quality doc that would
    still fit by best-fit/knapsack is NOT taken once a higher-quality doc
    has overflowed the budget (cum > budget cuts the prefix, monotone cum
    makes WHERE cum <= budget exactly that prefix)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = {
        # src A, quality order: hi (40 distinct words incl stopwords,
        # q=0.7) > mid1/mid2/mid3 (5 distinct words, q=0.325, doc_id
        # tiebreak) > low (3 repeated words, q=0.115).
        1: ("A", " ".join(
            ["the", "a", "of", "and", "to", "in", "is", "it"]
            + [f"w{i}" for i in range(32)])),
        2: ("A", "v1a v1b v1c v1d v1e"),
        3: ("A", "v2a v2b v2c v2d v2e"),
        4: ("A", "v3a v3b v3c v3d v3e"),
        5: ("A", "x x x"),
        # src B: one 300-token doc — bigger than B's whole budget.
        6: ("B", " ".join(f"b{i}" for i in range(300))),
    }
    ids = sorted(texts)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([texts[i][1] for i in ids]),
            "lang": pa.array(["en"] * len(ids)),
            "source": pa.array([texts[i][0] for i in ids]),
            "n_chars": pa.array(
                [len(texts[i][1]) for i in ids], pa.int64()
            ),
        }
    )
    pq.write_table(table, str(tmp_path / "documents.parquet"))
    rows = (
        all_queries()["token_budget_sample"]
        .build(spark, str(tmp_path))
        .collect()
    )
    # A tokens = 40+5+5+5+3 = 58, B = 300; budget pool = 179;
    # w = sqrt(58):sqrt(300) -> A budget 54, B budget 124 (< 300).
    assert {r.doc_id for r in rows} == {1, 2, 3}
    by_id = {r.doc_id: r for r in rows}
    assert by_id[1].cum_tokens == 40 and by_id[3].cum_tokens == 50
    assert all(r.src_budget == 54 for r in rows)
    # doc 5 (3 tokens) would fit 50+3 <= 54 by knapsack, but the prefix
    # was cut at doc 4 (cum 55 > 54) — prefix semantics, not best-fit.
    assert 5 not in by_id and 4 not in by_id
    assert not [r for r in rows if r.source == "B"]


def test_length_percentiles_hist_form_equals_naive_window_form(spark, oracle_sf_dir):
    """The histogram Spark plan (distinct-value-bounded state) must be
    row-identical to the naive every-document rank form it replaced."""
    from synth_timeseries_data_spark.queries.corpus_ext import (
        _SPARK_D,
        _length_pct_sql,
    )
    from synth_timeseries_data_spark.queries.llm_pipeline import _spark_docs

    hist = sorted(
        tuple(r)
        for r in all_queries()["length_percentiles"]
        .build(spark, oracle_sf_dir)
        .collect()
    )
    naive = sorted(
        tuple(r)
        for r in _spark_docs(
            spark, oracle_sf_dir, _length_pct_sql(_SPARK_D)
        ).collect()
    )
    assert hist == naive


def test_ngram_novelty_planted_copy_and_accounting(spark, tmp_path):
    """A doc that copies an earlier doc's text verbatim has novelty 0 for
    the shared runs (min-doc_id rule); per-corpus accounting must hold
    exactly: sum(n_novel) == distinct runs in the corpus, and a doc with
    fully unique 8-grams is 100% novel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = " ".join(f"w{i}" for i in range(20))  # 13 distinct 8-gram runs
    fresh = " ".join(f"u{i}" for i in range(12))  # 5 runs, all unique
    texts = {
        1: base,
        2: base,                      # verbatim copy -> nothing novel
        3: base + " tail1 tail2",     # copies base runs + adds 2 new ones
        4: fresh,
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r.doc_id: r
        for r in all_queries()["ngram_novelty"].build(spark, str(tmp_path)).collect()
    }
    assert rows[1].n_runs == 13 and rows[1].n_novel == 13
    assert rows[1].novelty_micro == 1000000
    assert rows[2].n_runs == 13 and rows[2].n_novel == 0
    assert rows[2].novelty_micro == 0
    assert rows[3].n_runs == 15 and rows[3].n_novel == 2
    assert rows[4].n_runs == 5 and rows[4].n_novel == 5
    distinct_runs = 13 + 2 + 5
    assert sum(r.n_novel for r in rows.values()) == distinct_runs


def test_dedup_spans_planted_semantics(spark, tmp_path):
    """Span-grain keep-first semantics on a crafted corpus: the first
    occurrence keeps its text, a verbatim copy is fully excised, a doc
    embedding the copied span plus fresh tokens keeps exactly the fresh
    tokens (overlap unioned), and a short doc (<8 tokens) passes through
    verbatim."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = " ".join(f"w{i}" for i in range(12))  # 12 tokens, 5 runs
    fresh_prefix = "p1 p2 p3"
    texts = {
        1: base,
        2: base,                              # full copy -> all excised
        3: fresh_prefix + " " + base,         # leading fresh tokens kept?
        4: "tiny doc",                        # <8 tokens -> passthrough
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(texts[i]) for i in ids], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r.doc_id: r
        for r in all_queries()["dedup_spans"].build(spark, str(tmp_path)).collect()
    }
    assert rows[1].n_removed == 0 and rows[1].clean_text == base
    assert rows[2].n_removed == 12 and rows[2].clean_text == ""
    # doc 3: every base token sits in some stale run; the three fresh
    # prefix tokens start runs that extend into base tokens, so those
    # runs are FIRST occurrences (novel) — but base tokens are still
    # covered via the runs fully inside base. Fresh tokens survive.
    assert rows[3].clean_text == fresh_prefix
    assert rows[3].n_removed == 12
    assert rows[4].n_removed == 0 and rows[4].clean_text == "tiny doc"


def test_dedup_spans_doc_grain_null_and_fastpath(spark, tmp_path):
    """Pins the three contract edges: (a) DOC-grain keep-first — a block
    repeated WITHIN the min doc survives in full there (and is excised
    from later docs); (b) a NULL-text doc keeps its row with NULL
    signals; (c) an untouched doc returns its original text verbatim
    through the fast path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    block = " ".join(f"b{i}" for i in range(8))
    texts = {
        1: block + " " + block,          # within-doc repeat, min doc
        2: block,                        # later doc -> excised
        3: None,                         # NULL text
        4: " ".join(f"z{i}" for i in range(10)),  # untouched
    }
    ids = sorted(texts)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([texts[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array(
                    [len(texts[i]) if texts[i] else 0 for i in ids], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = {
        r.doc_id: r
        for r in all_queries()["dedup_spans"].build(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {1, 2, 3, 4}  # NULL-text row preserved
    assert rows[1].n_removed == 0 and rows[1].clean_text == texts[1]
    assert rows[2].n_removed == 8 and rows[2].clean_text == ""
    assert rows[3].n_tokens is None and rows[3].n_removed is None
    assert rows[3].clean_text is None
    assert rows[4].n_removed == 0 and rows[4].clean_text == texts[4]


def test_dedup_spans_matches_python_reimpl_on_random_corpora(spark, tmp_path):
    """Full-rule differential on three seeded corpora built from a shared
    phrase pool (so cross-doc 8-gram overlap abounds): an independent
    python reimplementation of the coverage rule (run = 8-token tuple,
    first_doc = min doc_id, cover stale occurrences, rebuild in order)
    must agree row-for-row with the Spark plan."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    for seed in (5, 17, 31):
        rng = random.Random(seed)
        phrases = [
            [f"s{p}w{i}" for i in range(10)] for p in range(6)
        ]
        docs = {}
        for doc_id in range(1, 25):
            toks: list = []
            for _ in range(rng.randint(1, 4)):
                toks += rng.choice(phrases)
                if rng.random() < 0.5:
                    toks.append(f"n{doc_id}x{len(toks)}")
            docs[doc_id] = " ".join(toks)
        out = tmp_path / f"rc_{seed}"
        out.mkdir()
        ids = sorted(docs)
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": pa.array([docs[i] for i in ids]),
                    "lang": pa.array(["en"] * len(ids)),
                    "source": pa.array(["s"] * len(ids)),
                    "n_chars": pa.array(
                        [len(docs[i]) for i in ids], pa.int64()
                    ),
                }
            ),
            str(out / "documents.parquet"),
        )
        # independent reimplementation
        first: dict = {}
        for doc_id in ids:
            ws = docs[doc_id].split(" ")
            for i in range(len(ws) - 7):
                run = tuple(ws[i : i + 8])
                first.setdefault(run, doc_id)
        expected = {}
        for doc_id in ids:
            ws = docs[doc_id].split(" ")
            covered = set()
            for i in range(len(ws) - 7):
                if first[tuple(ws[i : i + 8])] < doc_id:
                    covered.update(range(i, i + 8))
            kept = [w for t, w in enumerate(ws) if t not in covered]
            expected[doc_id] = (len(ws), len(covered), " ".join(kept))
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
            for r in all_queries()["dedup_spans"]
            .build(spark, str(out))
            .collect()
        }
        assert got == expected, seed


def test_dedup_spans_hot_boilerplate_run_stays_linear(spark, tmp_path):
    """Skew stress: ONE boilerplate block shared by 80% of 2000 docs (the
    hot-h window partition). The query must finish promptly (the window
    is a sortless full-partition MIN — candidate work is linear in
    occurrences, never pairwise) and excise the block everywhere except
    the min doc."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    block = " ".join(f"hot{i}" for i in range(8))
    docs = {}
    for doc_id in range(1, 2001):
        own = " ".join(f"d{doc_id}w{i}" for i in range(8))
        docs[doc_id] = (block + " " + own) if doc_id % 5 else own
    ids = sorted(docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([docs[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array([len(docs[i]) for i in ids], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    t0 = time.time()
    rows = {
        r.doc_id: r
        for r in all_queries()["dedup_spans"].build(spark, str(tmp_path)).collect()
    }
    elapsed = time.time() - t0
    # generous smoke bound (loaded CI / cold JVM tolerant) — the real
    # linearity evidence is the sf10/sf100 ladder in COVERAGE.md; a
    # pairwise blowup at 1600 carriers would be ~2.5M candidate rows vs
    # ~1.6k and blows far past this
    assert elapsed < 180, f"hot-run corpus took {elapsed:.1f}s"
    carriers = [i for i in ids if i % 5]
    first_carrier = carriers[0]
    assert rows[first_carrier].n_removed == 0  # min doc keeps the block
    # every later carrier loses the block and ONLY the block: the 8 own
    # tokens survive (the bridging runs block+own are first occurrences)
    later = carriers[1]
    assert rows[later].n_removed == 8
    assert rows[later].clean_text == " ".join(f"d{later}w{i}" for i in range(8))
    total_removed = sum(rows[i].n_removed for i in ids)
    assert total_removed == 8 * (len(carriers) - 1)


def test_embed_decontam_is_the_cross_split_slice_of_neardup(spark, oracle_sf_dir):
    """Every reported pair must be a test->train orientation of an
    embed_neardup pair under hash_split's exact md5-bucket rule, and ALL
    such cross-split pairs must be reported (none dropped)."""
    import hashlib

    got = {
        (r.test_vec, r.train_vec): r.cos_sim
        for r in all_queries()["embed_decontam"].build(spark, oracle_sf_dir).collect()
    }
    pairs = all_queries()["embed_neardup"].build(spark, oracle_sf_dir).collect()

    def bucket(v):
        return int(hashlib.md5(f"split|{v}".encode()).hexdigest()[:15], 16) % 100

    def split(v):
        b = bucket(v)
        return "train" if b < 80 else ("test" if b >= 90 else None)

    expected = {}
    for p in pairs:
        sa, sb = split(p.vec_a), split(p.vec_b)
        if {sa, sb} == {"test", "train"}:
            t, tr = (p.vec_a, p.vec_b) if sa == "test" else (p.vec_b, p.vec_a)
            expected[(t, tr)] = p.cos_sim
    assert got == expected and len(got) > 0


def _write_docs(tmp_path, name: str, docs: dict) -> str:
    """documents.parquet fixture dir from {doc_id: text}."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / name
    out.mkdir()
    ids = sorted(docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array([docs[i] for i in ids]),
                "lang": pa.array(["en"] * len(ids)),
                "source": pa.array(["s"] * len(ids)),
                "n_chars": pa.array(
                    [len(docs[i]) if docs[i] is not None else 0 for i in ids],
                    pa.int64(),
                ),
            }
        ),
        str(out / "documents.parquet"),
    )
    return str(out)


def _skew_gate_corpora(tmp_path) -> list:
    """Two corpora exercising both sides of the size/skew gates: a seeded
    random-overlap corpus and a hot-boilerplate corpus (one 8-token block
    carried by 80% of docs — the single-task window-partition /
    corpus-sized collect_set shape), plus NULL-text and short docs."""
    import random

    rng = random.Random(13)
    phrases = [[f"p{p}w{i}" for i in range(10)] for p in range(5)]
    rand_docs: dict = {}
    for doc_id in range(1, 40):
        toks: list = []
        for _ in range(rng.randint(1, 3)):
            toks += rng.choice(phrases)
            if rng.random() < 0.4:
                toks.append(f"n{doc_id}x{len(toks)}")
        rand_docs[doc_id] = " ".join(toks)
    rand_docs[40] = None  # NULL text
    rand_docs[41] = "tiny doc"  # under the 8-token run width

    block = " ".join(f"hot{i}" for i in range(8))
    hot_docs = {}
    for doc_id in range(1, 301):
        own = " ".join(f"d{doc_id}w{i}" for i in range(8))
        hot_docs[doc_id] = (block + " " + own) if doc_id % 5 else own

    return [
        _write_docs(tmp_path, "rand", rand_docs),
        _write_docs(tmp_path, "hot", hot_docs),
    ]


def test_dedup_spans_matches_oracle_on_skew_corpora(spark, tmp_path):
    """The run-keyed window form must be row-identical to the DuckDB
    oracle on both a random-overlap corpus and the hot-boilerplate skew
    shape (one run carried by 80% of docs, buffered in one window task)."""
    import duckdb

    from synth_timeseries_data_spark.queries.corpus_ext import (
        _SPANS_DUCK,
        _SPANS_SPARK,
    )
    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _register_docs,
    )

    key = lambda r: (r[0], r[1], r[2], r[3])  # noqa: E731
    for sf_dir in _skew_gate_corpora(tmp_path):
        _register_docs(spark, sf_dir)
        got = sorted(
            map(key, spark.sql(_SPANS_SPARK)
                .select("doc_id", "n_tokens", "n_removed", "clean_text")
                .collect())
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'"
        )
        want = sorted(
            map(key, con.execute(
                f"SELECT doc_id, n_tokens, n_removed, clean_text "
                f"FROM ({_SPANS_DUCK})"
            ).fetchall())
        )
        con.close()
        assert got == want and len(got) > 0, sf_dir


def test_ngram_novelty_single_and_two_phase_forms_row_equal(spark, tmp_path):
    """The size-gated novelty forms (single-pass collect_set vs two-phase
    DISTINCT + MIN-by-h + SHUFFLE_HASH join) must be row-identical on
    both gate corpora; the two-phase form bounds per-run aggregation
    state at one row even for the universal boilerplate run."""
    from synth_timeseries_data_spark.queries.corpus_ext import (
        _NOVELTY_SPARK,
        _NOVELTY_SPARK_2P,
    )
    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _register_docs,
    )

    for sf_dir in _skew_gate_corpora(tmp_path):
        _register_docs(spark, sf_dir)
        key = lambda r: (r.doc_id, r.n_runs, r.n_novel, r.novelty_micro)
        a = sorted(map(key, spark.sql(_NOVELTY_SPARK).collect()))
        b = sorted(map(key, spark.sql(_NOVELTY_SPARK_2P).collect()))
        assert a == b and len(a) > 0, sf_dir


def _bpe_apply_reimpl(texts: dict, n_merges: int = 8) -> dict:
    """Independent plain-python BPE-apply: induce the top-n adjacent-pair
    merge table by (count DESC, pair), then apply merges in rank order,
    each as one left-to-right non-overlapping pass."""
    from collections import Counter

    counts: Counter = Counter()
    for t in texts.values():
        if t is None:
            continue
        ws = t.split(" ")
        for i in range(len(ws) - 1):
            counts[(ws[i], ws[i + 1])] += 1
    merges = sorted(counts, key=lambda p: (-counts[p], p))[:n_merges]

    out = {}
    for doc_id, t in texts.items():
        if t is None:
            out[doc_id] = (None, None)
            continue
        toks = t.split(" ")
        for a, b in merges:
            merged, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    merged.append(a + " " + b)
                    i += 2
                else:
                    merged.append(toks[i])
                    i += 1
            toks = merged
        out[doc_id] = (len(t.split(" ")), len(toks))
    return out


def test_bpe_encode_matches_python_reimpl(spark, tmp_path):
    """Differential vs the independent reimpl on corpora engineered to
    exercise the tricky cases: overlapping runs ("a a a" under merge
    (a, a) must yield 2 tokens, left-to-right non-overlap), merge
    priority (the rank-1 merge consumes tokens a rank-2 merge wanted),
    and NULL text (row preserved, NULL signals)."""
    import random

    rng = random.Random(7)
    texts = {
        1: "a a a a a",          # overlap: non-overlapping passes
        2: "x y z x y z x y",    # chains across the priority order
        3: None,                 # NULL passthrough
        4: "solo",               # single token, no pairs
        5: "a a b b a a b b",
    }
    # bulk: random text over a tiny vocab so pair counts are dense and
    # the rank order is exercised deep into the table
    vocab = ["a", "b", "x", "y", "z", "q"]
    for doc_id in range(6, 60):
        texts[doc_id] = " ".join(
            rng.choice(vocab) for _ in range(rng.randint(2, 30))
        )
    sf_dir = _write_docs(tmp_path, "bpe", texts)

    expected = _bpe_apply_reimpl(texts)
    rows = {
        r.doc_id: r
        for r in all_queries()["bpe_encode"].build(spark, sf_dir).collect()
    }
    assert set(rows) == set(texts)
    for doc_id, (n_before, n_after) in expected.items():
        r = rows[doc_id]
        assert (r.n_tokens, r.n_bpe_tokens) == (n_before, n_after), doc_id
    # the sanity anchors the docstring promises
    assert rows[1].n_bpe_tokens == 3  # a a a a a -> [aa][aa][a]
    assert rows[3].n_tokens is None and rows[3].enc_hash is None


def test_bpe_train_matches_python_reimpl(spark, tmp_path):
    """Differential vs an independent python BPE TRAINING reimpl (argmax
    pair -> merge everywhere -> recount, 8 rounds): later rounds must be
    able to select pairs involving already-merged tokens — the property
    bpe_pairs' single-pass count cannot express."""
    import random
    from collections import Counter

    rng = random.Random(23)
    texts = {}
    # heavy "a b" so ("a b", "c") becomes selectable after round 1
    for doc_id in range(1, 30):
        toks = []
        for _ in range(rng.randint(3, 12)):
            toks += ["a", "b", "c"] if rng.random() < 0.6 else [
                rng.choice(["x", "y", "z"])
            ]
        texts[doc_id] = " ".join(toks)
    texts[30] = None
    sf_dir = _write_docs(tmp_path, "bpetrain", texts)

    # independent reimpl
    docs = {
        i: t.split(" ") for i, t in texts.items() if t is not None
    }
    expected = []
    for rk in range(1, 9):
        counts: Counter = Counter()
        for toks in docs.values():
            for j in range(len(toks) - 1):
                counts[(toks[j], toks[j + 1])] += 1
        if not counts:
            break
        a, b = min(counts, key=lambda p: (-counts[p], p))
        expected.append((rk, a, b, counts[(a, b)]))
        for i, toks in docs.items():
            merged, j = [], 0
            while j < len(toks):
                if j + 1 < len(toks) and toks[j] == a and toks[j + 1] == b:
                    merged.append(a + " " + b)
                    j += 2
                else:
                    merged.append(toks[j])
                    j += 1
            docs[i] = merged

    got = [
        (r.rk, r.a, r.b, r.n)
        for r in all_queries()["bpe_train"]
        .build(spark, sf_dir)
        .orderBy("rk")
        .collect()
    ]
    assert got == expected
    # the training-only property: some selected pair involves a merged
    # (space-containing) token — proof the recount saw merged tokens
    assert any(" " in a or " " in b for _, a, b, _ in got)


def test_pack_bpe_consistent_with_bpe_encode(spark, oracle_sf_dir):
    """Cross-consistency: the pack_bpe manifest's token mass equals the
    sum of bpe_encode's merged-token counts, and every window respects
    the 2048 cap except windows a single over-long doc overflows (the
    doc-owns-its-first-token rule pack_sequences pins)."""
    qs = all_queries()
    enc = {
        r.doc_id: r.n_bpe_tokens
        for r in qs["bpe_encode"].build(spark, oracle_sf_dir).collect()
    }
    manifest = qs["pack_bpe"].build(spark, oracle_sf_dir).collect()
    total_enc = sum(v for v in enc.values() if v is not None)
    total_pack = sum(r.n_tokens for r in manifest if r.n_tokens is not None)
    assert total_pack == total_enc
    # merged counts are <= whitespace counts, so the bpe manifest packs
    # at least as densely: fewer or equal sequences than pack_sequences
    plain = qs["pack_sequences"].build(spark, oracle_sf_dir).collect()
    assert len(manifest) <= len(plain)


def test_perplexity_buckets_tercile_properties(spark, oracle_sf_dir):
    """Per language: bucket sizes are exact terciles (rank arithmetic),
    and the xent ordering head <= middle <= tail holds at the
    boundaries."""
    from collections import defaultdict

    rows = (
        all_queries()["perplexity_buckets"]
        .build(spark, oracle_sf_dir)
        .collect()
    )
    assert rows
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        cnt = len(rs)
        n_head = sum(1 for r in rs if r.ppl_bucket == "head")
        n_mid = sum(1 for r in rs if r.ppl_bucket == "middle")
        n_tail = sum(1 for r in rs if r.ppl_bucket == "tail")
        assert n_head == cnt // 3, lang
        assert n_head + n_mid == (2 * cnt) // 3, lang
        assert n_head + n_mid + n_tail == cnt, lang
        if n_head and n_tail:
            assert max(
                r.xent_nats for r in rs if r.ppl_bucket == "head"
            ) <= min(r.xent_nats for r in rs if r.ppl_bucket == "tail"), lang


def test_skew_gates_switch_forms_past_thresholds(spark, oracle_sf_dir, monkeypatch):
    """The size gate must actually fire: with the footer count
    monkeypatched past its threshold, ngram_novelty's plan drops the
    collect_set aggregation for the two-phase join; at the real fixture
    size it runs its small-tier form. dedup_spans has one form (the
    run-keyed window) at every size."""
    qs = all_queries()

    def plan(name):
        return (
            qs[name]
            .build(spark, oracle_sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    # real fixture (500 docs): window / collect_set forms
    assert "Window" in plan("dedup_spans")
    assert "collect_set" in plan("ngram_novelty")

    monkeypatch.setattr(
        "synth_timeseries_data_spark.sources.tables.table_rows",
        lambda sf_dir, name: 2**40,
    )
    assert "Window" in plan("dedup_spans")
    big_nov = plan("ngram_novelty")
    assert "collect_set" not in big_nov
    assert "ShuffledHashJoin" in big_nov


def test_source_kl_matches_numpy_reference(spark, duck, oracle_sf_dir):
    """Independent check of the KL algebra: add-one-smoothed per-source
    unigram KL recomputed in numpy/python from the raw fixture (space
    tokenization, full-vocab sum — no closed-form shortcut), compared
    within the micro-nat quantization tolerance. Also pins the
    distribution properties: KL >= 0 (up to quantization) and genuine
    asymmetry somewhere in the matrix."""
    import math
    from collections import Counter, defaultdict

    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    df = duck.execute(all_queries()["source_kl"].oracle).df()
    got = {
        (r.source_a, r.source_b): r for r in df.itertuples(index=False)
    }

    docs = pd.read_parquet(f"{oracle_sf_dir}/documents.parquet")[
        ["source", "text"]
    ]
    counts = defaultdict(Counter)
    for src, text in docs.itertuples(index=False):
        if text is None:
            continue
        counts[src].update(text.split(" "))
    vocab = set()
    for c in counts.values():
        vocab.update(c)
    V = len(vocab)
    n = {s: sum(c.values()) for s, c in counts.items()}

    checked = 0
    for sa in counts:
        for sb in counts:
            if sa == sb:
                continue
            kl = 0.0
            for t in vocab:
                pa = (counts[sa][t] + 1) / (n[sa] + V)
                pb = (counts[sb][t] + 1) / (n[sb] + V)
                kl += pa * math.log(pa / pb)
            r = got[(sa, sb)]
            assert r.vocab_size == V and r.n_tokens_a == n[sa]
            assert abs(r.kl_nats - kl) < 1e-4, (sa, sb, r.kl_nats, kl)
            assert r.kl_nats >= -1e-5
            checked += 1
    assert checked == len(got) > 0
    assert any(
        abs(got[(a, b)].kl_nats - got[(b, a)].kl_nats) > 1e-6
        for (a, b) in got
    )


def test_bigram_xent_matches_python_reimpl(spark, oracle_sf_dir):
    """Independent pin of the bigram-LM algebra: the add-one conditional
    p(w2|w1) = (c12+1)/(c1+V), per-bigram micro-nat snaps, and the
    tf-weighted per-doc mean recomputed in plain python from the raw
    fixture — bit-level agreement on the ROUND(.,6) grain."""
    import math
    from collections import Counter

    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    got = {
        r.doc_id: (r.n_bigrams, r.xent2_nats)
        for r in all_queries()["bigram_xent"].build(spark, oracle_sf_dir).collect()
    }
    docs = pd.read_parquet(f"{oracle_sf_dir}/documents.parquet")[
        ["doc_id", "text"]
    ]
    c12: Counter = Counter()
    c1: Counter = Counter()
    vocab: set = set()
    for t in docs.text:
        ws = t.split(" ")
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
            vocab.add(a)
            vocab.add(b)
    V = len(vocab)
    checked = 0
    for _, row in docs.iterrows():
        ws = row.text.split(" ")
        if len(ws) < 2:
            assert row.doc_id not in got
            continue
        sm = 0
        n = 0
        for a, b in zip(ws, ws[1:]):
            sm += round(math.log(c1[a] + V) * 1e6) - round(
                math.log(c12[(a, b)] + 1) * 1e6
            )
            n += 1
        nb, x2 = got[row.doc_id]
        assert nb == n
        assert abs(x2 - round(sm / 1e6 / n, 6)) < 2e-6, (row.doc_id, x2)
        checked += 1
    assert checked > 400


def test_zipf_fit_recovers_planted_power_law(spark, tmp_path):
    """Semantic pin for the Zipf OLS: a corpus constructed with exact
    freq = floor(1000 / rank) (a true s = -1 power law) fits slope ≈ -1
    with R² ≈ 1, and a uniform-frequency corpus has slope exactly 0.
    Recomputed independently in numpy on the same micro-nat grain."""
    import math
    import os

    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    words = []
    for r in range(1, 201):
        words += [f"w{r:04d}"] * (1000 // r)
    rng = np.random.RandomState(3)
    rng.shuffle(words)
    zipf_text = " ".join(words)
    flat_text = " ".join(f"u{r:04d}" for r in range(1, 201)) + " " + " ".join(
        f"u{r:04d}" for r in range(1, 201)
    )
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["zipfy", "flat"],
            "lang": ["en", "en"],
            "text": [zipf_text, flat_text],
        }
    )
    sf_dir = str(tmp_path / "zipf_sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    got = {
        r.source: r
        for r in all_queries()["zipf_fit"].build(spark, sf_dir).collect()
    }
    # numpy twin on the same snapped grain
    x = np.array(
        [round(math.log(r) * 1e6) for r in range(1, 201)], dtype=float
    )
    y = np.array(
        [round(math.log(1000 // r) * 1e6) for r in range(1, 201)], dtype=float
    )
    n = 200.0
    want = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    assert got["zipfy"].n_terms == 200
    assert abs(got["zipfy"].zipf_slope - want) < 1e-9
    assert -1.05 < got["zipfy"].zipf_slope < -0.93
    assert got["zipfy"].r2 > 0.99
    assert got["flat"].zipf_slope == 0.0  # all counts equal: flat line


def test_hll_distinct_accuracy_large_cardinality(spark, tmp_path):
    """HLL guarantee pin on a fixture big enough to exercise the RAW
    estimator branch (the driver fixtures' ~31-term vocabularies sit in
    the linear-counting regime): 120k distinct tokens estimated within
    5% (3σ of the m=4096 sketch is ~4.9%), plus exactness checks in the
    linear-counting regime and the one-distinct-token degenerate."""
    import os

    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    big_words = [f"tok{i:06d}" for i in range(120_000)]
    docs = []
    for c in range(120):  # 1000 tokens per doc
        docs.append(
            (c, "big", "en", " ".join(big_words[c * 1000 : (c + 1) * 1000]))
        )
    docs.append((1000, "tiny", "en", "alpha beta gamma alpha"))
    docs.append((1001, "mono", "en", "same same same same"))
    pdf = pd.DataFrame(docs, columns=["doc_id", "source", "lang", "text"])
    sf_dir = str(tmp_path / "hll_sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    got = {
        r.source: r
        for r in all_queries()["hll_distinct"].build(spark, sf_dir).collect()
    }
    big = got["big"]
    assert big.n_registers_hit == 4096  # 120k >> m: every register hit
    assert abs(big.distinct_estimate - 120_000) / 120_000 < 0.05
    # linear counting is near-exact at tiny cardinalities
    assert abs(got["tiny"].distinct_estimate - 3) < 0.01
    assert abs(got["mono"].distinct_estimate - 1) < 0.01


def test_cms_guarantee_under_collisions(spark, tmp_path):
    """CMS property pin in the COLLISION regime the driver fixture's
    31-term vocabulary can't reach: 150k distinct low-frequency tokens
    hashed into 4x4096 cells force real collisions, and the sketch must
    still satisfy the one-sided guarantee exactly (cms >= exact for
    every queried term) with the standard (e/w)*N error envelope. The
    fixture is deterministic, so the bound check is stable."""
    import math
    import os

    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    # 32 planted heavy hitters (100 occurrences each) + 150k singletons
    docs = []
    heavy = " ".join(
        f"hot{i:02d}" for i in range(32) for _ in range(100)
    )
    docs.append((0, "s", "en", heavy))
    noise = [f"n{i:06d}" for i in range(150_000)]
    for c in range(150):
        docs.append((c + 1, "s", "en", " ".join(noise[c * 1000 : (c + 1) * 1000])))
    pdf = pd.DataFrame(docs, columns=["doc_id", "source", "lang", "text"])
    sf_dir = str(tmp_path / "cms_sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    rows = all_queries()["cms_heavy_hitters"].build(spark, sf_dir).collect()
    assert len(rows) == 32
    assert all(r.term.startswith("hot") for r in rows)
    assert all(r.cms_c >= r.exact_c for r in rows)  # one-sided, always
    n_tokens = 32 * 100 + 150_000
    eps_bound = math.e / 4096 * n_tokens
    # with 150k tokens over 4096 cells collisions are certain — the sketch
    # must be actually absorbing them, not running collision-free
    assert any(r.overestimate > 0 for r in rows)
    assert all(r.overestimate <= 2 * eps_bound for r in rows)


def test_ks_drift_semantics(spark, tmp_path):
    """Independent pin of the KS algebra: identical-distribution sources
    score D = 0 exactly (same length multiset), a planted truncation
    (every doc halved) is detected at D = 1 (disjoint supports), and a
    partial shift matches the numpy two-sample KS exactly."""
    import os

    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries import all_queries

    rng = np.random.RandomState(11)
    lens_a = rng.randint(50, 150, 300)
    lens_c = rng.randint(80, 200, 250)  # overlapping but shifted
    docs = []
    i = 0
    for L in lens_a:
        docs.append((i, "a", "en", " ".join(["w"] * L))); i += 1
    for L in lens_a:  # source b: identical length multiset to a
        docs.append((i, "b", "en", " ".join(["w"] * L))); i += 1
    for L in lens_a:  # source t: every doc truncated far below a's range
        docs.append((i, "t", "en", " ".join(["w"] * (L // 10)))); i += 1
    for L in lens_c:
        docs.append((i, "c", "en", " ".join(["w"] * L))); i += 1
    pdf = pd.DataFrame(docs, columns=["doc_id", "source", "lang", "text"])
    sf_dir = str(tmp_path / "ks_sf")
    os.makedirs(sf_dir, exist_ok=True)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    got = {
        (r.source_a, r.source_b): r
        for r in all_queries()["ks_drift"].build(spark, sf_dir).collect()
    }
    assert got[("a", "b")].ks_stat == 0.0
    assert got[("a", "t")].ks_stat == 1.0  # disjoint length supports
    # numpy two-sample KS for the partial shift pair
    a = np.sort(lens_a); c = np.sort(lens_c)
    allv = np.unique(np.concatenate([a, c]))
    Fa = np.searchsorted(a, allv, side="right") / len(a)
    Fc = np.searchsorted(c, allv, side="right") / len(c)
    want = float(np.abs(Fa - Fc).max())
    assert abs(got[("a", "c")].ks_stat - want) < 1e-12
    assert got[("a", "c")].n_a == 300 and got[("a", "c")].n_b == 250
