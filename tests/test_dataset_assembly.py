"""Semantic properties of the dataset-assembly operators beyond the oracle
gate: split mass balance, per-stratum sample rates, and planted-leak
detection. These pin behavior the value-hash alone wouldn't explain."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from synth_timeseries_data_spark.queries import all_queries


def test_hash_split_fractions_and_determinism(spark, oracle_sf_dir):
    q = all_queries()["hash_split"]
    rows = q.build(spark, oracle_sf_dir).collect()
    by_split: dict[str, int] = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    total = sum(by_split.values())
    assert total == 500  # every doc assigned exactly once
    # md5 buckets are uniform: 80/10/10 within binomial slack at n=500
    assert abs(by_split["train"] / total - 0.80) < 0.06
    assert abs(by_split["valid"] / total - 0.10) < 0.05
    assert abs(by_split["test"] / total - 0.10) < 0.05
    # determinism: a second run is identical row-for-row
    again = q.build(spark, oracle_sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_stratified_sample_respects_rates(spark, oracle_sf_dir):
    from synth_timeseries_data_spark.sources import load

    sampled = all_queries()["stratified_sample"].build(spark, oracle_sf_dir)
    got = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    base = {
        r.lang: r.n
        for r in load(spark, oracle_sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rates = {"en": 0.40, "zh": 0.80, "es": 0.80, "de": 1.00, "fr": 1.00}
    for lang, rate in rates.items():
        if rate == 1.0:
            assert got[lang] == base[lang], lang  # keep-all strata lose nothing
        else:
            # hash-uniform keep: observed rate within binomial slack
            assert abs(got[lang] / base[lang] - rate) < 0.15, lang


def test_contamination_detects_planted_leak(spark):
    """A doc duplicated into ids that hash to train and test splits MUST be
    reported; distinct-prefix docs must not be."""
    from synth_timeseries_data_spark.queries import _SPARK_D
    from synth_timeseries_data_spark.queries.llm_pipeline import _contam_spark_sql

    # find ids in each split by evaluating the same bucket expression
    bucket = _SPARK_D["bucket"]("split", "id")
    buckets = {
        r.id: r.b
        for r in spark.sql(
            f"SELECT id, CAST({bucket} % 100 AS INT) AS b "
            "FROM (SELECT explode(sequence(0, 200)) AS id)"
        ).collect()
    }
    train_id = next(i for i, b in buckets.items() if b < 80)
    test_id = next(i for i, b in buckets.items() if b >= 90)
    clean_id = next(i for i, b in buckets.items() if b < 80 and i != train_id)

    leak_text = "alpha beta gamma delta epsilon"
    docs = [
        (train_id, leak_text),
        (test_id, leak_text + " zeta"),  # same 3-word prefix → leak
        (clean_id, "one two three four"),
    ]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS documents(doc_id, text)"
    ).createOrReplaceTempView("documents")
    try:
        got = {
            (r.test_doc, r.train_doc)
            for r in spark.sql(_contam_spark_sql("documents")).collect()
        }
        assert (test_id, train_id) in got
        assert all(tr != clean_id for _, tr in got)
    finally:
        spark.catalog.dropTempView("documents")


def test_pii_redact_planted_cross_engine(spark):
    """The fixture corpus has no PII, so the oracle gate proves only the
    zero-match path. Plant real emails/phones and assert (a) the Spark
    counts/redactions match hand-written expectations and (b) DuckDB's
    evaluation of the dialect-twin SQL is value-identical — pinning the
    Java-regex vs RE2 agreement on text that actually matches."""
    import duckdb

    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _PII_DUCK,
        _PII_SPARK,
    )

    docs = [
        (1, "mail me at a.b+c@ex-ample.co.uk or call +1 415-555-0199 now"),
        (2, "no pii here just words"),
        (3, "x@y.io and 12345678 and admin@test.org"),
    ]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS documents(doc_id, text)"
    ).createOrReplaceTempView("documents")
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS documents_par(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        got = {r.doc_id: r for r in spark.sql(_PII_SPARK).collect()}
        assert (got[1].n_emails, got[1].n_phones) == (1, 1)
        assert (got[2].n_emails, got[2].n_phones) == (0, 0)
        assert (got[3].n_emails, got[3].n_phones) == (2, 1)

        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM (VALUES {values}) AS t(doc_id, text)"
        )
        duck_rows = {r[0]: r for r in con.execute(_PII_DUCK).fetchall()}
        for i in got:
            g = got[i]
            assert (g.n_emails, g.n_phones, g.clean_len, g.clean_fp) == tuple(
                duck_rows[i][1:]
            ), i
    finally:
        spark.catalog.dropTempView("documents")
        spark.catalog.dropTempView("documents_par")


def test_substring_dup_finds_planted_run_only(spark):
    """Two docs sharing a verbatim 10-token run must pair; docs sharing
    only scattered tokens (high Jaccard, no contiguous run) must not —
    the property separating substring_dup from ngram_jaccard."""
    from synth_timeseries_data_spark.queries.llm_pipeline import _SUBDUP_SPARK

    run = " ".join(f"tok{i}" for i in range(10))
    scattered = " ".join(f"tok{i} pad{i}" for i in range(10))  # same tokens, interleaved
    docs = [
        (1, f"left context {run} right context"),
        (2, f"other lead-in {run} trailing words"),
        (3, scattered),
        (4, "entirely unrelated filler words " + " ".join(f"z{i}" for i in range(10))),
    ]
    values = ", ".join(f"({i}, '{t}')" for i, t in docs)
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS documents(doc_id, text)"
    ).createOrReplaceTempView("documents")
    spark.sql(
        f"SELECT * FROM (VALUES {values}) AS documents_par(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        pairs = {(r.doc_a, r.doc_b) for r in spark.sql(_SUBDUP_SPARK).collect()}
        assert (1, 2) in pairs
        assert all(3 not in p and 4 not in p for p in pairs)
    finally:
        spark.catalog.dropTempView("documents")
        spark.catalog.dropTempView("documents_par")


def test_corpus_filter_dedups_only_eligible(spark):
    """Duplicate text among eligible docs keeps exactly the first doc_id;
    an ineligible duplicate (filtered lang) must not consume the kept slot
    — the eligibility flag rides in the window partition key."""
    from synth_timeseries_data_spark.queries.llm_pipeline import _CF_SPARK

    good = "the a of and to in is it " + " ".join(f"w{i}" for i in range(92))
    docs = [
        (1, "s1", "zh", good),   # duplicate text but filtered lang
        (2, "s1", "en", good),   # first eligible holder of the text → kept
        (3, "s1", "en", good),   # eligible duplicate → dropped at dedup
        (4, "s1", "en", "tiny low quality text"),  # fails quality gate
    ]
    values = ", ".join(f"({i}, '{s}', '{l}', '{t}')" for i, s, l, t in docs)
    for view in ("documents", "documents_par"):
        spark.sql(
            f"SELECT * FROM (VALUES {values}) AS {view}(doc_id, source, lang, text)"
        ).createOrReplaceTempView(view)
    try:
        rows = {(r.source, r.lang): r for r in spark.sql(_CF_SPARK).collect()}
        en = rows[("s1", "en")]
        assert (en.n_docs, en.n_lang_ok, en.n_eligible, en.n_kept) == (3, 3, 2, 1)
        zh = rows[("s1", "zh")]
        assert (zh.n_docs, zh.n_lang_ok, zh.n_eligible, zh.n_kept) == (1, 0, 0, 0)
    finally:
        spark.catalog.dropTempView("documents")
        spark.catalog.dropTempView("documents_par")


def test_substring_dup_stop_gram_cap_drops_hot_runs(spark):
    """The stop-gram guard: a run shared by more docs than the cap is
    boilerplate and must generate NO pairs (that bucket would otherwise be
    quadratic at scale); a rare shared run still pairs. Cap lowered to 3
    via the builder parameter so the fixture stays small."""
    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _SPARK_D,
        _substring_dup_sql,
    )

    boiler = " ".join(f"b{i}" for i in range(10))  # shared by 5 docs > cap 3
    rare = " ".join(f"r{i}" for i in range(10))    # shared by 2 docs <= cap
    spark.sql(
        f"""
        SELECT id AS doc_id,
               CASE WHEN id < 5
                    THEN CONCAT('u', id, ' filler words here ', '{boiler}')
                    ELSE CONCAT('v', id, ' other lead text ', '{rare}')
               END AS text
        FROM (SELECT explode(sequence(0, 6)) AS id)
        """
    ).createOrReplaceTempView("documents_par")
    try:
        sql = _substring_dup_sql(_SPARK_D, cap=3)
        pairs = {(r.doc_a, r.doc_b) for r in spark.sql(sql).collect()}
        assert pairs == {(5, 6)}, pairs  # rare run pairs; boilerplate dropped
    finally:
        spark.catalog.dropTempView("documents_par")


def test_substring_dup_equals_bruteforce_on_random_corpus(spark):
    """Randomized equivalence: on small corpora drawn from a tiny
    vocabulary (forcing both collisions and near-misses), the SQL
    pair set must equal a brute-force python check for a shared
    10-token contiguous run — pinning the window arithmetic
    (slice bounds, sequence end, >=10 filter) exactly."""
    import numpy as np

    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _SPARK_D,
        _substring_dup_sql,
    )

    for seed in (7, 41):
        rng = np.random.default_rng(seed)
        docs = []
        for i in range(30):
            n = int(rng.integers(5, 26))  # some docs below the 10-token floor
            docs.append((i, " ".join(f"w{rng.integers(0, 4)}" for _ in range(n))))

        def runs(text):
            ws = text.split(" ")
            return {tuple(ws[i : i + 10]) for i in range(len(ws) - 9)}

        expected = set()
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                if runs(docs[a][1]) & runs(docs[b][1]):
                    expected.add((a, b))

        values = ", ".join(f"({i}, '{t}')" for i, t in docs)
        spark.sql(
            f"SELECT * FROM (VALUES {values}) AS documents_par(doc_id, text)"
        ).createOrReplaceTempView("documents_par")
        try:
            got = {
                (r.doc_a, r.doc_b)
                for r in spark.sql(_substring_dup_sql(_SPARK_D)).collect()
            }
            assert got == expected, (seed, got ^ expected)
        finally:
            spark.catalog.dropTempView("documents_par")


def test_dsir_resample_is_exact_gumbel_topk(spark, duck, oracle_sf_dir):
    """The selected set must be EXACTLY the top-ceil(raw/4) of the
    weighted pool under key = micro(logw) + micro(gumbel(lcg(doc_id))),
    recomputed independently in pandas from the dsir_weights relation —
    and selection must skew target-like vs the pool (the property the
    resampler exists for)."""
    import math

    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _DSIR_RESAMPLE_SALT,
    )

    w = duck.execute(all_queries()["dsir_weights"].oracle).df()
    sel = duck.execute(all_queries()["dsir_resample"].oracle).df()
    raw = duck.execute("SELECT COUNT(*) FROM documents").fetchone()[0]

    A, C, M = 1103515245, 12345, 2147483648

    def gumbel_key(doc_id, logw):
        s1 = ((doc_id % M) * A + C + _DSIR_RESAMPLE_SALT * 7919) % M
        s2 = (s1 * A + C) % M
        u = (s2 + 0.5) / float(M)
        return round(logw * 1e6) + round(-math.log(-math.log(u)) * 1e6)

    keyed = sorted(
        (
            (-gumbel_key(int(r.doc_id), float(r.logw_nats)), int(r.doc_id))
            for r in w.itertuples(index=False)
        )
    )
    k = -(-raw // 4)
    want = {doc for _, doc in keyed[:k]}
    got = set(sel.doc_id)
    assert got == want and len(got) == min(k, len(w))
    assert sel.more_target_like.mean() > w.more_target_like.mean()
