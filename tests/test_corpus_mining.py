"""Semantic properties of the round-8 corpus-mining operators beyond the
oracle gate: a brute-force winnowing reimplementation pin, the MOSS
coverage guarantee on planted shared runs, and (as the module grows)
repetition/line-dedup/k-means semantics on planted corpora."""

from __future__ import annotations

import hashlib

from synth_timeseries_data_spark.queries import all_queries

# ---------------------------------------------------------------------------
# winnowing
# ---------------------------------------------------------------------------

_WIN_K = 5
_WIN_W = 4
_POS = 1 << 24


def _winnow_py(tokens: list[str]) -> set[tuple[int, int]]:
    """Independent brute-force winnowing: returns {(fp, pos)} selected by
    taking each w-window's minimum composite (rightmost-min tie rule)."""
    n = len(tokens) - _WIN_K + 1
    if n < 1:
        return set()
    v = []
    for i in range(1, n + 1):
        gram = " ".join(tokens[i - 1 : i - 1 + _WIN_K])
        h = int(hashlib.md5(gram.encode()).hexdigest()[:9], 16)
        v.append(h * _POS + (_POS - 1 - i))
    out = set()
    ends = range(_WIN_W, n + 1) if n >= _WIN_W else [n]
    for p in ends:
        wv = min(v[max(0, p - _WIN_W) : p])
        out.add((wv // _POS, _POS - 1 - (wv % _POS)))
    return out


def test_winnowing_matches_bruteforce_on_fixture(spark, oracle_sf_dir):
    """Every (doc, fp, pos) from the Spark plan must equal the independent
    python winnowing of that doc's tokens — including short docs that only
    emit their partial-window minimum."""
    from synth_timeseries_data_spark.sources import load

    texts = {
        r.doc_id: r.text
        for r in load(spark, oracle_sf_dir, "documents").collect()
        if r.text is not None
    }
    rows = all_queries()["winnowing"].build(spark, oracle_sf_dir).collect()
    got: dict[int, set] = {}
    for r in rows:
        got.setdefault(r.doc_id, set()).add((r.fp, r.pos))
    expect = {
        d: _winnow_py(t.split(" "))
        for d, t in texts.items()
        if len(t.split(" ")) >= _WIN_K
    }
    assert got == {d: s for d, s in expect.items() if s}


def test_winnowing_guarantee_on_planted_shared_run(spark):
    """The MOSS guarantee: two documents sharing a w+k-1 = 8-token run share
    at least one selected fingerprint (that is the property a
    fingerprint-only dedup index relies on)."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    a = "x1 x2 x3 " + shared + " x4 x5 x6 x7 x8 x9"
    b = "y1 y2 y3 y4 y5 y6 " + shared + " y7 y8"
    fa, fb = _winnow_py(a.split(" ")), _winnow_py(b.split(" "))
    assert {f for f, _ in fa} & {f for f, _ in fb}
    # and the engine agrees with the reimpl on the planted docs
    spark.sql(
        f"SELECT * FROM (VALUES (1, '{a}'), (2, '{b}')) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_mining import (
            _WINNOW_SPARK,
        )

        rows = spark.sql(_WINNOW_SPARK).collect()
    finally:
        spark.catalog.dropTempView("documents_par")
    got = {1: set(), 2: set()}
    for r in rows:
        got[r.doc_id].add((r.fp, r.pos))
    assert got == {1: fa, 2: fb}


def test_winnowing_short_doc_partial_window(spark):
    """A doc with fewer grams than one window still emits exactly its
    minimum (coverage for short docs); a doc under k tokens emits nothing."""
    short = "a b c d e f"  # 6 tokens -> 2 grams < w
    tiny = "a b c"  # under k -> no grams
    spark.sql(
        f"SELECT * FROM (VALUES (1, '{short}'), (2, '{tiny}'))"
        " AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_mining import (
            _WINNOW_SPARK,
        )

        rows = spark.sql(_WINNOW_SPARK).collect()
    finally:
        spark.catalog.dropTempView("documents_par")
    by_doc: dict[int, set] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add((r.fp, r.pos))
    assert set(by_doc) == {1}
    assert by_doc[1] == _winnow_py(short.split(" "))
    assert len(by_doc[1]) == 1


# ---------------------------------------------------------------------------
# gopher_repetition
# ---------------------------------------------------------------------------


def _grep_py(text: str) -> dict:
    """Independent reimplementation of the repetition table."""
    ws = text.split(" ")
    lines = text.split("\n")
    nch = max(len(text), 1)
    out = {
        "n_words": len(ws),
        "n_lines": len(lines),
        "dup_line_frac": (len(lines) - len(set(lines))) / len(lines),
    }
    from collections import Counter

    lc = Counter(lines)
    out["dup_line_char_frac"] = (
        sum((c - 1) * len(l) for l, c in lc.items()) / nch
    )
    for n in (2, 3, 4):
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        if grams:
            gc = Counter(grams)
            # tie -> lexicographically smallest gram
            bestc = max(gc.values())
            bestg = min(g for g, c in gc.items() if c == bestc)
            out[f"top{n}_char_frac"] = bestc * len(bestg) / nch
        else:
            out[f"top{n}_char_frac"] = 0.0
    for n in (5, 10):
        grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
        gc = Counter(grams)
        covered = set()
        for i, g in enumerate(grams):
            if gc[g] >= 2:
                covered.update(range(i, i + n))
        out[f"dup{n}_tok_frac"] = len(covered) / len(ws)
    return out


def test_gopher_repetition_matches_reimpl_on_planted_docs(spark):
    """Planted docs with duplicate lines, a dominant 2-gram, and
    overlapping duplicate 5-grams (the overlap-union case the interval
    sweep must get right) must match the independent python table."""
    docs = {
        1: "the cat sat\nhello world\nthe cat sat\nbye",
        2: "a b a b a b a b c d e f g h i j k l m n o p",
        3: "x y z w v x y z w v x y z w v q r s t u",  # overlapping dup 5-grams
        4: "one line only with ten distinct little words here now",
    }
    vals = ", ".join(
        f"({k}, '{v}'" + ")" for k, v in docs.items()
    ).replace("\n", "\\n")
    spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_mining import (
            _GREP_SPARK,
        )

        rows = {r.doc_id: r.asDict() for r in spark.sql(_GREP_SPARK).collect()}
    finally:
        spark.catalog.dropTempView("documents_par")
    assert set(rows) == set(docs)
    for d, text in docs.items():
        exp = _grep_py(text)
        got = rows[d]
        for k, v in exp.items():
            assert got[k] == v, (d, k, got[k], v)


def test_gopher_repetition_pandas_and_fold_forms_row_equal(spark, oracle_sf_dir):
    """The registered mapInPandas form and the declarative fold artifact
    must emit bit-identical rows on the fixture (the A/B that retired the
    fold form is only valid because the forms agree)."""
    from synth_timeseries_data_spark.queries.corpus_mining import (
        _GREP_SPARK,
    )
    from synth_timeseries_data_spark.queries.llm_pipeline import (
        _register_docs,
    )

    _register_docs(spark, oracle_sf_dir)
    fold = {r.doc_id: tuple(r) for r in spark.sql(_GREP_SPARK).collect()}
    got = {
        r.doc_id: tuple(r)
        for r in all_queries()["gopher_repetition"]
        .build(spark, oracle_sf_dir)
        .collect()
    }
    assert fold == got


def test_gopher_repetition_pandas_form_on_planted_docs(spark):
    """The registered (mapInPandas) path itself on planted newline/dup
    docs — same table as the reimpl, NULL text skipped."""
    import pandas as pd

    docs = {
        1: "the cat sat\nhello world\nthe cat sat\nbye",
        2: "a b a b a b a b c d e f g h i j k l m n o p",
        3: None,
    }
    sdf = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": list(docs), "text": [docs[k] for k in docs]}
        )
    )
    from synth_timeseries_data_spark.queries.corpus_mining import (
        _grep_pandas,
    )

    rows = {r.doc_id: r.asDict() for r in _grep_pandas(sdf).collect()}
    assert set(rows) == {1, 2}  # NULL text emits no row in either form
    for d in (1, 2):
        exp = _grep_py(docs[d])
        for k, v in exp.items():
            assert rows[d][k] == v, (d, k)


def test_gopher_repetition_fixture_thresholds_consistent(spark, oracle_sf_dir):
    """On the fixture, keep must equal the AND of the ok_* flags and each
    flag must equal its fraction-vs-threshold comparison."""
    rows = (
        all_queries()["gopher_repetition"].build(spark, oracle_sf_dir).collect()
    )
    assert rows
    from synth_timeseries_data_spark.queries.corpus_mining import _GREP_LIMITS

    for r in rows:
        d = r.asDict()
        oks = []
        for col, lim in _GREP_LIMITS.items():
            flag = "ok_" + col.split("_frac")[0]
            assert d[flag] == (d[col] <= lim), (r.doc_id, col)
            oks.append(d[flag])
        assert d["keep"] == all(oks), r.doc_id


# ---------------------------------------------------------------------------
# line_dedup
# ---------------------------------------------------------------------------


def _line_dedup_py(docs: dict[int, str | None]) -> dict[int, tuple]:
    """Independent reimpl: normalized-hash keep-first line dedup."""
    import re

    def norm(l: str) -> str:
        return re.sub(r"[0-9]", "", l.lower()).strip()

    first: dict[str, int] = {}
    for d in sorted(docs):
        t = docs[d]
        if t is None:
            continue
        for l in t.split("\n"):
            nl = norm(l)
            if len(l.split(" ")) >= 4 and nl != "":
                first.setdefault(nl, d)
    out = {}
    for d, t in docs.items():
        if t is None:
            out[d] = (None, None, None)
            continue
        lines = t.split("\n")
        kept = [
            l
            for l in lines
            if not (
                len(l.split(" ")) >= 4
                and norm(l) != ""
                and first[norm(l)] < d
            )
        ]
        out[d] = (len(lines), len(lines) - len(kept), "\n".join(kept))
    return out


def test_line_dedup_planted_semantics(spark):
    """Keep-first at doc grain (within-keeper repeats survive), the
    normalization collisions (case, digits), short-line exemption, full
    removal -> empty text, NULL passthrough, and untouched fast path."""
    boiler = "the quick brown fox jumps"
    docs = {
        1: boiler + "\nunique line one here okay\n" + boiler,
        2: "intro text something else okay\n" + boiler + "\nanother unique line entirely",
        3: boiler.upper() + "\nmore stuff",
        4: boiler,
        5: None,
        6: "short one\nshort one",
        7: "copyright 2023 acme corp inc\nbody a b c d e",
        8: "copyright 2024 ACME corp inc\nbody f g h i j",
    }
    exp = _line_dedup_py(docs)
    vals = ", ".join(
        f"({k}, " + ("CAST(NULL AS STRING))" if v is None else f"'{v}')")
        for k, v in docs.items()
    ).replace("\n", "\\n")
    spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_mining import (
            _LD_SPARK,
        )

        rows = {
            r.doc_id: (r.n_lines, r.n_removed, r.clean_text)
            for r in spark.sql(_LD_SPARK).collect()
        }
    finally:
        spark.catalog.dropTempView("documents_par")
    assert rows == exp
    # spot-check the planted intents explicitly
    assert rows[1][1] == 0  # keeper: both repeats survive
    assert rows[2][1] == 1 and boiler not in rows[2][2]
    assert rows[3][1] == 1  # case-normalized collision
    assert rows[4] == (1, 1, "")  # fully removed, row preserved
    assert rows[5] == (None, None, None)
    assert rows[6][1] == 0  # short-line exemption
    assert rows[8][1] == 1  # digit-stripped collision


def test_line_dedup_fixture_row_preserving(spark, oracle_sf_dir):
    """One output row per input doc, and accounting holds: n_removed
    between 0 and n_lines, clean_text line count = n_lines - n_removed."""
    from synth_timeseries_data_spark.sources import load

    n_docs = load(spark, oracle_sf_dir, "documents").count()
    rows = all_queries()["line_dedup"].build(spark, oracle_sf_dir).collect()
    assert len(rows) == n_docs
    for r in rows:
        if r.n_lines is None:
            continue
        assert 0 <= r.n_removed <= r.n_lines
        n_kept = len(r.clean_text.split("\n")) if r.clean_text != "" else 0
        assert n_kept == r.n_lines - r.n_removed or (
            r.n_removed == 0 and n_kept == r.n_lines
        )


# ---------------------------------------------------------------------------
# kmeans_embed
# ---------------------------------------------------------------------------


def _kmeans_py(vecs: dict[int, list[float]], k: int = 8, iters: int = 3):
    """Independent numpy-free Lloyd reimpl with the same micro-int
    discipline: FLOOR-micro squared distances, d2*K+c argmin encoding,
    FLOOR-micro coordinate means."""
    import math

    def d2(a, b):
        return sum(
            int(math.floor((x - y) * (x - y) * 1e6)) for x, y in zip(a, b)
        )

    cents = {
        c: [float(x) for x in vecs[v]]
        for c, v in enumerate(sorted(vecs)[:k])
    }
    assign = {}
    for _ in range(iters):
        assign = {
            v: min((d2(e, cw) * k + c) for c, cw in cents.items())
            for v, e in vecs.items()
        }
        members: dict[int, list] = {}
        for v, kk in assign.items():
            members.setdefault(kk % k, []).append(vecs[v])
        cents = {
            c: [
                sum(int(math.floor(float(x) * 1e6)) for x in col)
                / (len(col) * 1e6)
                for col in zip(*ms)
            ]
            for c, ms in members.items()
        }
    return {v: (kk % k, kk // k) for v, kk in assign.items()}


def test_kmeans_embed_matches_reimpl_on_fixture(spark, oracle_sf_dir):
    """Every (vec_id, cluster, d2_micro) must equal the independent pure-
    python Lloyd run — seeding, micro distances, tie rule and means."""
    from synth_timeseries_data_spark.sources import load

    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load(spark, oracle_sf_dir, "embeddings").collect()
    }
    exp = _kmeans_py(vecs)
    rows = all_queries()["kmeans_embed"].build(spark, oracle_sf_dir).collect()
    got = {r.vec_id: (r.cluster, r.d2_micro) for r in rows}
    assert got == exp


def test_kmeans_embed_partitions_all_vectors(spark, oracle_sf_dir):
    """Every vector gets exactly one cluster in [0, K)."""
    from synth_timeseries_data_spark.sources import load

    n = load(spark, oracle_sf_dir, "embeddings").count()
    rows = all_queries()["kmeans_embed"].build(spark, oracle_sf_dir).collect()
    assert len(rows) == n
    assert {r.vec_id for r in rows} == set(range(n))
    assert all(0 <= r.cluster < 8 for r in rows)


# ---------------------------------------------------------------------------
# tokenizer_stats
# ---------------------------------------------------------------------------


def test_tokenizer_stats_consistent_with_bpe_encode(spark, oracle_sf_dir):
    """Per-language totals must equal the lang-grouped sums of the
    bpe_encode relation, and the quotients must be exactly their ratio
    (merges only join words, so tokens_per_word <= 1)."""
    from synth_timeseries_data_spark.sources import load

    enc = {
        r.doc_id: (r.n_tokens, r.n_bpe_tokens)
        for r in all_queries()["bpe_encode"].build(spark, oracle_sf_dir).collect()
    }
    langs = {
        r.doc_id: (r.lang, r.n_chars)
        for r in load(spark, oracle_sf_dir, "documents").collect()
        if r.text is not None
    }
    exp: dict[str, list] = {}
    for d, (lang, nch) in langs.items():
        w, b = enc[d]
        agg = exp.setdefault(lang, [0, 0, 0, 0])
        agg[0] += 1
        agg[1] += w
        agg[2] += b
        agg[3] += nch
    rows = all_queries()["tokenizer_stats"].build(spark, oracle_sf_dir).collect()
    assert {r.lang for r in rows} == set(exp)
    for r in rows:
        nd, w, b, ch = exp[r.lang]
        assert (r.n_docs, r.n_words, r.n_bpe_tokens, r.n_chars) == (nd, w, b, ch)
        assert r.tokens_per_word == b / w and r.tokens_per_word <= 1.0
        assert r.chars_per_token == ch / b


# ---------------------------------------------------------------------------
# Session-level bit-exact oracle pins for the two driver-rows-only entries
# (window arithmetic, not SQL-expressibility — see queries/__init__.py's
# rotation ledger): the SAME canon compare the driver's value hash uses.
# ---------------------------------------------------------------------------


def test_line_dedup_oracle_bit_exact(spark, duck, oracle_sf_dir):
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.corpus_mining import _LD_DUCK

    spark_pdf = all_queries()["line_dedup"].build(spark, oracle_sf_dir).toPandas()
    duck_pdf = duck.execute(_LD_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "line_dedup")


def test_tokenizer_stats_oracle_bit_exact(spark, duck, oracle_sf_dir):
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.corpus_mining import (
        _TOK_STATS_DUCK,
    )

    spark_pdf = (
        all_queries()["tokenizer_stats"].build(spark, oracle_sf_dir).toPandas()
    )
    duck_pdf = duck.execute(_TOK_STATS_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "tokenizer_stats")


def test_kmeans_numpy_form_row_equal_past_gate(spark, tmp_path):
    """The registered numpy-assignment Lloyd loop must be row-identical to
    the DuckDB twin's unrolled chain on a synthetic corpus 50x the oracle
    fixture (25k clustered vectors — real multi-member clusters and a
    real argmin surface)."""
    import duckdb
    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries.corpus_mining import _KM_DUCK

    rng = np.random.default_rng(7)
    n, dims = 25_000, 64
    centers = rng.normal(size=(8, dims))
    vecs = (
        centers[rng.integers(0, 8, n)] + rng.normal(scale=0.3, size=(n, dims))
    ).astype(np.float32)
    path = tmp_path / "embeddings.parquet"
    pd.DataFrame(
        {"vec_id": np.arange(n), "embedding": list(map(list, vecs)),
         "label": np.zeros(n, dtype=np.int32)}
    ).to_parquet(path)

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        duck_rows = {
            v: (c, d2) for v, c, d2 in con.execute(_KM_DUCK).fetchall()
        }
    finally:
        con.close()
    np_rows = {
        r.vec_id: (r.cluster, r.d2_micro)
        for r in all_queries()["kmeans_embed"]
        .build(spark, str(tmp_path))
        .collect()
    }
    assert duck_rows == np_rows
    assert len(duck_rows) == n


def _quantizer_vs_chain(spark, tmp_path, vecs, k):
    """Train the Spark quantizer (_km_quantizer: seeds + _KM_ITERS
    _km_step rounds) and the DuckDB chain's trained_centroid_select at
    K=k on ``vecs``; assert the (c, dim, w) relations are bit-equal and
    return the trained cluster ids."""
    import struct

    import duckdb
    import numpy as np
    import pandas as pd

    from synth_timeseries_data_spark.queries._lloyd import (
        _km_cent_chain,
        _km_quantizer,
    )

    path = tmp_path / f"embeddings_k{k}.parquet"
    pd.DataFrame(
        {"vec_id": np.arange(len(vecs)),
         "embedding": list(map(list, vecs.astype(np.float32))),
         "label": np.zeros(len(vecs), dtype=np.int32)}
    ).to_parquet(path)

    def bits(c, dim, w):
        return (int(c), int(dim), struct.pack("<d", float(w)))

    ctes, trained = _km_cent_chain(k=k)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
        duck_rows = sorted(
            bits(*r)
            for r in con.execute(
                "WITH " + ",\n    ".join(ctes) + f" {trained}"
            ).fetchall()
        )
    finally:
        con.close()
    cents = _km_quantizer(spark, spark.read.parquet(str(path)), k=k)
    spark_rows = sorted(
        bits(c, d + 1, w) for c in cents for d, w in enumerate(cents[c])
    )
    assert spark_rows == duck_rows
    return set(cents)


def test_km_quantizer_cluster_dropout_matches_chain(spark, tmp_path):
    """Seed vectors 0 and 1 are identical, so every vector tied between
    them goes to cluster 0 (the lower id) and cluster 1 loses every member
    in round 1. The trained quantizer drops it, exactly as the DuckDB
    chain does."""
    import numpy as np

    rng = np.random.default_rng(11)
    centers = rng.normal(scale=4.0, size=(3, 64))
    vecs = centers[rng.integers(0, 3, 300)] + rng.normal(
        scale=0.5, size=(300, 64)
    )
    vecs[1] = vecs[0]
    got = _quantizer_vs_chain(spark, tmp_path, vecs, k=4)
    assert 1 not in got and 0 in got


def test_km_quantizer_k256_crosses_centroid_blocks(spark, tmp_path):
    """At K=256 the argmin walks four 64-row centroid blocks (ties keep
    the lower block) and the partial sums scatter onto 256 cluster rows;
    the trained quantizer stays bit-equal to the DuckDB chain."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(40, 64))
    vecs = centers[rng.integers(0, 40, 700)] + rng.normal(
        scale=0.2, size=(700, 64)
    )
    got = _quantizer_vs_chain(spark, tmp_path, vecs, k=256)
    assert len(got) > 64


# ---------------------------------------------------------------------------
# quality_classifier
# ---------------------------------------------------------------------------


def test_quality_classifier_oracle_bit_exact(spark, duck, oracle_sf_dir):
    """All five training rounds must produce bit-identical scores across
    engines (driver rows-only by window arithmetic — this is the full
    canon-compare oracle pin, the line_dedup pattern)."""
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.corpus_mining import _QLR_DUCK

    spark_pdf = (
        all_queries()["quality_classifier"]
        .build(spark, oracle_sf_dir)
        .toPandas()
    )
    duck_pdf = duck.execute(_QLR_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "quality_classifier")


def test_quality_classifier_learns_separable_corpus(spark, tmp_path):
    """On a planted corpus where the label is vocabulary-separable (long
    vocab-A docs pass the word-count gate, short vocab-B docs fail), five
    rounds must reach >= 90% training accuracy — the machinery actually
    learns, not just converges."""
    import pandas as pd

    rows = []
    for i in range(40):
        words = [f"alpha{j % 7}" for j in range(60)]
        rows.append((i, " ".join(words), "en", "webA"))
    for i in range(40, 80):
        words = [f"beta{j % 7}" for j in range(20)]
        rows.append((i, " ".join(words), "en", "webB"))
    pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"]).assign(
        n_chars=lambda d: d.text.str.len()
    ).to_parquet(tmp_path / "documents.parquet")

    out = (
        all_queries()["quality_classifier"]
        .build(spark, str(tmp_path))
        .collect()
    )
    assert len(out) == 80
    labels = {r.doc_id: r.label_keep for r in out}
    assert sum(labels.values()) == 40  # the gate splits the corpus
    acc = sum(r.correct for r in out) / len(out)
    assert acc >= 0.9, acc


# ---------------------------------------------------------------------------
# interpolate_ts (lives in timeseries.py; pinned here with the other
# driver-rows-only canon-compare oracle pins)
# ---------------------------------------------------------------------------


def test_interpolate_ts_oracle_bit_exact(spark, duck, oracle_sf_dir):
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.timeseries import _ITP_DUCK

    spark_pdf = (
        all_queries()["interpolate_ts"].build(spark, oracle_sf_dir).toPandas()
    )
    duck_pdf = duck.execute(_ITP_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "interpolate_ts")


def test_interpolate_ts_semantics_and_mcar_consistency(spark, oracle_sf_dir):
    """Reimplement the gap-fill in python over the fixture series (using
    the engine's own was_masked flags and the raw values) and require
    exact equality; the masked-cell count must equal mcar_mask's rate-0.2
    row, since both derive from the same salt-3 LCG stream."""
    from synth_timeseries_data_spark.sources import load

    raw = {
        r.event_id: (r.user_id, r.value)
        for r in load(spark, oracle_sf_dir, "events").collect()
    }
    rows = all_queries()["interpolate_ts"].build(spark, oracle_sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    n_checked = 0
    for _u, rs in by_user.items():
        rs.sort(key=lambda r: (r.ts_us, r.event_id))
        obs = [
            (i, r.ts_us, raw[r.event_id][1])
            for i, r in enumerate(rs)
            if not r.was_masked
        ]
        for i, r in enumerate(rs):
            if not r.was_masked:
                assert r.value_filled == raw[r.event_id][1]
                continue
            prev = max((o for o in obs if o[0] < i), default=None)
            nxt = min((o for o in obs if o[0] > i), default=None)
            if prev and nxt and nxt[1] != prev[1]:
                want = prev[2] + (nxt[2] - prev[2]) * (
                    float(r.ts_us - prev[1]) / float(nxt[1] - prev[1])
                )
            elif prev:
                want = prev[2]
            elif nxt:
                want = nxt[2]
            else:
                want = None
            assert r.value_filled == want, (r.event_id, r.value_filled, want)
            n_checked += 1
    assert n_checked > 100  # real interpolation happened, not passthrough
    mcar = all_queries()["mcar_mask"].build(spark, oracle_sf_dir).collect()
    n_missing_02 = sum(r.n_missing for r in mcar if r.rate == 0.2)
    assert n_missing_02 == sum(r.was_masked for r in rows)


# ---------------------------------------------------------------------------
# outlier_flags / doc_embed oracle pins + semantics
# ---------------------------------------------------------------------------


def test_outlier_flags_oracle_bit_exact(spark, duck, oracle_sf_dir):
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.timeseries import _OUTLIER_DUCK

    spark_pdf = (
        all_queries()["outlier_flags"].build(spark, oracle_sf_dir).toPandas()
    )
    duck_pdf = duck.execute(_OUTLIER_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "outlier_flags")


def test_outlier_flags_rank_median_semantics(spark, oracle_sf_dir):
    """med/mad must be the exact lower-middle rank picks per series, and
    the flag the plain 3*MAD rule — checked against a python reimpl."""
    rows = all_queries()["outlier_flags"].build(spark, oracle_sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    flagged = 0
    for _u, rs in by_user.items():
        vals = sorted((r.value, r.event_id) for r in rs)
        med = vals[(len(vals) + 1) // 2 - 1][0]
        devs = sorted((abs(r.value - med), r.event_id) for r in rs)
        mad = devs[(len(devs) + 1) // 2 - 1][0]
        for r in rs:
            assert r.med == med and r.mad == mad
            assert r.is_outlier == (abs(r.value - med) > 3 * mad)
            flagged += r.is_outlier
    assert flagged > 0


def test_doc_embed_oracle_bit_exact_and_deterministic(spark, duck, oracle_sf_dir):
    """Bit-exact across engines, 16 dims per doc, and identical texts map
    to identical vectors (the hash_split-style stability property)."""
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.corpus_mining import _DE_DUCK

    spark_pdf = all_queries()["doc_embed"].build(spark, oracle_sf_dir).toPandas()
    duck_pdf = duck.execute(_DE_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "doc_embed")
    per_doc = spark_pdf.groupby("doc_id").dim.count()
    assert (per_doc == 16).all()
    # planted: same text twice -> same vector
    spark.sql(
        "SELECT * FROM (VALUES (1, 'a b c'), (2, 'a b c'), (3, 'x y z'))"
        " AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_mining import (
            _doc_embed_sql,
            _SPARK_D,
        )

        out = spark.sql(_doc_embed_sql(_SPARK_D)).collect()
    finally:
        spark.catalog.dropTempView("documents_par")
    v = {}
    for r in out:
        v.setdefault(r.doc_id, {})[r.dim] = r.val
    assert v[1] == v[2] and v[1] != v[3]


def test_winnowing_guarantee_property_random_corpora():
    """Hypothesis: for ANY two token lists sharing a contiguous w+k-1 =
    8-token run, the winnowed fingerprint sets intersect — the MOSS
    theorem the fingerprint index relies on (pure-python check over the
    pinned reimpl, which the engine is bit-equal to on the fixture)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    tok = st.integers(0, 30).map(lambda i: f"t{i}")
    toks = st.lists(tok, min_size=0, max_size=30)

    @settings(max_examples=200, deadline=None)
    @given(pre_a=toks, post_a=toks, pre_b=toks, post_b=toks,
           shared=st.lists(tok, min_size=8, max_size=12))
    def check(pre_a, post_a, pre_b, post_b, shared):
        a = pre_a + shared + post_a
        b = pre_b + shared + post_b
        fa = {f for f, _ in _winnow_py(a)}
        fb = {f for f, _ in _winnow_py(b)}
        assert fa & fb

    check()


def test_line_dedup_differential_random_corpora(spark):
    """Seeded random multi-line corpora (shared line pool, so cross-doc
    duplicates, short lines, digit variants and within-doc repeats all
    occur organically) must match the independent python reimpl."""
    import random

    rng = random.Random(1234)
    pool = [
        " ".join(f"w{rng.randrange(12)}" for _ in range(rng.randrange(2, 9)))
        for _ in range(40)
    ]
    docs = {}
    for d in range(60):
        lines = [pool[rng.randrange(len(pool))] for _ in range(rng.randrange(1, 7))]
        if rng.random() < 0.2:
            lines.append(f"version {rng.randrange(10)} of shared footer line")
        docs[d] = "\n".join(lines)
    exp = _line_dedup_py(docs)
    vals = ", ".join(f"({k}, '{v}')" for k, v in docs.items()).replace(
        "\n", "\\n"
    )
    spark.sql(
        f"SELECT * FROM (VALUES {vals}) AS t(doc_id, text)"
    ).createOrReplaceTempView("documents_par")
    try:
        from synth_timeseries_data_spark.queries.corpus_mining import (
            _LD_SPARK,
        )

        got = {
            r.doc_id: (r.n_lines, r.n_removed, r.clean_text)
            for r in spark.sql(_LD_SPARK).collect()
        }
    finally:
        spark.catalog.dropTempView("documents_par")
    assert got == exp
    assert sum(v[1] for v in got.values()) > 0  # real removals occurred


# ---------------------------------------------------------------------------
# winnow_dup / imputation_error oracle pins + semantics
# ---------------------------------------------------------------------------


def test_winnow_dup_oracle_bit_exact_and_consistent(spark, duck, oracle_sf_dir):
    """Bit-exact across engines, and the pair counts must equal a brute-
    force recomputation from the winnowing relation under the same
    stop-cap/threshold rule."""
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.corpus_mining import (
        _WD_DUCK,
        _WD_MIN_SHARED,
        _WD_STOP_CAP,
    )

    spark_pdf = all_queries()["winnow_dup"].build(spark, oracle_sf_dir).toPandas()
    duck_pdf = duck.execute(_WD_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "winnow_dup")
    fps = all_queries()["winnowing"].build(spark, oracle_sf_dir).collect()
    by_doc: dict[int, set] = {}
    carriers: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
        carriers.setdefault(r.fp, set()).add(r.doc_id)
    hot = {f for f, ds in carriers.items() if len(ds) > _WD_STOP_CAP}
    want = {}
    for f, ds in carriers.items():
        if f in hot:
            continue
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1 :]:
                want[(a, b)] = want.get((a, b), 0) + 1
    want = {k: v for k, v in want.items() if v >= _WD_MIN_SHARED}
    got = {
        (r.doc_a, r.doc_b): r.shared_fps for _, r in spark_pdf.iterrows()
    }
    assert got == want and got


def test_imputation_error_oracle_and_accounting(spark, duck, oracle_sf_dir):
    """Bit-exact across engines; masked-cell totals must tie to
    interpolate_ts' flags, and MAE must be the exact micro quotient."""
    from tests.oracle_utils import assert_frames_match
    from synth_timeseries_data_spark.queries.timeseries import _IMP_ERR_DUCK

    spark_pdf = (
        all_queries()["imputation_error"].build(spark, oracle_sf_dir).toPandas()
    )
    duck_pdf = duck.execute(_IMP_ERR_DUCK).df()
    assert_frames_match(spark_pdf, duck_pdf, "imputation_error")
    itp = all_queries()["interpolate_ts"].build(spark, oracle_sf_dir).collect()
    assert spark_pdf.n_masked.sum() == sum(r.was_masked for r in itp)
    for _, r in spark_pdf.iterrows():
        n_filled = r.n_masked - r.n_unfilled
        assert r.mae == r.sae_micro / (n_filled * 1e6)
