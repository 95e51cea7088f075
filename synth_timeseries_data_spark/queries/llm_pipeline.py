"""LLM-training-data pipeline operators (EXT surface, first-class at 100 TB):
text statistics, token counting, language-ID heuristic, quality scoring,
document fingerprinting, MinHash-LSH near-dup detection, n-gram Jaccard,
and embedding similarity search (brute-force + LSH-bucketed ANN).

Design rules for scale:
- Near-dup is banded MinHash LSH — candidates come from equality joins on
  (band, signature) buckets, never an all-pairs self-join.
- ANN: random-hyperplane signatures bucket the vectors; exact cosine runs
  only inside the query's bucket. Brute-force cosine is kept as the exact
  baseline (one pass, broadcast query vector).
- Everything is expressed in both engines from shared templates; the only
  differences are function names (split/str_split, size/len, ...), captured
  in a dialect table. Hashes are md5 hex strings (identical in Spark and
  DuckDB), so MinHash signatures match bit-for-bit with zero integer-
  conversion tricks.
"""

from __future__ import annotations

import os
import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.detrand import lcg_uniform_sql
from ..functions.materialize import materialized
from ..functions.spread import register_spread_view
from ..sources import load, table_bytes
from . import _duck_expand, _spark_expand, register

# --------------------------------------------------------------------------
# Dialect table: name differences between Spark SQL and DuckDB for the
# array/lambda functions used here. Semantics are identical.
# --------------------------------------------------------------------------

_SPARK_D = {
    "split": lambda s: f"split({s}, ' ')",
    "len": lambda a: f"size({a})",
    "distinct": lambda a: f"array_distinct({a})",
    "el": lambda a, i: f"element_at({a}, {i})",
    "filter": lambda a, lam: f"filter({a}, {lam})",
    "minarr": lambda a: f"array_min({a})",
    "transform": lambda a, lam: f"transform({a}, {lam})",
    "retokens": lambda s, p: f"size(regexp_extract_all({s}, '{p}', 0))",
    "expand": _spark_expand,
    "seq": lambda lo, hi: f"sequence({lo}, {hi})",
    "unnest": lambda a: f"explode({a})",
    "posexplode": "posexplode",  # handled inline
    # Compute-heavy templates (explode/md5 per word or char) read this
    # instead of `documents`: a view pre-repartitioned to the session's
    # parallelism. The fixture is one parquet row group → one task; without
    # the spread, the whole explode+hash pipeline runs single-threaded no
    # matter how many cores exist. The tiny doc-id shuffle (~KBs) buys
    # full-width execution of the expensive stage — same reasoning at 100 TB
    # when an upstream stage emits few large partitions. DuckDB reads the
    # plain table (it parallelizes within a row group natively).
    "pdocs": "documents_par",
}

_DUCK_D = {
    "split": lambda s: f"str_split({s}, ' ')",
    "len": lambda a: f"len({a})",
    "distinct": lambda a: f"list_distinct({a})",
    "el": lambda a, i: f"list_extract({a}, {i})",
    "filter": lambda a, lam: f"list_filter({a}, {lam})",
    "minarr": lambda a: f"list_aggregate({a}, 'min')",
    "transform": lambda a, lam: f"list_transform({a}, {lam})",
    "retokens": lambda s, p: f"len(regexp_extract_all({s}, '{p}', 0))",
    "expand": _duck_expand,
    "seq": lambda lo, hi: f"generate_series({lo}, {hi})",
    "unnest": lambda a: f"unnest({a})",
    "pdocs": "documents",
}


def _dual(build):
    """(spark_sql, duck_sql) from a dialect-parameterized builder."""
    return build(_SPARK_D), build(_DUCK_D)


# --------------------------------------------------------------------------
# Materialized index relations (LSH/ANN). persist() + temp view is NOT
# enough for these: Catalyst's cache substitution silently fails when a
# cached plan containing a Generate (explode/posexplode/stack) is
# self-joined — the analyzer's relation dedup re-ids the generator output
# before the cache lookup — so every reference re-runs the full upstream
# aggregation. localCheckpoint() materializes to a leaf plan (LogicalRDD)
# that every reference scans directly; the memo below makes repeat builds
# in one session reuse the materialized index instead of rebuilding it.
# At cluster scale the equivalent is writing the index relation to storage
# (write_bucketed on the bucket key) once and scanning it thereafter.
# --------------------------------------------------------------------------

def _indexed(spark: SparkSession, key: str, sql: str) -> DataFrame:
    """Build-once-per-session materialized index relation for ``sql`` —
    session-keyed, thread-safe; see functions/materialize.py for the
    staleness/catalog assumptions."""
    return materialized(spark, key, lambda: spark.sql(sql))


def _parquet_rows(path: str) -> int:
    """Row count from parquet footer metadata — driver-side, no Spark job.
    Handles a single file, a flat Spark-written dataset directory, and a
    hive-partitioned tree (recursive walk) — the one footer-count helper
    for derived datasets (sources.table_rows stays the fixture-table
    variant with its fingerprint memo)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        return sum(
            pq.read_metadata(os.path.join(root, f)).num_rows
            for root, _dirs, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return pq.read_metadata(path).num_rows


def _register_docs(spark: SparkSession, sf_dir: str) -> None:
    load(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    # registered lazily; only plans that reference documents_par pay the
    # repartition shuffle (see _SPARK_D["pdocs"]); no-op when the scan is
    # already full-width (cluster scale); probe memoized per session
    register_spread_view(
        spark,
        "documents_par",
        lambda: load(spark, sf_dir, "documents"),
        sf_dir,
        "doc_id",
    )


def _spark_docs(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    _register_docs(spark, sf_dir)
    return spark.sql(sql)


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


def _text_stats_sql(d) -> str:
    ws = "ws"
    return f"""
    WITH t AS (SELECT doc_id, lang, source, n_chars,
                      {d['split']('text')} AS ws FROM documents)
    SELECT doc_id, lang, source, n_chars,
           {d['len'](ws)} AS n_words,
           {d['len'](d['distinct'](ws))} AS n_unique_words,
           ROUND(CAST(n_chars - ({d['len'](ws)} - 1) AS DOUBLE)
                 / {d['len'](ws)}, 6) AS avg_word_len,
           ROUND(CAST({d['len'](d['distinct'](ws))} AS DOUBLE)
                 / {d['len'](ws)}, 6) AS unique_ratio
    FROM t
    """


_TEXT_STATS_SPARK, _TEXT_STATS_DUCK = _dual(_text_stats_sql)


@register("text_stats", _TEXT_STATS_DUCK)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document length/word/uniqueness statistics — quality-pipeline
    basics; single narrow scan, no shuffle."""
    return _spark_docs(spark, sf_dir, _TEXT_STATS_SPARK)


_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _token_count_sql(d) -> str:
    return f"""
    SELECT doc_id,
           {d['len'](d['split']('text'))} AS ws_tokens,
           {d['retokens']('text', _TOKEN_RE)} AS re_tokens
    FROM documents
    """


_TOKEN_SPARK, _TOKEN_DUCK = _dual(_token_count_sql)


@register("token_count", _TOKEN_DUCK)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens vs BPE-ish regex tokens (word / number / symbol
    classes) per document — the two standard budget estimators."""
    return _spark_docs(spark, sf_dir, _TOKEN_SPARK)


_DOCS_BY_LANG_SQL = """
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG(n_chars), 6) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """


@register("docs_by_lang", _DOCS_BY_LANG_SQL)
def docs_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rollup by language × source — one partial+final hash agg."""
    return _spark_docs(spark, sf_dir, _DOCS_BY_LANG_SQL)


_STOPWORDS = "('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')"

# THE quality composite (length / stopword / uniqueness mix) — single
# definition over the feature names (n_words, stop_ratio, unique_ratio)
# shared by quality_score, the curation gate (_doc_quality_gate_sql), and
# token_budget_sample. The cross-engine bit-exactness contract depends on
# every consumer evaluating the IDENTICAL expression tree; sites differ
# only in how they consume the double (ROUND(.,6) bucket/threshold vs
# FLOOR-micro quantization) and in n_words' input type (the gate sites
# feed the raw integer token count, attested green; the budget site
# pre-casts to DOUBLE because it quantizes the raw composite with no
# ROUND mask).
_Q_COMPOSITE = (
    "LEAST(1.0, n_words / 100.0) * 0.5"
    " + LEAST(1.0, stop_ratio * 10.0) * 0.2"
    " + unique_ratio * 0.3"
)


def _lang_id_sql(d) -> str:
    ws = d["split"]("text")
    hits = d["filter"](ws, f"w -> w IN {_STOPWORDS}")
    return f"""
    WITH scored AS (
      SELECT lang,
             CAST({d['len'](hits)} AS DOUBLE) / {d['len'](ws)} AS stop_ratio
      FROM documents
    )
    SELECT lang,
           CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END AS predicted,
           COUNT(*) AS n_docs,
           -- micro-floored mean: AVG(double) depends on partition merge
           -- order; the bigint sum is exact and order-independent
           ROUND(CAST(SUM(CAST(FLOOR(stop_ratio * 1000000.0) AS BIGINT)) AS DOUBLE)
                 / 1000000.0 / COUNT(*), 6) + 0.0 AS avg_stop_ratio
    FROM scored
    GROUP BY lang, CASE WHEN stop_ratio >= 0.05 THEN 'en' ELSE 'other' END
    """


_LANG_ID_SPARK, _LANG_ID_DUCK = _dual(_lang_id_sql)


@register("lang_id", _LANG_ID_DUCK)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language-ID heuristic with a confusion rollup against
    the labeled lang column — lambda filter over the word array, JVM-side."""
    return _spark_docs(spark, sf_dir, _LANG_ID_SPARK)


def _quality_sql(d) -> str:
    ws = d["split"]("text")
    hits = d["filter"](ws, f"w -> w IN {_STOPWORDS}")
    return f"""
    WITH f AS (
      SELECT source,
             {d['len'](ws)} AS n_words,
             CAST({d['len'](hits)} AS DOUBLE) / {d['len'](ws)} AS stop_ratio,
             CAST({d['len'](d['distinct'](ws))} AS DOUBLE)
               / {d['len'](ws)} AS unique_ratio
      FROM documents
    ),
    scored AS (
      SELECT source, {_Q_COMPOSITE} AS q
      FROM f
    )
    SELECT source,
           CAST(FLOOR(ROUND(q, 6) * 10) AS INT) AS q_bucket,
           COUNT(*) AS n_docs
    FROM scored
    GROUP BY source, CAST(FLOOR(ROUND(q, 6) * 10) AS INT)
    """


_QUALITY_SPARK, _QUALITY_DUCK = _dual(_quality_sql)


@register("quality_score", _QUALITY_DUCK)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length / stopword / uniqueness mix) bucketed
    per source — the keep/drop histogram a filtering pipeline works from."""
    return _spark_docs(spark, sf_dir, _QUALITY_SPARK)


def _fingerprint_sql(d) -> str:
    ws = d["split"]("text")
    return f"""
    SELECT doc_id,
           md5(text) AS fp_exact,
           {d['minarr'](d['transform'](ws, 'w -> md5(w)'))} AS fp_min_word,
           md5(CONCAT({d['el'](ws, 1)}, ' ', {d['el'](ws, 2)}, ' ',
                      {d['el'](ws, 3)})) AS fp_prefix
    FROM documents
    WHERE {d['len'](ws)} >= 3
    """


_FP_SPARK, _FP_DUCK = _dual(_fingerprint_sql)


@register("doc_fingerprint", _FP_DUCK)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-level fingerprint: exact md5, 1-perm MinHash (lexicographic min
    of word hashes), and leading-shingle hash — md5 hex agrees across
    engines, so fingerprints are portable."""
    return _spark_docs(spark, sf_dir, _FP_SPARK)


# --------------------------------------------------------------------------
# Dataset assembly: deterministic train/valid/test split and per-stratum
# downsampling. Both are pure hash projections — no shuffle beyond the final
# rollup — so assignment is reproducible on any engine, at any partition
# count, and stable under re-runs/backfills (the property random() splits
# lack). The md5-hex → bigint uniform is the same device the detrand layer
# uses: identical text in, identical digits out, in Spark and DuckDB.
# --------------------------------------------------------------------------


def _hex2int(d, expr: str) -> str:
    """Dialect-portable 15-hex-char → BIGINT (values identical both engines)."""
    if d is _SPARK_D:
        return f"CAST(CONV({expr}, 16, 10) AS BIGINT)"
    return f"CAST('0x' || {expr} AS BIGINT)"


def _hash_split_sql(d) -> str:
    strcast = "STRING" if d is _SPARK_D else "VARCHAR"
    bucket = _hex2int(d, f"SUBSTR(md5(CONCAT('split|', CAST(doc_id AS {strcast}))), 1, 15)")
    return f"""
    WITH b AS (
      SELECT doc_id, lang, n_chars, CAST({bucket} % 100 AS INT) AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'valid'
                ELSE 'test' END AS split,
           lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM b
    GROUP BY CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'valid'
                  ELSE 'test' END, lang
    """


_HASH_SPLIT_SPARK, _HASH_SPLIT_DUCK = _dual(_hash_split_sql)


@register("hash_split", _HASH_SPLIT_DUCK)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test assignment by hashing the
    document key (never a random() — the split must survive re-runs,
    backfills, and engine changes), rolled up per split × lang. The
    assignment is a stateless projection: at 100 TB it is partition-local
    work with one small final aggregation."""
    return _spark_docs(spark, sf_dir, _HASH_SPLIT_SPARK)


# Per-language keep-rates: downsample the over-represented languages,
# keep the tail whole — the standard corpus-rebalancing move.
_STRAT_RATES = "(VALUES ('en', 40), ('zh', 80), ('es', 80), ('de', 100), ('fr', 100))"


def _stratified_sample_sql(d) -> str:
    strcast = "STRING" if d is _SPARK_D else "VARCHAR"
    u100 = _hex2int(d, f"SUBSTR(md5(CONCAT('strat|', CAST(doc_id AS {strcast}))), 1, 15)")
    return f"""
    WITH rates AS (SELECT * FROM {_STRAT_RATES} AS r(lang, keep_pct)),
    u AS (
      SELECT doc_id, lang, n_chars, CAST({u100} % 100 AS INT) AS u
      FROM documents
    )
    SELECT u.doc_id, u.lang, u.n_chars
    FROM u JOIN rates r ON r.lang = u.lang
    WHERE u.u < r.keep_pct
    """


_STRAT_SPARK, _STRAT_DUCK = _dual(_stratified_sample_sql)


@register("stratified_sample", _STRAT_DUCK)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language downsampling (hash-uniform < per-stratum
    keep rate): rebalances an over-represented language without losing the
    tail. The rate table is a literal dim (broadcast); the filter is
    partition-local, so the operator is shuffle-free at any scale."""
    return _spark_docs(spark, sf_dir, _STRAT_SPARK)


def _contamination_sql(d) -> str:
    strcast = "STRING" if d is _SPARK_D else "VARCHAR"
    bucket = _hex2int(d, f"SUBSTR(md5(CONCAT('split|', CAST(doc_id AS {strcast}))), 1, 15)")
    ws = d["split"]("text")
    return f"""
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN {bucket} % 100 < 80 THEN 'train'
                  WHEN {bucket} % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM documents
    ),
    fp AS (
      SELECT doc_id, split,
             md5(CONCAT({d['el'](ws, '1')}, ' ', {d['el'](ws, '2')}, ' ',
                        {d['el'](ws, '3')})) AS fpp
      FROM s WHERE {d['len'](ws)} >= 3
    )
    SELECT te.doc_id AS test_doc, tr.doc_id AS train_doc, te.fpp AS fingerprint
    FROM fp te JOIN fp tr ON te.fpp = tr.fpp
    WHERE te.split = 'test' AND tr.split = 'train'
    """


_CONTAM_DUCK = _contamination_sql(_DUCK_D)

# Spark side: the oracle's fp-self-join re-executes the fingerprint CTE for
# both join inputs (Catalyst does not dedup a self-joined CTE containing
# per-row split/md5 work), i.e. two full document scans plus a join
# shuffle. Spark instead fingerprints ONCE, then groups by fingerprint
# collecting the test-side and train-side doc lists (collect_list skips
# the CASE NULLs) and explodes their product — non-colliding fingerprints
# yield an empty array and vanish before the explode. One scan, one
# shuffle; pair expansion touches only colliding fingerprints, so at
# 100 TB the post-shuffle work is proportional to the leak set, not the
# corpus. Reads the plain table, not the spread view: the per-doc work is
# three element_at + one md5 (not explode-per-word), so the extra
# repartition exchange costs more than it buys (measured 0.55 s vs 0.3 s
# at sf0.1; at cluster scale the scan is already wide).
def _contam_spark_sql(table: str = "documents") -> str:
    d = _SPARK_D
    strcast = "STRING"
    bucket = _hex2int(d, f"SUBSTR(md5(CONCAT('split|', CAST(doc_id AS {strcast}))), 1, 15)")
    ws = d["split"]("text")
    return f"""
    WITH s AS (
      SELECT doc_id, text,
             CASE WHEN {bucket} % 100 < 80 THEN 'train'
                  WHEN {bucket} % 100 < 90 THEN 'valid'
                  ELSE 'test' END AS split
      FROM {table}
    ),
    fp AS (
      SELECT doc_id, split,
             md5(CONCAT({d['el'](ws, '1')}, ' ', {d['el'](ws, '2')}, ' ',
                        {d['el'](ws, '3')})) AS fpp
      FROM s WHERE {d['len'](ws)} >= 3 AND split <> 'valid'
    ),
    buckets AS (
      SELECT fpp,
             collect_list(CASE WHEN split = 'test' THEN doc_id END) AS test_docs,
             collect_list(CASE WHEN split = 'train' THEN doc_id END) AS train_docs
      FROM fp GROUP BY fpp
    )
    SELECT te AS test_doc, tr AS train_doc, fpp AS fingerprint
    FROM buckets
    LATERAL VIEW explode(test_docs) AS te
    LATERAL VIEW explode(train_docs) AS tr
    """


@register("contamination_check", _CONTAM_DUCK)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage detection: fingerprint every document (leading
    3-shingle hash — the near-dup-tolerant choice; swap md5(text) for exact
    only), then match test-split fingerprints against train-split
    fingerprints. Candidates come from fingerprint equality — never doc×doc
    — so at 100 TB it shuffles only fingerprint-collision rows, the same
    candidate-generation shape as the dedup family. Spark runs the
    one-scan group-by-fingerprint form (see _contam_spark_sql); the oracle
    keeps the equivalent inverted-index self-join."""
    return _spark_docs(spark, sf_dir, _contam_spark_sql())


def _shingles_raw_cte(d) -> str:
    """3-word shingles WITHOUT the row-level DISTINCT.

    The minhash doc-aggregate needs no pre-dedup: MIN is duplicate-
    insensitive and collect_set/list(DISTINCT ...) dedup inside the
    aggregation, so skipping the DISTINCT removes an entire shuffle + hash
    aggregate over the shingle rows (two shuffles → one; measured ~0.4 s at
    sf0.1). Queries that join on shingle rows (ngram_jaccard) keep the
    deduped ``_shingles_cte``.
    """
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    pos AS (SELECT doc_id, ws, {d['expand']('1', d['len']('ws') + ' - 2')} AS i
            FROM w WHERE {d['len']('ws')} >= 3),
    shingles_raw AS (
      SELECT doc_id,
             CONCAT({d['el']('ws', 'i')}, ' ', {d['el']('ws', 'i + 1')}, ' ',
                    {d['el']('ws', 'i + 2')}) AS s
      FROM pos
    )
    """



def _repetition_sql(d) -> str:
    # dup_ratio emitted as a RAW double (no ROUND): it is a ratio of exact
    # integers, so the division is bit-identical in both engines, while
    # ROUND of a rational can land on a .5 tie the engines break differently.
    #
    # The Spark side is a ZERO-SHUFFLE projection: doc_id is the grouping
    # key AND every shingle of a doc comes from that doc's single input
    # row, so COUNT(*)/COUNT(DISTINCT) over exploded shingle rows collapse
    # to size()/size(array_distinct()) on the per-row shingle array — no
    # explode, no exchange, no distinct aggregate. The explode form
    # shuffled every (doc_id, shingle-string) pair for the two-phase
    # distinct: ~10⁹ string rows at the sf100 ladder tier (59 s steady;
    # the projection is scan-bound). The oracle keeps the independent
    # explode+GROUP BY form as the semantics check.
    if d is _SPARK_D:
        return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    sh AS (
      SELECT doc_id,
             {d['transform'](
                 d['seq']('1', d['len']('ws') + ' - 2'),
                 "i -> CONCAT(element_at(ws, i), ' ', element_at(ws, i + 1),"
                 " ' ', element_at(ws, i + 2))")} AS s
      FROM w WHERE {d['len']('ws')} >= 3
    )
    SELECT doc_id,
           CAST({d['len']('s')} AS BIGINT) AS n_shingles,
           CAST({d['len'](d['distinct']('s'))} AS BIGINT) AS n_distinct,
           1.0 - CAST({d['len'](d['distinct']('s'))} AS DOUBLE)
             / {d['len']('s')} AS dup_ratio
    FROM sh
    """
    return (
        _shingles_raw_cte(d)
        + """
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           COUNT(DISTINCT s) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT s) AS DOUBLE) / COUNT(*) AS dup_ratio
    FROM shingles_raw
    GROUP BY doc_id
    """
    )


_REP_SPARK, _REP_DUCK = _dual(_repetition_sql)


@register("repetition_ratio", _REP_DUCK)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 3-gram ratio per document — the Gopher-style repetition
    filter (a high dup_ratio marks boilerplate/spam). One explode + one
    doc-keyed aggregate; partition-local until the final combine."""
    return _spark_docs(spark, sf_dir, _REP_SPARK)


def _char_entropy_sql(d) -> str:
    # Shannon entropy in bits from integer char counts:
    #   H = (ln(n) - Σ c·ln(c) / n) / ln 2.
    # The per-class Σ accumulates as FLOOR(c · ROUND(ln c, 9) · 10⁶) BIGINTs
    # — order-independent, and ROUND(·,9) absorbs the ≤1-ulp libm ln()
    # disagreement between engines before the FLOOR can straddle a
    # boundary. The single remaining libm term ln(n) sits under the final
    # ROUND(·,6) like every other libm-dependent output.
    #
    # Char-split caveat: Spark's split(text, '') splits on Java code points
    # while DuckDB's str_split(text, '') is grapheme-aware — identical only
    # for text without combining marks or astral-plane characters. That
    # precondition is ASSERTED on every gate fixture by
    # tests/test_corpus_ext.py::test_char_entropy_fixture_is_codepoint_split_safe
    # — if a future fixture trips it, normalize both sides to explicit code
    # points before comparing.
    if d is _SPARK_D:
        chars_from = (
            "SELECT doc_id, ch FROM "
            "(SELECT doc_id, split(text, '') AS cs FROM documents_par) t "
            "LATERAL VIEW explode(cs) x AS ch"
        )
    else:
        chars_from = (
            "SELECT doc_id, unnest(str_split(text, '')) AS ch FROM documents"
        )
    return f"""
    WITH chars AS ({chars_from}),
    counts AS (
      SELECT doc_id, ch, COUNT(*) AS c
      FROM chars WHERE ch != '' GROUP BY doc_id, ch
    ),
    tot AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n,
             SUM(CAST(FLOOR(c * ROUND(LN(CAST(c AS DOUBLE)), 9) * 1000000.0)
                      AS BIGINT)) AS sc_micro
      FROM counts GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars_counted,
           ROUND((LN(CAST(n AS DOUBLE))
                  - (CAST(sc_micro AS DOUBLE) / 1000000.0) / n)
                 / LN(2.0), 6) + 0.0 AS entropy_bits
    FROM tot
    """


_ENT_SPARK, _ENT_DUCK = _dual(_char_entropy_sql)

_ENT_SCHEMA = "doc_id long, n_chars_counted long, entropy_bits double"


def _entropy_batches(batches):
    """Arrow-batched per-doc char entropy, bit-exact vs the SQL contract.

    The explode form inflates each doc into |text| rows that feed a
    doc-keyed hash aggregate; per-char row inflation (~1000×) is exactly
    the case where a vectorized histogram inside the scan task is the
    physical strategy the optimizer can't pick for us. This computes the
    SAME integer micro-nat contract as _char_entropy_sql: per-class terms
    FLOOR(c · ROUND(ln c, 9) · 1e6) summed as int64 (ROUND replicated as
    BigDecimal HALF_UP, Spark's ROUND semantics), final value under
    Decimal HALF_UP at 6 places like ROUND(.,6). ASCII docs take a
    np.bincount byte path; any non-ASCII doc falls back to a code-point
    Counter (matching Java's code-point split — see the char-split caveat
    on _char_entropy_sql). Zero shuffles: pure map over the pruned scan.
    """
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    _Q9 = Decimal("1E-9")
    _Q6 = Decimal("1E-6")
    _LN2 = math.log(2.0)
    term_memo: dict[int, int] = {}

    def term(c: int) -> int:
        t = term_memo.get(c)
        if t is None:
            rln = float(Decimal(math.log(c)).quantize(_Q9, rounding=ROUND_HALF_UP))
            t = math.floor((c * rln) * 1000000.0)
            term_memo[c] = t
        return t

    for pdf in batches:
        out_id, out_n, out_e = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if not text:
                continue  # SQL side emits no row for empty text
            b = text.encode("utf-8")
            if len(b) == len(text):  # pure ASCII: byte == code point
                counts = np.bincount(np.frombuffer(b, np.uint8))
                counts = counts[counts > 0]
            else:
                counts = np.fromiter(Counter(text).values(), np.int64)
            n = int(counts.sum())
            sc_micro = sum(term(int(c)) for c in counts)
            val = (math.log(n) - (sc_micro / 1000000.0) / n) / _LN2
            ent = float(Decimal(val).quantize(_Q6, rounding=ROUND_HALF_UP)) + 0.0
            out_id.append(doc_id)
            out_n.append(n)
            out_e.append(ent)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_id, dtype="int64"),
                "n_chars_counted": pd.Series(out_n, dtype="int64"),
                "entropy_bits": pd.Series(out_e, dtype="float64"),
            }
        )


@register("char_entropy", _ENT_DUCK)
def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the cheap
    perplexity proxy quality pipelines cut on (low entropy = repetitive or
    degenerate text). Spark side: pruned (doc_id, text) scan →
    Arrow-batched histogram in mapInPandas (`_entropy_batches`) — zero
    shuffles, vs the explode form's 1000× row inflation into a doc-keyed
    hash aggregate. Oracle keeps the relational explode+aggregate form;
    both meet on the integer micro-nat contract.

    No spread view here (unlike the shingle pipelines): the vectorized
    histogram costs ~30 ns/char — same order as the scan itself — so the
    stage inherits the scan's native partitioning; at cluster scale that
    is already wide, and locally a repartition exchange would cost more
    than the whole Python stage (measured: 0.33 s inline vs 0.45 s
    spread-32)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInPandas(_entropy_batches, schema=_ENT_SCHEMA)


# --------------------------------------------------------------------------
# Near-dup: banded MinHash LSH. H=16 string-min hashes over 3-word shingles,
# 8 bands × r=2; candidates from bucket equality joins; exact Jaccard
# verification ≥ 0.5 on candidates only.
# --------------------------------------------------------------------------

# 16 hashes / 8 bands of r=2: P(candidate) = 1-(1-J^2)^8, ~0.93 at J=0.5 —
# the 8/4 config caught only ~68% of J=0.5 pairs (exact-Jaccard verify keeps
# precision exact either way; bands only control recall).
_MH_H = 16
_MH_BANDS = 8  # r = 2


def _shingles_cte(d) -> str:
    # explode + DISTINCT (codegen'd generate + hash aggregate) rather than a
    # per-doc array lambda: higher-order functions (transform/array_distinct)
    # run interpreted and measured ~10× slower here. Spark inlines CTEs, so
    # the Spark query builders materialize `shingles` once as a persisted
    # temp view (_spark_shingled) instead of re-evaluating this subtree per
    # reference; DuckDB materializes repeated CTEs on its own.
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    pos AS (SELECT doc_id, ws, {d['expand']('1', d['len']('ws') + ' - 2')} AS i
            FROM w WHERE {d['len']('ws')} >= 3),
    shingles AS (
      SELECT DISTINCT doc_id,
             CONCAT({d['el']('ws', 'i')}, ' ', {d['el']('ws', 'i + 1')}, ' ',
                    {d['el']('ws', 'i + 2')}) AS s
      FROM pos
    )
    """


def _spark_shingled(
    spark: SparkSession, sf_dir: str, tail_sql: str, where: str = ""
) -> DataFrame:
    """Run a query tail over a materialized-once `shingles` relation.

    Spark inlines WITH-clause CTEs, so a tail that references `shingles`
    N times re-runs the explode+DISTINCT subtree N times. Independent
    subtrees schedule concurrently, so on an idle cluster the redundancy is
    partly free — caching only wins when the shared subtree is filtered
    small first (``where``) so the one materialization is cheap and every
    reference afterwards is an InMemoryTableScan. Callers whose tails need
    the FULL shingle set are better served by the inline form
    (_spark_docs); measured here: inline 2.6 s vs full-cache 3.5-4.3 s for
    minhash, cache-small 0.9 s vs inline 1.7 s for ngram_jaccard.
    """
    _register_docs(spark, sf_dir)
    sh = spark.sql(
        _shingles_cte(_SPARK_D) + f"SELECT doc_id, s FROM shingles {where}"
    )
    sh.persist()
    sh.createOrReplaceTempView("shingles_cached")
    # word-boundary substitution: a blind str.replace would also corrupt
    # identifiers that merely contain "shingles" (shingles_raw, n_shingles)
    import re

    rewritten = re.sub(r"\bshingles\b", "shingles_cached", tail_sql)
    return spark.sql("WITH " + rewritten)


def _win(col: str, k: int) -> str:
    """15-hex-char window of a 32-hex md5 digest starting at digit k+1.

    Fixed-width lowercase hex compares lexicographically == numerically, so
    MIN over the raw substring equals MIN over the parsed 60-bit integer —
    without paying string→int conversion (CONV) per row per hash function.
    """
    return f"SUBSTR({col}, {k + 1}, 15)"


def _mh_docagg_sql(d) -> str:
    # One md5 per doc-shingle; the 16 MinHash functions are the 16
    # overlapping 15-hex-char (60-bit) WINDOWS of that digest parsed as
    # fixed-width hex strings (window j starts at hex digit j, so each j
    # leads with fresh uniform digits and ranks the shingle set by an
    # effectively independent key). This evolved twice: md5(CONCAT(j,':',s))
    # × 16 (16× the hash work, 3.2 s) → full 32-char digest rotations under
    # string MIN (~1 s of pure string alloc + var-length hash-agg rows) →
    # digest windows (8/15-byte agg cells; measured 2.95 s → ~1.9 s
    # full-query at sf0.1). A 60-bit window collides between two docs' true
    # minima with probability ~2⁻⁶⁰ per pair — and any false candidate is
    # killed by the exact-Jaccard verify below, so precision is unaffected.
    #
    # The SAME aggregation pass also collects each doc's distinct-shingle
    # set as an array, so the exact-Jaccard verify needs no join back to the
    # 1M-row shingle table: intersections run as array_intersect on the
    # tiny candidate-pair set. One heavy pass over the corpus total.
    mins_cols = ",\n               ".join(
        f"MIN({_win('m', k)}) AS h{k}" for k in range(_MH_H)
    )
    arr = "collect_set(s)" if d is _SPARK_D else "list(DISTINCT s)"
    n_sh = d["len"]("arr")
    return f"""
    SELECT doc_id, {n_sh} AS n_sh, {", ".join(f"h{k}" for k in range(_MH_H))}, arr
    FROM (
      SELECT doc_id,
               {mins_cols},
               {arr} AS arr
      FROM (SELECT doc_id, s, md5(s) AS m FROM shingles_raw) x
      GROUP BY doc_id
    ) g
    """


def _mh_sigs_sql(d, docagg: str) -> str:
    """Band signatures (doc_id, band, sig) exploded from ``docagg``."""
    if d is _SPARK_D:
        stack_args = ", ".join(
            f"{b}, md5(CONCAT(h{2 * b}, '|', h{2 * b + 1}))" for b in range(_MH_BANDS)
        )
        return (
            f"SELECT doc_id, t.band, t.sig FROM {docagg} "
            f"LATERAL VIEW STACK({_MH_BANDS}, {stack_args}) t AS band, sig"
        )
    structs = ", ".join(
        f"{{'band': {b}, 'sig': md5(CONCAT(h{2 * b}, '|', h{2 * b + 1}))}}"
        for b in range(_MH_BANDS)
    )
    return f"SELECT doc_id, unnest([{structs}], recursive := true) FROM {docagg}"


# Hot-bucket guard for the LSH bucket join (the _ND_BUCKET_CAP /
# _SD_CLUSTER_CAP invariant, third instance): a band bucket holds every doc
# sharing that band signature, and a corpus with K near-identical documents
# (boilerplate, mirrored pages) puts all K in ONE bucket — all-pairs there
# is K²/2 candidates regardless of banding. Buckets over the cap switch to
# sorted-neighborhood pairing by doc_id rank (rank-blocked so the join
# enumerates O(m·W), not m², rows per bucket): near-identical members stay
# one connected component for downstream clustering while fan-out is
# bounded at 2·_MH_NEIGHBORS per member. The cap equals that budget, so
# there is no near-cap all-pairs cliff. The guard is in the SHARED dialect
# template — both engines compute identical results at every scale, and
# gate fixtures (max bucket << 33) never engage it, keeping the oracle
# path pure all-pairs.
_MH_NEIGHBORS = 16
_MH_BUCKET_CAP = 2 * _MH_NEIGHBORS + 1


def _minhash_tail(d, docagg: str, sigs: str, mem_rel: str | None = None) -> str:
    """Bucket-join → array-intersect verify over relations ``docagg``
    (doc_id, n_sh, h0..h15, arr) and ``sigs`` (doc_id, band, sig).

    ``mem_rel`` names a PREBUILT membership relation (doc_id, band, sig, m)
    — the persisted LSH index shape with the bucket size precomputed at
    index-build time (scripts/bucketed_neardup_demo.py writes it
    ``bucketBy(band, sig)``): the bsize aggregation and the bsize join
    drop out of the re-query plan entirely, and the bucket self-join plus
    the dense-guard rank window run exchange-free on the bucketed scan."""
    n_inter = (
        "size(array_intersect(da.arr, db.arr))"
        if d is _SPARK_D
        else "len(list_intersect(da.arr, db.arr))"
    )
    blk = (
        f"((rn - 1) DIV {_MH_NEIGHBORS})"
        if d is _SPARK_D
        else f"((rn - 1) // {_MH_NEIGHBORS})"
    )
    expand_blk = (
        "explode(array(blk, blk + 1))"
        if d is _SPARK_D
        else "unnest([blk, blk + 1])"
    )
    if mem_rel is None:
        mem_ctes = f"""
    bsize AS (SELECT band, sig, COUNT(*) AS m FROM {sigs} GROUP BY band, sig),
    mem AS (
      SELECT s.doc_id, s.band, s.sig, z.m
      FROM {sigs} s JOIN bsize z ON z.band = s.band AND z.sig = s.sig
    ),"""
    else:
        mem_ctes = f"""
    mem AS (SELECT doc_id, band, sig, m FROM {mem_rel}),"""
    return f"""{mem_ctes}
    dense0 AS (
      SELECT doc_id, band, sig,
             ROW_NUMBER() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
      FROM mem WHERE m > {_MH_BUCKET_CAP}
    ),
    dense AS (SELECT *, {blk} AS blk FROM dense0),
    probe AS (SELECT *, {expand_blk} AS jblk FROM dense),
    cand AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM mem a JOIN mem b ON a.band = b.band AND a.sig = b.sig
                             AND a.doc_id < b.doc_id
        WHERE a.m <= {_MH_BUCKET_CAP}
        UNION ALL
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM probe a JOIN dense b
          ON b.band = a.band AND b.sig = a.sig AND b.blk = a.jblk
         AND b.rn > a.rn AND b.rn <= a.rn + {_MH_NEIGHBORS}
      ) u
    ),
    -- BROADCAST(c): the candidate-pair set is tiny (bucket collisions
    -- only) but derived, so the static planner can't see its size; the
    -- hint is a comment to DuckDB. The verify side is the doc-level
    -- aggregate (one row per doc with its shingle-set array), so the
    -- exact intersection is array work on candidate pairs only.
    inter AS (
      SELECT /*+ BROADCAST(c) */ c.doc_a, c.doc_b,
             da.n_sh AS na, db.n_sh AS nb,
             {n_inter} AS n_inter
      FROM cand c
      JOIN {docagg} da ON da.doc_id = c.doc_a
      JOIN {docagg} db ON db.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(n_inter AS DOUBLE) / (na + nb - n_inter), 6) AS jaccard
    FROM inter
    WHERE CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.5
    """


_MINHASH_DUCK = (
    _shingles_raw_cte(_DUCK_D)
    + f", docagg AS ({_mh_docagg_sql(_DUCK_D)}),"
    + f" sigs AS ({_mh_sigs_sql(_DUCK_D, 'docagg')}),"
    + _minhash_tail(_DUCK_D, "docagg", "sigs")
)


@register("minhash_dedup", _MINHASH_DUCK)
def minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by banded MinHash LSH (shingle → one md5 →
    16 window min-hashes + shingle count + shingle-set array in ONE
    aggregation pass → 8 band signatures → bucket join → array-intersect
    exact-Jaccard verify). No all-pairs join anywhere: candidate
    generation is equality joins on band signatures, which at 100 TB
    shuffles only bucket-collision rows.

    The doc-level aggregate AND the exploded band-signature relation
    materialize once per session as index relations (see _indexed): Spark
    inlines CTEs, so the four references (two bucket-join sides + two
    verify-join sides) would re-run the 260k-row shingle aggregation four
    times, and persist() cannot save the self-join (Generate-under-
    self-join defeats cache substitution). One row per doc (min-hashes +
    shingle array) and 8 rows per doc — exactly the LSH-index relations
    you'd write to storage at 100 TB; the bench's cold number carries the
    index build, the steady number the index-reuse cost."""
    _register_docs(spark, sf_dir)
    _indexed(
        spark,
        f"mh_docagg|{sf_dir}",
        _shingles_raw_cte(_SPARK_D) + _mh_docagg_sql(_SPARK_D),
    ).createOrReplaceTempView("mh_docagg")
    _indexed(
        spark, f"mh_sigs|{sf_dir}", _mh_sigs_sql(_SPARK_D, "mh_docagg")
    ).createOrReplaceTempView("mh_sigs")
    return spark.sql(
        "WITH " + _minhash_tail(_SPARK_D, "mh_docagg", "mh_sigs")
    )


# --------------------------------------------------------------------------
# Near-dup CLUSTERING: MinHash pairs → connected components → canonical
# representative per cluster. The step an actual dedup pipeline needs after
# pair generation — you keep one doc per component, not one per pair.
#
# Spark: iterative min-label propagation (label(v) ← min(label(v), min
# label over neighbors) to fixpoint) — the idiomatic Spark shape for
# iterative graph algorithms (GraphX/GraphFrames connected components is
# the same loop); every iteration is one join + one aggregate, labels are
# localCheckpoint'ed so lineage stays flat, and the driver only ever reads
# a CONVERGENCE COUNT (never data). Iterations = component diameter —
# near-dup clusters are shallow (pairs share content), so 2-4 in practice.
#
# DuckDB oracle: WITH RECURSIVE transitive min-label closure — an
# independent algorithm arriving at the same fixpoint (component min).
# Spark's recursive CTE only allows UNION ALL recursion (no dedup), which
# cannot terminate on cyclic graphs — hence the loop on the Spark side.
# Results are all-integers, so cross-engine bit-exactness is structural.
# --------------------------------------------------------------------------

def _clusters_duck_sql() -> str:
    # wrap _MINHASH_DUCK's final pair-SELECT as a `pairs` CTE, then append
    # the recursive min-label closure (RECURSIVE prefixes the whole WITH
    # list; DuckDB is fine with non-recursive CTEs under it)
    mh = _MINHASH_DUCK.replace("WITH ", "WITH RECURSIVE ", 1)
    cut = mh.rindex("SELECT doc_a, doc_b,")
    return (
        mh[:cut]
        + ", pairs AS ("
        + mh[cut:].rstrip()
        + "\n    ),"
        + """
    nodes AS (SELECT doc_a AS v FROM pairs UNION SELECT doc_b FROM pairs),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
    reach(v, r) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.v
    ),
    comp AS (SELECT v AS doc_id, MIN(r) AS cluster_rep FROM reach GROUP BY v)
    SELECT doc_id, cluster_rep,
           CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT)
             AS cluster_size
    FROM comp
    """
    )


def _cc_alternating_stars(
    edges: DataFrame, max_rounds: int = 50, prefiltered: bool = False
):
    """Connected components over an undirected edge list via alternating
    large-star/small-star contractions (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — O(log n) rounds on ANY
    graph shape, vs. the diameter-many rounds min-label propagation needs
    (a 1000-link near-dup chain is a 1000-round propagation but ~20 star
    rounds; worse, a fixed round BOUND silently mislabels chains longer
    than the bound, which the old 20-round loop would have).

    Per round, both stars are one groupBy + one co-partitioned join +
    distinct over the edge relation; the edge count never grows beyond the
    symmetrized input, and the driver reads only a (count, xxhash) edge-set
    checksum per round — never data. At fixpoint every component is a star
    centered on its min node, which large-star and small-star both map to
    itself (checked structurally: the convergence test is checksum equality
    of consecutive edge SETS, not a round bound).

    Takes edges as a DataFrame[a: long, b: long] (a != b, any orientation,
    duplicates fine). ``prefiltered=True`` skips the self-loop filter +
    localCheckpoint for callers (the hybrid) that already materialized the
    cleaned edge set — avoids a second full pass over the pair relation on
    the fallback path. Raises if ``max_rounds`` is exhausted without the
    checksum fixpoint (never returns possibly-wrong labels silently).
    Returns (labels DataFrame[v, label], rounds)."""
    from pyspark.sql import functions as F

    edges = (
        edges if prefiltered else edges.where("a != b").localCheckpoint()
    )
    prev_sum = None
    converged = False
    rounds = 0
    for _ in range(max_rounds):
        rounds += 1
        # Large-star: every node u links its strictly-larger neighbors to
        # m(u) = min(N(u) ∪ {u}).
        sym = edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mn = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.join(mn, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where("a != b")
            .distinct()
        )
        # Small-star: orient edges large→small, then every node u links its
        # smaller neighbors (and itself) to m(u) = min of those neighbors.
        down = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mn2 = down.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            down.join(mn2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mn2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .distinct()
            .localCheckpoint()
        )
        # Convergence = identical edge SET two rounds running: order- and
        # partition-independent (count, xor-of-row-hashes) checksum — one
        # scalar pair to the driver per round.
        chk = small.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("a", "b")).alias("h"),
        ).collect()[0]
        edges = small
        if prev_sum == (chk["n"], chk["h"]):
            converged = True
            break
        prev_sum = (chk["n"], chk["h"])
    if not converged:
        # loud, not silent: labels built from a non-fixpoint edge set can
        # carry conflicting cluster reps — the defect class this
        # algorithm exists to eliminate. 50 alternating rounds covers any
        # graph of ~2^25 nodes with a wide margin; exhausting them means
        # something is structurally wrong, not "close enough".
        raise RuntimeError(
            f"connected components did not converge in {max_rounds} "
            "alternating star rounds"
        )
    # Fixpoint edges are (member, root) stars; roots label themselves.
    labels = edges.select(F.col("a").alias("v"), F.col("b").alias("label")).union(
        edges.select(F.col("b").alias("v"), F.col("b").alias("label")).distinct()
    )
    return labels, rounds


def _cc_hybrid(
    edges: DataFrame, prop_rounds: int = 3
) -> "tuple[DataFrame, int]":
    """Connected components, diameter-adaptive: up to ``prop_rounds`` of
    min-label propagation first — ONE edge⋈labels join + one min-agg per
    round, the cheapest correct algorithm when component diameter is
    small (the overwhelmingly common near-dup shape: pairs share
    content, clusters are shallow) — falling back to alternating
    large-star/small-star contraction (O(log n) rounds on ANY shape) if
    propagation has not CONVERGED (zero label changes; never a round
    bound, so a long chain can never be silently mislabeled — the defect
    the star rewrite fixed). Both phases produce component-min labels,
    so the fallback restart discards only the cheap phase-1 rounds.
    Driver reads one scalar per round (changed-count / edge checksum)."""
    from pyspark.sql import functions as F

    e = edges.where("a != b").localCheckpoint()
    sym = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("v"))
        .distinct()
        .withColumn("label", F.col("v"))
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(prop_rounds):
        rounds += 1
        neigh = (
            sym.join(labels, sym.a == labels.v)
            .groupBy(F.col("b").alias("v2"))
            .agg(F.min("label").alias("nl"))
        )
        # convergence flag rides in the same projection as the update —
        # one join + one agg + the checkpoint per round
        stepped = (
            labels.join(neigh, labels.v == F.col("v2"), "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("nl"), F.col("label"))
                ).alias("new_label"),
                (F.coalesce(F.col("nl"), F.col("label")) < F.col("label"))
                .cast("int")
                .alias("chg"),
            )
            .localCheckpoint()
        )
        changed = stepped.agg(F.sum("chg")).collect()[0][0]
        labels = stepped.select("v", F.col("new_label").alias("label"))
        if not changed:
            return labels, rounds
    star_labels, star_rounds = _cc_alternating_stars(e, prefiltered=True)
    return star_labels, rounds + star_rounds


# Below this many near-dup PAIRS the connected-components step runs as a
# driver-side union-find over one bounded collect instead of the iterative
# distributed loop (r10 optimization round). Rationale: every _cc_hybrid
# round is a join + aggregation + localCheckpoint + a scalar collect — 6-10
# driver-coordinated jobs even on a 20-pair fixture graph, pure stage-wave
# latency (FLOOR.md). The pair relation is the OUTPUT of the ≥0.5-Jaccard
# verify — near-dup-proportional, orders of magnitude smaller than the
# corpus — so a planning-scalar-class read of it is bounded the same way
# kmeans' K×dims centroid reads and bpe_train's merge table are. 50k pairs
# ≈ 0.8 MB collected; past the gate (or past the corpus-rows guard, which
# avoids even the probe job at real scale) the Kiveris star/propagation
# hybrid runs unchanged — that is the 100 TB path, and the two paths are
# pinned label-identical in tests/test_cc_stars.py.
_CC_DRIVER_PAIRS = 50_000
_CC_DRIVER_DOCS = 2_000_000


def _cc_driver_labels(pairs) -> dict[int, int]:
    """Union-find → {node: component-min label} over an iterable of
    (a, b) edges; self-loops ignored. Identical fixpoint to _cc_hybrid /
    _cc_alternating_stars (roots are always the component min because
    unions attach the larger root under the smaller)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _cc_labels(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """(v, label) component-min labels over a 2-column edge relation:
    driver union-find under _CC_DRIVER_DOCS corpus rows and
    _CC_DRIVER_PAIRS edges, else _cc_hybrid."""
    from ..sources import table_rows

    if table_rows(sf_dir, "documents") <= _CC_DRIVER_DOCS:
        # bounded probe: one job over the already-materialized pair
        # relation; returns ≤ gate+1 rows regardless of true pair count
        head = pairs.limit(_CC_DRIVER_PAIRS + 1).collect()
        if len(head) <= _CC_DRIVER_PAIRS:
            lab = _cc_driver_labels((r[0], r[1]) for r in head)
            return spark.createDataFrame(sorted(lab.items()), "v long, label long")
    labels, _ = _cc_hybrid(pairs.toDF("a", "b"))
    return labels


@register("dedup_clusters", _clusters_duck_sql())
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash near-dup pair graph —
    (doc_id, cluster_rep, cluster_size) with cluster_rep = the component's
    min doc_id. Dedup pipelines keep ONE doc per component, so clustering
    the pairs is the step that makes pair generation actionable.

    Strategy gate (r10 optimization): below ``_CC_DRIVER_PAIRS`` near-dup
    pairs (and ``_CC_DRIVER_DOCS`` corpus rows, so real scale never pays
    the probe) the component labels come from a driver-side union-find
    over ONE bounded collect of the pair relation — the pair graph is
    near-dup-proportional planning data, and the iterative loop's 6-10
    coordination jobs dominated this query's cost at every fixture scale.
    Past the gate: the diameter-adaptive hybrid (_cc_hybrid) —
    convergence-checked min-label propagation for the shallow common
    case, alternating large-star/small-star contraction (Kiveris et al.
    SoCC'14 — the GraphX/GraphFrames algorithm) past it, so adversarial
    long chains stay O(log n) rounds; there the driver only ever reads
    scalars. Both paths are pinned label-identical on random + adversarial
    graphs (tests/test_cc_stars.py)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # full 3-col pair manifest (jaccard included) under ONE session key —
    # source_overlap reuses the same materialized relation, so the two
    # consumers must agree on the schema
    pairs = materialized(
        spark,
        f"mh_pairs|{sf_dir}",
        lambda: minhash_dedup(spark, sf_dir).select(
            "doc_a", "doc_b", "jaccard"
        ),
    ).select("doc_a", "doc_b")

    # labels memoized per (session, corpus) alongside the mh_pairs entry
    # (ADVICE r10: without this, every below-gate invocation re-ran the
    # 50k-row probe collect even though the pair relation is already
    # session-materialized — and the curation workflow consumes clusters
    # 2-3 times per build). Same in-memory, session-lifetime discipline as
    # mh_pairs itself.
    labels = materialized(
        spark, f"cc_labels|{sf_dir}", lambda: _cc_labels(spark, sf_dir, pairs)
    )
    w_size = F.count("*").over(Window.partitionBy("cluster_rep"))
    return labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_rep")
    ).withColumn("cluster_size", w_size.cast("bigint"))


# --------------------------------------------------------------------------
# Dedup APPLY step: drop non-representative cluster members, report the
# per-source survivor manifest. detect (minhash_dedup) → cluster
# (dedup_clusters) → apply (this) is the full near-dup pipeline.
# --------------------------------------------------------------------------


def _survivors_duck_sql() -> str:
    # reuse the recursive min-label closure, swap the per-doc tail for the
    # drop set + per-source manifest
    cl = _clusters_duck_sql()
    cut = cl.rindex("SELECT doc_id, cluster_rep,")
    return (
        cl[:cut].rstrip().rstrip(",")
        + """,
    drops AS (SELECT doc_id FROM comp WHERE doc_id != cluster_rep)
    SELECT d.source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
    GROUP BY d.source
    """
    )


@register("neardup_survivors", _survivors_duck_sql())
def neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup APPLIED: every non-representative member of a
    MinHash cluster is dropped (keep-min-doc_id rule from dedup_clusters)
    and the result is the per-source survivor manifest — docs seen,
    dropped, kept. This is the corpus a curation pipeline actually ships;
    the pair and cluster queries are its evidence trail.

    Scale shape: the drop set is (cluster members − representatives) —
    near-dup-proportional, tiny next to the corpus — so applying the
    dedup is ONE broadcast left join against the documents scan plus a
    per-source rollup; no corpus-sized shuffle anywhere. All-integer
    output: cross-engine bit-exactness is structural.

    The broadcast hint is size-gated on the corpus footer row count
    (drops ⊆ documents, ~32 B/row of id+flag): at fixture scales the hint
    always fires, but at a billion-document corpus a worst-case drop set
    is itself fact-proportional and force-broadcasting it would blow the
    driver — past the gate the plan falls back to a shuffle join keyed on
    doc_id (same class of fix as revenue_by_nation's order bridge, caught
    on the sf100 ladder)."""
    import pyspark.sql.functions as F

    from ..functions.scale import broadcast_if_small
    from ..sources import table_rows

    clusters = dedup_clusters(spark, sf_dir)
    drops = (
        clusters.where(F.col("doc_id") != F.col("cluster_rep"))
        .select("doc_id")
        .withColumn("is_drop", F.lit(1))
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    flagged = docs.join(
        broadcast_if_small(drops, table_rows(sf_dir, "documents") * 32),
        "doc_id",
        "left",
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.coalesce(F.col("is_drop"), F.lit(0))).cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("is_drop").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
    )


def _ngram_jaccard_tail(d) -> str:
    return """
    small AS (SELECT * FROM shingles WHERE doc_id < 200),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM small a JOIN small b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM small GROUP BY doc_id)
    SELECT i.doc_a, i.doc_b,
           ROUND(CAST(i.n_inter AS DOUBLE)
                 / (za.n_sh + zb.n_sh - i.n_inter), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    ORDER BY ROUND(CAST(i.n_inter AS DOUBLE)
                   / (za.n_sh + zb.n_sh - i.n_inter), 6) DESC, i.doc_a, i.doc_b
    LIMIT 50
    """


_NGRAM_DUCK = _shingles_cte(_DUCK_D) + "," + _ngram_jaccard_tail(_DUCK_D)


@register("ngram_jaccard", _NGRAM_DUCK)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard top-50 over a bounded doc subset — the
    brute-force baseline the LSH path approximates; the join is on shared
    shingles (inverted-index shape), not doc×doc. The doc_id<200 filter is
    applied in the cached relation so the parquet scan prunes first."""
    return _spark_shingled(
        spark, sf_dir, _ngram_jaccard_tail(_SPARK_D), where="WHERE doc_id < 200"
    )


# --------------------------------------------------------------------------
# SimHash: 16-bit signature from md5-nibble votes.
# --------------------------------------------------------------------------


def _simhash_sql(d) -> str:
    # One codegen'd explode of words, md5 as a plain column (the previous
    # transform(ws, x -> md5(x)) array lambda ran interpreted), and all 16
    # nibble votes as conditional sums in a single aggregation pass —
    # replaces a 16-way position explode through a 16×-wider aggregate
    # (measured 1.15 s → ~0.4 s at sf0.1).
    # Nibble >= 8 (its high bit) <=> ASCII of the lowercase hex char >= 56
    # ('8'): digits 0-7 are 48-55, 8-9 are 56-57, a-f are 97-102. One
    # ASCII+compare per position beats an 8-way string set membership
    # (measured ~10% off the aggregation pass); identical in DuckDB.
    vote_cols = ",\n             ".join(
        f"SUM(CASE WHEN ASCII(SUBSTR(h, {p}, 1)) >= 56"
        f" THEN 1 ELSE -1 END) AS v{p}"
        for p in range(1, 17)
    )
    bits = " + ".join(f"(CASE WHEN v{p} >= 0 THEN {2 ** (p - 1)} ELSE 0 END)" for p in range(1, 17))
    words_from = (
        "SELECT doc_id, md5(w) AS h FROM w LATERAL VIEW explode(ws) ex AS w"
        if d is _SPARK_D
        else "SELECT doc_id, md5(u.w) AS h FROM w, unnest(ws) AS u(w)"
    )
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    words AS ({words_from}),
    votes AS (
      SELECT doc_id,
             {vote_cols}
      FROM words
      GROUP BY doc_id
    )
    SELECT doc_id, CAST({bits} AS BIGINT) AS simhash16
    FROM votes
    """


_SIMHASH_SPARK, _SIMHASH_DUCK = _dual(_simhash_sql)


@register("simhash", _SIMHASH_DUCK)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: md5-nibble majority votes packed into an
    integer — near-dup docs land on nearby signatures; two aggregations,
    both shuffling on doc_id only."""
    return _spark_docs(spark, sf_dir, _SIMHASH_SPARK)


# --------------------------------------------------------------------------
# Embedding similarity: brute-force cosine top-k + LSH-bucketed ANN.
# --------------------------------------------------------------------------


def _spark_vecs(spark: SparkSession, sf_dir: str, sql: str) -> DataFrame:
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    return spark.sql(sql)


_VEC_SPARK = """
    WITH v AS (SELECT vec_id, label,
                      transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    sims AS (
      SELECT v.vec_id, v.label,
             aggregate(zip_with(v.e, q.qe, (x, y) -> x * y),
                       CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
             / NULLIF(SQRT(aggregate(v.e, CAST(0.0 AS DOUBLE),
                                     (acc, x) -> acc + x * x))
                      * SQRT(aggregate(q.qe, CAST(0.0 AS DOUBLE),
                                       (acc, x) -> acc + x * x)), 0.0) AS cos_sim
      FROM v CROSS JOIN q
      WHERE v.vec_id != 0
    )
    SELECT vec_id, label, ROUND(cos_sim, 6) AS cos_sim
    FROM sims
    ORDER BY ROUND(cos_sim, 6) DESC, vec_id
    LIMIT 20
    """

_VEC_DUCK = """
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    sims AS (
      SELECT v.vec_id, v.label,
             list_dot_product(v.e, q.qe)
             / NULLIF(SQRT(list_dot_product(v.e, v.e))
                      * SQRT(list_dot_product(q.qe, q.qe)), 0.0) AS cos_sim
      FROM v CROSS JOIN q
      WHERE v.vec_id != 0
    )
    SELECT vec_id, label, ROUND(cos_sim, 6) AS cos_sim
    FROM sims
    ORDER BY ROUND(cos_sim, 6) DESC, vec_id
    LIMIT 20
    """


@register("vec_topk", _VEC_DUCK)
def vec_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-20 against a broadcast query vector — the
    exact ANN baseline. Array math folds JVM-side (zip_with/aggregate);
    TakeOrderedAndProject caps the result without a global sort."""
    return _spark_vecs(spark, sf_dir, _VEC_SPARK)


_ANN_PLANES = 8
_ANN_DIMS = 64
_PLANE_W = f"(2.0 * {lcg_uniform_sql('(p * 64 + dim)', salt=71)} - 1.0)"


def _ann_sigs_sql(d, posexp: str) -> str:
    """The LSH index relation: one 8-bit signature per vector."""
    return f"""
    WITH planes AS (
      SELECT p, dim, {_PLANE_W} AS w
      FROM (SELECT {d['expand']('0', str(_ANN_PLANES - 1))} AS p) pp,
           (SELECT {d['expand']('1', str(_ANN_DIMS))} AS dim) dd
    ),
    comps AS ({posexp}),
    dots AS (
      -- bigint micro-sum: order-independent and bit-identical across
      -- engines (a raw double SUM depends on partition merge order, and a
      -- sum within an ulp of zero could flip the sign bit between engines)
      SELECT c.vec_id, pl.p,
             SUM(CAST(FLOOR(c.x * pl.w * 1000000.0) AS BIGINT)) AS dot_p
      FROM comps c JOIN planes pl ON pl.dim = c.dim
      GROUP BY c.vec_id, pl.p
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot_p >= 0
                         THEN CAST(ROUND(POWER(2, p)) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sig
    FROM dots GROUP BY vec_id
    """


def _ann_tail(d, sigs: str) -> str:
    """Probe + exact-cosine verify over the signature relation ``sigs``."""
    return f"""
    qsig AS (SELECT sig FROM {sigs} WHERE vec_id = 0),
    cand AS (
      SELECT s.vec_id FROM {sigs} s, qsig
      WHERE s.sig = qsig.sig AND s.vec_id != 0
    ),
    v AS (SELECT vec_id, label, {'transform(embedding, x -> CAST(x AS DOUBLE))' if d is _SPARK_D else 'CAST(embedding AS DOUBLE[])'} AS e
          FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    sims AS (
      SELECT /*+ BROADCAST(cand) */ v.vec_id, v.label,
             {'aggregate(zip_with(v.e, q.qe, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / NULLIF(SQRT(aggregate(v.e, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)) * SQRT(aggregate(q.qe, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)), 0.0)'
              if d is _SPARK_D else
              'list_dot_product(v.e, q.qe) / NULLIF(SQRT(list_dot_product(v.e, v.e)) * SQRT(list_dot_product(q.qe, q.qe)), 0.0)'} AS cos_sim
      FROM v JOIN cand ON cand.vec_id = v.vec_id CROSS JOIN q
    )
    SELECT vec_id, label, ROUND(cos_sim, 6) AS cos_sim
    FROM sims
    ORDER BY ROUND(cos_sim, 6) DESC, vec_id
    LIMIT 10
    """


_ANN_SIGS_SPARK = _ann_sigs_sql(
    _SPARK_D,
    "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x "
    "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, x",
)
def _as_cte(pipeline_sql: str, name: str, tail: str) -> str:
    """Wrap a ``WITH a AS (...), b AS (...) SELECT ...`` pipeline's final
    SELECT as one more CTE named ``name`` and append ``tail`` (which begins
    with the next CTE). Used to compose the one-statement DuckDB twins of
    the Spark index-relation builders."""
    cut = pipeline_sql.rindex("SELECT vec_id,")
    return (
        pipeline_sql[:cut]
        + f", {name} AS ("
        + pipeline_sql[cut:].rstrip()
        + "\n    ),"
        + tail
    )


_ANN_DUCK = _as_cte(
    _ann_sigs_sql(
        _DUCK_D,
        "SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings",
    ),
    "sigs",
    _ann_tail(_DUCK_D, "sigs"),
)


@register("vec_topk_lsh", _ANN_DUCK)
def vec_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: 8 random-hyperplane sign bits (LCG-derived planes,
    identical in both engines) bucket every vector; exact cosine runs only
    inside the query's bucket (~1/256 of the corpus). This is the scale
    path — the signature pass is one narrow shuffle and the verify set is
    tiny, vs the brute-force full-corpus scan. The signature relation
    materializes once per session (see _indexed) — it is the LSH index a
    serving system would store, and the probe is then two lookups + a
    candidate-only verify."""
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    _indexed(spark, f"lsh_sigs|{sf_dir}", _ANN_SIGS_SPARK).createOrReplaceTempView(
        "lsh_sigs"
    )
    return spark.sql("WITH " + _ann_tail(_SPARK_D, "lsh_sigs"))


# --------------------------------------------------------------------------
# IVF ANN: coarse-quantizer cluster assignment + probe-2 search.
#
# The inverted-file counterpart of vec_topk_lsh: every vector is assigned to
# its nearest of K coarse centroids (LCG-derived, identical in both engines —
# a trained k-means would slot in the same place; random centroids still
# partition the space into Voronoi cells); the query probes its 2 nearest
# cells and exact cosine runs only inside the probed cells (~2/K of the
# corpus). At 100 TB the assignment is one narrow aggregate and the probe is
# a semi-join on cluster id — the classic IVF shape. Distances accumulate as
# FLOOR-micro bigints so assignments can never diverge from summation order.
# Fixed K=8 holds through the measured tiers (sf10/200k vectors: 0.63 s
# steady probe); past that, widen K with corpus size exactly like semdedup's
# _sd_k (footer row count, no job) while the gate-scale oracle keeps K=8 —
# the _nd_bits/_sd_k precedent.
# --------------------------------------------------------------------------

_IVF_K = 8
_IVF_PROBES = 2
_IVF_CENTROID_W = f"(2.0 * {lcg_uniform_sql('(c * 64 + dim)', salt=79)} - 1.0)"


def _ivf_ranked_sql(d, posexp: str) -> str:
    """The IVF index relation: per-vector centroid ranking (vec_id, c, rn)."""
    return f"""
    WITH centroids AS (
      SELECT c, dim, {_IVF_CENTROID_W} AS w
      FROM (SELECT {d['expand']('0', str(_IVF_K - 1))} AS c) cc,
           (SELECT {d['expand']('1', str(_ANN_DIMS))} AS dim) dd
    ),
    comps AS ({posexp}),
    dists AS (
      SELECT p.vec_id, ct.c,
             SUM(CAST(FLOOR((p.x - ct.w) * (p.x - ct.w) * 1000000.0) AS BIGINT)) AS d2
      FROM comps p JOIN centroids ct ON ct.dim = p.dim
      GROUP BY p.vec_id, ct.c
    )
    SELECT vec_id, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
    FROM dists
    """


def _ivf_tail(d, ranked: str, probes: int = _IVF_PROBES) -> str:
    """Probe-``probes`` search + exact-cosine verify over ``ranked``."""
    return f"""
    assign AS (SELECT vec_id, c FROM {ranked} WHERE rn = 1),
    qprobe AS (SELECT c FROM {ranked} WHERE vec_id = 0 AND rn <= {probes}),
    cand AS (
      SELECT a.vec_id FROM assign a JOIN qprobe qp ON qp.c = a.c
      WHERE a.vec_id != 0
    ),
    v AS (SELECT vec_id, label, {'transform(embedding, x -> CAST(x AS DOUBLE))' if d is _SPARK_D else 'CAST(embedding AS DOUBLE[])'} AS e
          FROM embeddings),
    q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
    sims AS (
      SELECT /*+ BROADCAST(cand) */ v.vec_id, v.label,
             {'aggregate(zip_with(v.e, q.qe, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) / NULLIF(SQRT(aggregate(v.e, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)) * SQRT(aggregate(q.qe, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)), 0.0)'
              if d is _SPARK_D else
              'list_dot_product(v.e, q.qe) / NULLIF(SQRT(list_dot_product(v.e, v.e)) * SQRT(list_dot_product(q.qe, q.qe)), 0.0)'} AS cos_sim
      FROM v JOIN cand ON cand.vec_id = v.vec_id CROSS JOIN q
    )
    SELECT vec_id, label, ROUND(cos_sim, 6) + 0.0 AS cos_sim
    FROM sims
    ORDER BY ROUND(cos_sim, 6) DESC, vec_id
    LIMIT 10
    """


_IVF_RANKED_SPARK = _ivf_ranked_sql(
    _SPARK_D,
    "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x "
    "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, x",
)
_IVF_DUCK = _as_cte(
    _ivf_ranked_sql(
        _DUCK_D,
        "SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
        "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings",
    ),
    "ranked",
    _ivf_tail(_DUCK_D, "ranked"),
)


@register("vec_topk_ivf", _IVF_DUCK)
def vec_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10: nearest-centroid assignment (8 LCG coarse centroids,
    exact bigint-micro L2), query probes its 2 nearest cells, exact cosine
    only inside probed cells — the inverted-file counterpart of the LSH
    bucket path; assignment is one aggregate, probing is a semi-join. The
    centroid-ranking relation materializes once per session (see _indexed)
    — the inverted-file index a serving system stores."""
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    _indexed(
        spark, f"ivf_ranked|{sf_dir}", _IVF_RANKED_SPARK
    ).createOrReplaceTempView("ivf_ranked")
    return spark.sql("WITH " + _ivf_tail(_SPARK_D, "ivf_ranked"))


# --------------------------------------------------------------------------
# PQ ANN: product quantization + ADC shortlist + exact re-rank.
#
# The memory-compression tier of the ANN stack (brute / LSH bucket / IVF
# probe / PQ): 64 dims → 8 subspaces × 8 dims, each subvector snapped to
# its nearest of 16 codebook entries. The persisted index is 8 small-int
# codes per vector (the relation that lets 100 TB of float embeddings fit
# a serving tier). Search: (1) compute the query's exact distance to all
# 128 codebook entries (the ADC table), (2) score EVERY vector as the sum
# of 8 table lookups — a compressed exhaustive scan touching no floats —
# (3) keep the top-_PQ_SHORTLIST by ADC, (4) exact re-rank ONLY the
# shortlist against the raw query vector. The codebook is the subvectors
# of 16 fixed anchor corpus vectors (vec_id 1..16) — k-means++-style
# sampling, data-dependent like a trained codebook but deterministic and
# engine-shared (an LCG codebook was measured useless on this corpus:
# recall 0.0; anchors + re-rank give 0.7 on ISOTROPIC data, PQ's
# worst case — clustered real embeddings do far better, and R is the
# recall/IO knob: R=400 → 0.9 here). Distances everywhere are the
# FLOOR-micro bigint L2 device (first-min tiebreak), so codes, table,
# shortlist, and re-rank are exact integers — cross-engine bit-exactness
# is structural.
# --------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_SUB = _ANN_DIMS // _PQ_M  # dims per subspace
_PQ_K = 16  # codes per subspace (= number of anchor vectors)
_PQ_SHORTLIST = 100  # ADC candidates kept for exact re-rank


def _pq_subdiv(d) -> str:
    return (
        f"CAST((dim - 1) DIV {_PQ_SUB} AS INT)"
        if d is _SPARK_D
        else f"CAST((dim - 1) // {_PQ_SUB} AS INT)"
    )


def _pq_dists_sql(d, who: str) -> str:
    """Exact micro-L2 from ``who``'s subvectors to every anchor-codebook
    entry: (vec_id, m, c, d2). Expects a ``comps`` CTE in scope."""
    return f"""
    cb AS (
      SELECT CAST(vec_id - 1 AS INT) AS c, {_pq_subdiv(d)} AS m,
             CAST((dim - 1) % {_PQ_SUB} + 1 AS INT) AS j, x AS w
      FROM comps WHERE vec_id BETWEEN 1 AND {_PQ_K}
    ),
    sub AS (
      SELECT vec_id, {_pq_subdiv(d)} AS m,
             CAST((dim - 1) % {_PQ_SUB} + 1 AS INT) AS j, x
      FROM comps {who}
    ),
    dists AS (
      SELECT s.vec_id, cb.m, cb.c,
             SUM(CAST(FLOOR((s.x - cb.w) * (s.x - cb.w) * 1000000.0) AS BIGINT)) AS d2
      FROM sub s JOIN cb ON cb.m = s.m AND cb.j = s.j
      GROUP BY s.vec_id, cb.m, cb.c
    )"""


_PQ_CODES_TAIL = """
    SELECT vec_id, m, c FROM (
      SELECT vec_id, m, c,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, c) AS rn
      FROM dists
    ) r WHERE rn = 1
    """


def _pq_tail(d, codes: str) -> str:
    """ADC shortlist + exact integer-L2 re-rank of the shortlist. Expects
    ``comps`` (all vectors) and ``qd`` (query ADC table) CTEs in scope."""
    return f"""
    scored AS (
      SELECT k.vec_id,
             CAST(SUM(q.d2) AS BIGINT) AS adc_d2_micro
      FROM {codes} k JOIN qd q ON q.m = k.m AND q.c = k.c
      WHERE k.vec_id != 0
      GROUP BY k.vec_id
    ),
    short AS (
      SELECT vec_id FROM scored
      ORDER BY adc_d2_micro, vec_id LIMIT {_PQ_SHORTLIST}
    ),
    qc AS (SELECT dim, x AS qx FROM comps WHERE vec_id = 0),
    rerank AS (
      SELECT cv.vec_id,
             CAST(SUM(CAST(FLOOR((cv.x - qc.qx) * (cv.x - qc.qx) * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS l2_d2_micro
      FROM comps cv
      JOIN short s ON s.vec_id = cv.vec_id
      JOIN qc ON qc.dim = cv.dim
      GROUP BY cv.vec_id
    ),
    top AS (
      SELECT vec_id, l2_d2_micro FROM rerank
      ORDER BY l2_d2_micro, vec_id LIMIT 10
    )
    SELECT t.vec_id, e.label, t.l2_d2_micro
    FROM top t JOIN embeddings e ON e.vec_id = t.vec_id
    """


_PQ_POSEXP_SPARK = (
    "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x "
    "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, x"
)
_PQ_POSEXP_DUCK = (
    "SELECT vec_id, generate_subscripts(embedding, 1) AS dim, "
    "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings"
)

# DuckDB one-statement twin: dists for ALL vectors once, codes = argmin,
# qd = the query's slice of the same dists relation.
_PQ_DUCK = (
    f"WITH comps AS ({_PQ_POSEXP_DUCK}),"
    + _pq_dists_sql(_DUCK_D, "")
    + f",\n    codes AS ({_PQ_CODES_TAIL}),"
    + "\n    qd AS (SELECT m, c, d2 FROM dists WHERE vec_id = 0),"
    + _pq_tail(_DUCK_D, "codes")
)


@register("vec_topk_pq", _PQ_DUCK)
def vec_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN top-10: 8×16 anchor-sampled product-quantizer codes per
    vector (the compressed index — 8 small ints instead of 64 floats),
    ADC shortlist of {R} by summed table lookups, exact integer-L2
    re-rank of the shortlist only. The code relation materializes once
    per session (see _indexed) — at scale it IS the PQ index on storage;
    the compressed scan touches no float vectors and the re-rank fetches
    exactly {R} of them. Exact-duplicate retrieval (a planted copy of the
    query has the provably minimal ADC) and recall@10 vs exact L2 are
    pinned in tests/test_ann_recall.py.

    Probe shape (round 8, the r07 serving-index move folded back): the
    query's 128-entry ADC table is also session-materialized and read as
    planning scalars, then inlined as a BIGINT array literal — scoring
    becomes one lookup-aggregate scan of the codes relation with NO qd
    join and no per-call dists job; the re-rank explodes only the {R}
    shortlist survivors' floats (fetched by the shortlist join BEFORE
    the posexplode), never the corpus. The r08 interleaved A/B measured
    the old qd-join form's steady state at 0.72 s vs this form's
    ~0.35 s at sf0.1 (FLOOR.md §r8); result-equality to the persisted
    pq_topk_indexed path stays pinned every session
    (test_scale_techniques.py).""".replace("{R}", str(_PQ_SHORTLIST))
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    _indexed(
        spark,
        f"pq_codes|{sf_dir}",
        f"WITH comps AS ({_PQ_POSEXP_SPARK}),"
        + _pq_dists_sql(_SPARK_D, "")
        + _PQ_CODES_TAIL,
    ).createOrReplaceTempView("pq_codes")
    adc_rows = _indexed(
        spark,
        f"pq_qd|{sf_dir}",
        f"WITH comps AS ({_PQ_POSEXP_SPARK}),"
        + _pq_dists_sql(_SPARK_D, "WHERE vec_id = 0")
        + "\n    SELECT m, c, d2 FROM dists",
    ).collect()
    if len(adc_rows) != _PQ_M * _PQ_K:
        raise ValueError(
            f"query vector (vec_id 0) or the {_PQ_K} codebook anchors "
            f"not found in {sf_dir}'s embeddings "
            f"({len(adc_rows)}/{_PQ_M * _PQ_K} ADC entries)"
        )
    adc = [0] * (_PQ_M * _PQ_K)
    for r in adc_rows:
        adc[r["m"] * _PQ_K + r["c"]] = r["d2"]
    adc_lit = "array(" + ", ".join(f"{v}L" for v in adc) + ")"
    micro = (
        "CAST(FLOOR((cv.x - qc.qx) * (cv.x - qc.qx) * 1000000.0) AS BIGINT)"
    )
    return spark.sql(
        f"""
    WITH scored AS (
      SELECT vec_id,
             CAST(SUM(element_at({adc_lit}, m * {_PQ_K} + c + 1))
                  AS BIGINT) AS adc_d2_micro
      FROM pq_codes
      WHERE vec_id != 0
      GROUP BY vec_id
    ),
    short AS (
      SELECT vec_id FROM scored
      ORDER BY adc_d2_micro, vec_id LIMIT {_PQ_SHORTLIST}
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
      SELECT cv.vec_id, CAST(SUM({micro}) AS BIGINT) AS l2_d2_micro
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


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs: banded hyperplane LSH.
#
# The dedup twin of vec_topk_lsh: instead of probing one query vector, find
# ALL pairs whose embeddings are cosine-close. Candidates come from equality
# self-joins on (band, 8-bit signature) — OR-amplification across 4 bands
# recovers pairs a single 32-bit signature would miss — then exact cosine
# verifies each candidate. No all-pairs join anywhere; at 100 TB the shuffle
# carries only bucket-collision rows, the same shape as minhash_dedup.
#
# Plane dots are accumulated as BIGINT sums of FLOOR(x·w·10⁶) —
# order-independent and bit-identical across engines (FLOOR of identical
# IEEE products), so band signatures (sign bits) can never diverge from
# summation order, unlike a raw double SUM whose result depends on
# partition merge order. Integer sums stay in whole-stage codegen where a
# DECIMAL(26,6) accumulator would drop the 10M-row aggregate onto the
# BigDecimal slow path (measured 4× slower).
# --------------------------------------------------------------------------

_ND_PLANES = 32
_ND_BANDS = 4  # 8 sign bits per band at gate scales; widens with corpus size
_ND_THRESHOLD = 0.3  # fixture max pairwise cosine is ~0.51 (synthetic, no true dups)
_ND_PLANE_W = f"(2.0 * {lcg_uniform_sql('(p * 64 + dim)', salt=73)} - 1.0)"


def _nd_bits(n_vectors: int) -> int:
    """Sign bits per band, scaled to corpus size.

    A b-bit band has 2^b buckets, so candidate pairs grow ~n²/2^b: FIXED
    band width saturates and the verify stage goes quadratic (measured:
    10× the vectors → 44× the runtime at b=8). Holding expected bucket
    occupancy n/2^b roughly constant keeps candidates ~linear — the
    standard LSH sizing rule b ≈ log2(n) − const. Gate scales (sf0.01 =
    200 vectors, sf0.1 = 2k) stay at b=8, bit-identical to the static
    DuckDB oracle; larger corpora widen bands where no oracle runs (the
    weak-scaling table in COVERAGE.md is the check at those sizes).
    """
    if n_vectors < 5_000:
        return 8
    if n_vectors < 80_000:
        return 12
    return 16


def _nd_sigs_sql(d, posexp: str, bits: int = 8) -> str:
    """Band signatures (vec_id, band, sig) from hyperplane sign bits."""
    n_planes = _ND_BANDS * bits
    return f"""
    WITH planes AS (
      SELECT p, dim, {_ND_PLANE_W} AS w
      FROM (SELECT {d['expand']('0', str(n_planes - 1))} AS p) pp,
           (SELECT {d['expand']('1', str(_ANN_DIMS))} AS dim) dd
    ),
    comps AS ({posexp}),
    dots AS (
      SELECT c.vec_id, CAST(FLOOR(pl.p / {bits}) AS INT) AS band, pl.p,
             SUM(CAST(FLOOR(c.x * pl.w * 1000000.0) AS BIGINT)) AS dot_p
      FROM comps c JOIN planes pl ON pl.dim = c.dim
      GROUP BY c.vec_id, CAST(FLOOR(pl.p / {bits}) AS INT), pl.p
    )
    SELECT vec_id, band,
           CAST(SUM(CASE WHEN dot_p >= 0
                         THEN CAST(ROUND(POWER(2, p % {bits})) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS sig,
           MAX(CASE WHEN p % {bits} = 0 THEN dot_p END) AS proj
    FROM dots GROUP BY vec_id, band
    """


def _nd_v_sql(d) -> str:
    # norms once per vector (5k folds), not twice per candidate pair
    # (300k interpreted folds) — the higher-order array lambdas run
    # interpreted in Spark, so fold count is the verify-stage cost driver
    return f"""
    SELECT vec_id, label, e,
           {'SQRT(aggregate(e, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x))'
            if d is _SPARK_D else 'SQRT(list_dot_product(e, e))'} AS nrm
    FROM (SELECT vec_id, label, {'transform(embedding, x -> CAST(x AS DOUBLE))' if d is _SPARK_D else 'CAST(embedding AS DOUBLE[])'} AS e
          FROM embeddings) ve
    """


# Dense-region guard for candidate generation: clustered embeddings defeat
# plain sign-bit banding (vectors in a tight cluster share most hyperplane
# signs, so hot buckets grow with the cluster, not with 2^bits — measured
# at the sf10 fixture: 200k vectors, 16-bit bands, max bucket 1898, 110M
# all-pairs candidates, 93 s). Buckets over _ND_BUCKET_CAP switch from
# all-pairs to sorted-neighborhood pairing: members ordered by the band's
# first-plane raw dot (an exact BIGINT micro-sum, so the sort is
# deterministic; cosine-close vectors have close projections) and paired
# only with their _ND_NEIGHBORS successors — candidates linear in bucket
# size. Recall inside over-cap buckets is approximate by design (each of
# the 4 bands retries with a different projection); gate fixtures run the
# 8-bit tier where the guard never engages, so the oracle path is
# bit-identical all-pairs.
#
# The cap equals the per-member budget the neighborhood path spends
# (2·_ND_NEIGHBORS successors+predecessors ≈ all-pairs in a 33-bucket), so
# candidate fan-out is O(_ND_NEIGHBORS) PER MEMBER in every bucket — the
# only invariant that survives scale. The original cap of 256 left a
# cliff: buckets just under it did all-pairs (127 candidates/member), and
# at sf100 (2M clustered vectors) thousands of near-cap buckets summed to
# ~10⁹ candidate rows whose dedup shuffle filled 59 GB of disk and killed
# the job — the 4th real scale bug the ladder caught. Total candidates are
# now ≤ 4 bands × 2·_ND_NEIGHBORS × n by construction.
_ND_NEIGHBORS = 16
_ND_BUCKET_CAP = 2 * _ND_NEIGHBORS + 1


def _nd_tail(
    d,
    sigs: str,
    v: str,
    broadcast_cand: bool = True,
    dense_guard: bool = False,
    members_rel: str | None = None,
) -> str:
    """FUSED bucket-join + exact-cosine verify over relations ``sigs`` and
    ``v``. ``dense_guard`` switches over-cap buckets to rank-blocked
    sorted-neighborhood pairing (engaged only past the 8-bit gate tier —
    below it no fixture bucket approaches the cap and the bucket-count
    join would be pure overhead). ``broadcast_cand`` is retained for call
    compatibility and ignored — there is no candidate relation to
    broadcast anymore.

    Why fused: the previous shape built a narrow DISTINCT candidate set,
    then joined the two 64-double vectors back PER PAIR — so the verify
    shuffle carried ~1 KB per candidate, and at sf100 (2M clustered
    vectors, ~10⁸ in-budget candidates) that is ~100 GB of sort-merge
    spill; the job filled the disk and died inside the verify stage, with
    candidate generation already linear. Here the vectors attach once per
    MEMBER band-row (4n rows, ~4 GB at sf100), the cosine computes inside
    the co-partitioned (band, sig) self-join where wide rows are pipelined
    and never hit an exchange, and only SURVIVING pairs — narrow rows —
    flow to the cross-band DISTINCT. Same output set: cos is identical
    IEEE arithmetic per pair in every band, so post-filter DISTINCT over
    (ids, labels, rounded cos) equals the old pre-verify candidate dedup.
    The dense branch is additionally rank-BLOCKED ((band, sig, blk)
    equality keys) — the previous bare bucket join enumerated m² rows
    before its rn-window filter could drop them.

    ``members_rel`` names a PREBUILT members relation (vec_id, band, sig,
    proj, c, label, e, nrm) — the persisted ANN index shape with vectors
    attached and bucket sizes precomputed at index-build time
    (scripts/bucketed_neardup_demo.py writes it ``bucketBy(band, sig)``):
    the sigs⋈v and sigs⋈bsize joins drop out of the re-query plan, and the
    bucket self-join plus the dense-guard rank window run exchange-free on
    the bucketed scan."""
    del broadcast_cand

    def dot(a: str, b: str) -> str:
        if d is _SPARK_D:
            return (
                f"aggregate(zip_with({a}.e, {b}.e, (x, y) -> x * y), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
        return f"list_dot_product({a}.e, {b}.e)"

    def cos(a: str, b: str) -> str:
        return f"{dot(a, b)} / NULLIF({a}.nrm * {b}.nrm, 0.0)"

    if dense_guard:
        blk = (
            f"((rn - 1) DIV {_ND_NEIGHBORS})"
            if d is _SPARK_D
            else f"((rn - 1) // {_ND_NEIGHBORS})"
        )
        expand_blk = (
            "explode(array(blk, blk + 1))"
            if d is _SPARK_D
            else "unnest([blk, blk + 1])"
        )
        if members_rel is None:
            member_ctes = f"""
    bsize AS (
      SELECT band, sig, COUNT(*) AS c FROM {sigs} GROUP BY band, sig
    ),
    members AS (
      SELECT s.vec_id, s.band, s.sig, s.proj, z.c, v.label, v.e, v.nrm
      FROM {sigs} s
      JOIN bsize z ON z.band = s.band AND z.sig = s.sig
      JOIN {v} v ON v.vec_id = s.vec_id
    ),"""
        else:
            member_ctes = f"""
    members AS (SELECT vec_id, band, sig, proj, c, label, e, nrm
                FROM {members_rel}),"""
        hits = f"""{member_ctes}
    small AS (SELECT * FROM members WHERE c <= {_ND_BUCKET_CAP}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY band, sig
                                   ORDER BY proj, vec_id) AS rn
      FROM members WHERE c > {_ND_BUCKET_CAP}
    ),
    dense AS (SELECT *, {blk} AS blk FROM ranked),
    probe AS (SELECT *, {expand_blk} AS jblk FROM dense),
    hits AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.label AS label_a, b.label AS label_b,
             {cos('a', 'b')} AS cs
      FROM small a JOIN small b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
      UNION ALL
      SELECT CASE WHEN a.vec_id < b.vec_id THEN a.vec_id ELSE b.vec_id END,
             CASE WHEN a.vec_id < b.vec_id THEN b.vec_id ELSE a.vec_id END,
             CASE WHEN a.vec_id < b.vec_id THEN a.label ELSE b.label END,
             CASE WHEN a.vec_id < b.vec_id THEN b.label ELSE a.label END,
             {cos('a', 'b')} AS cs
      FROM probe a JOIN dense b
        ON b.band = a.band AND b.sig = a.sig AND b.blk = a.jblk
       AND b.rn > a.rn AND b.rn <= a.rn + {_ND_NEIGHBORS}
    )"""
    else:
        if members_rel is None:
            member_ctes = f"""
    members AS (
      SELECT s.vec_id, s.band, s.sig, v.label, v.e, v.nrm
      FROM {sigs} s JOIN {v} v ON v.vec_id = s.vec_id
    ),"""
        else:
            member_ctes = f"""
    members AS (SELECT vec_id, band, sig, label, e, nrm
                FROM {members_rel}),"""
        hits = f"""{member_ctes}
    hits AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             a.label AS label_a, b.label AS label_b,
             {cos('a', 'b')} AS cs
      FROM members a JOIN members b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )"""
    return f"""{hits}
    SELECT DISTINCT vec_a, vec_b, label_a, label_b,
           ROUND(cs, 6) + 0.0 AS cos_sim
    FROM hits
    WHERE ROUND(cs, 6) >= {_ND_THRESHOLD}
    """


_ND_POSEXP_SPARK = (
    "SELECT vec_id, pos + 1 AS dim, CAST(x AS DOUBLE) AS x "
    "FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, x"
)
# The DuckDB side is one statement: planes/comps/dots CTEs + sigs + v +
# the shared tail (DuckDB materializes multiply-referenced CTEs itself).
_ND_DUCK = (
    "WITH planes AS ("
    + f"""
      SELECT p, dim, {_ND_PLANE_W} AS w
      FROM (SELECT {_DUCK_D['expand']('0', str(_ND_PLANES - 1))} AS p) pp,
           (SELECT {_DUCK_D['expand']('1', str(_ANN_DIMS))} AS dim) dd
    ),
    comps AS (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                     CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
    dots AS (
      SELECT c.vec_id, CAST(FLOOR(pl.p / 8) AS INT) AS band, pl.p,
             SUM(CAST(FLOOR(c.x * pl.w * 1000000.0) AS BIGINT)) AS dot_p
      FROM comps c JOIN planes pl ON pl.dim = c.dim
      GROUP BY c.vec_id, CAST(FLOOR(pl.p / 8) AS INT), pl.p
    ),
    sigs AS (
      SELECT vec_id, band,
             CAST(SUM(CASE WHEN dot_p >= 0
                           THEN CAST(ROUND(POWER(2, p % 8)) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS sig,
             MAX(CASE WHEN p % 8 = 0 THEN dot_p END) AS proj
      FROM dots GROUP BY vec_id, band
    ),
    v AS ({_nd_v_sql(_DUCK_D)}),"""
    + _nd_tail(_DUCK_D, "sigs", "v")
)


@register("embed_neardup", _ND_DUCK)
def embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH
    (32 LCG planes → 4 bands × 8 sign bits → bucket-equality candidate
    pairs → exact-cosine verify ≥ _ND_THRESHOLD = 0.3). The embedding-space member
    of the dedup family (exact / MinHash / SimHash / n-gram / cosine); the
    candidate join is on (band, signature) equality — the only shape that
    survives 100 TB.

    The signature and vector-norm relations materialize once per session
    as the ANN-index pair (see _indexed; Spark CTE inlining +
    Generate-under-self-join otherwise recompute the plane-dot aggregation
    for each reference); at scale these are exactly the two relations an
    ANN index writes to storage. Band width adapts to corpus size (see
    _nd_bits) — the parquet footer row count is read driver-side, no job."""
    load(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    bits = _nd_bits(_parquet_rows(os.path.join(sf_dir, "embeddings.parquet")))
    _indexed(
        spark,
        f"nd_sigs|{bits}|{sf_dir}",
        _nd_sigs_sql(_SPARK_D, _ND_POSEXP_SPARK, bits),
    ).createOrReplaceTempView("nd_sigs")
    _indexed(spark, f"nd_v|{sf_dir}", _nd_v_sql(_SPARK_D)).createOrReplaceTempView(
        "nd_v"
    )
    # candidates broadcast only at gate scales; past the 8-bit tier the
    # candidate relation is corpus-proportional (shuffle join) and the
    # dense-region guard engages (sorted-neighborhood inside hot buckets)
    return spark.sql(
        "WITH "
        + _nd_tail(
            _SPARK_D,
            "nd_sigs",
            "nd_v",
            broadcast_cand=bits == 8,
            dense_guard=bits > 8,
        )
    )


# --------------------------------------------------------------------------
# Corpus keyword extraction: per-document top-k TF-IDF terms.
# --------------------------------------------------------------------------


def _tfidf_sql(d) -> str:
    # TF shuffle keys on (doc_id, term) — the corpus-proportional stage;
    # DF is vocabulary-sized (derived from the TF relation, no second
    # corpus pass) and joins back per-term — broadcast at any corpus size
    # where vocab << corpus. N is a scalar subquery. Scores ROUND(.,6)+0.0
    # per the libm discipline (ln), and the top-k window orders by the
    # ROUNDED score with the term string as tiebreak, so ranking is
    # engine-independent. Window partitions by doc_id — the same key the
    # TF aggregate already clustered on.
    unnest_toks = (
        "SELECT doc_id, tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
        if d is _SPARK_D
        else "SELECT doc_id, u.term FROM w, unnest(w.ws) AS u(term)"
    )
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    toks AS ({unnest_toks}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) + 0.0 AS score
      FROM tf JOIN df ON df.term = tf.term CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 3
    """


_TFIDF_DUCK = _tfidf_sql(_DUCK_D)

# Spark side: broadcast-df plan — the tf relation NEVER moves. tf
# aggregates exchange-free (hash(doc_id) from the spread satisfies the
# (doc, term) clustering); the document frequencies come from a SECOND
# explode branch whose COUNT(DISTINCT doc_id) partial-aggregates before
# its term exchange, then broadcast-join back onto tf (vocab << corpus at
# any scale); the top-k rank windows on doc_id — the clustering tf still
# has, so only a local sort (WindowGroupLimit prunes below rank 3 before
# it). History: the double-pipeline relational form measured ~1.9 s; the
# term-window form (COUNT(*) OVER (PARTITION BY term)) that replaced it
# ~0.75-0.89 s but exchanged ALL tf rows to term and back to doc; this
# form drops both full-relation exchanges — 0.64 s vs 0.89 s interleaved
# min-of-8 at sf0.1, and the structurally right shape at 100 TB (same
# device as unigram_xent).
_TFIDF_SPARK = """
    WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents_par),
    toks AS (SELECT doc_id, tok AS term FROM w LATERAL VIEW explode(ws) x AS tok),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfr AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    ranked AS (
      SELECT /*+ BROADCAST(dfr) */ tf.doc_id, tf.term, tf.tf, dfr.df,
             ROUND(tf.tf * ln((SELECT CAST(n AS DOUBLE) FROM n) / dfr.df), 6) + 0.0 AS score
      FROM tf JOIN dfr ON dfr.term = tf.term
    ),
    topk AS (
      SELECT doc_id, term, tf, df, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM ranked
    )
    SELECT doc_id, term, tf, df, score, rk FROM topk WHERE rk <= 3
    """


# Vocab-relation broadcast gate: dfr/vocab (one row per distinct term) is
# CORPUS-proportional — Heaps-law sub-linear in practice, but unbounded in
# principle (a 100 TB corpus can carry 10⁹+ distinct terms), the same
# hazard class as the fact-proportional revenue bridge. The hint is
# therefore gated on the documents table's on-disk footprint (the cheap
# upper-bound proxy for vocab volume): under the cap, broadcast skips both
# full-relation exchanges; over it, the hint is dropped and Catalyst plans
# a term-keyed shuffle join of the two already-aggregated relations — the
# shape that cannot OOM an executor at any vocab size. Measured at the
# sf100 ladder tier (934 MB docs, ~5M-term vocab): broadcast still wins
# on this box (tfidf 56 s vs 66 s, xent 36 s vs 41 s), so the gate sits
# at 1 GiB — just past the largest tier we can measure, before the
# vocab relation's driver-collect approaches maxResultSize. The
# hint-stripped text is pinned result-equal at gate scale in tests.
_VOCAB_BCAST_DOCS_BYTES = 1 << 30


def _vocab_sql(sf_dir: str, sql: str) -> str:
    """``sql`` as written under the vocab-broadcast gate; past it (or for
    an unknown documents table) the same text with its ``/*+ BROADCAST */``
    comment removed, so Catalyst plans a shuffle join instead."""
    if table_bytes(sf_dir, "documents") < _VOCAB_BCAST_DOCS_BYTES:
        return sql
    return re.sub(r"/\*\+ BROADCAST\(.*?\*/ ?", "", sql, flags=re.S)


@register("tfidf_topterms", _TFIDF_DUCK)
def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms — the standard corpus keyword /
    feature-selection op. One corpus-proportional pass (see _TFIDF_SPARK);
    the oracle keeps the equivalent relational tf⋈df form. Scores are
    ROUND(.,6)+0.0 per the libm (ln) discipline and ranked on the ROUNDED
    value with the term string as tiebreak, so ordering is
    engine-independent. Past _VOCAB_BCAST_DOCS_BYTES of on-disk documents
    _vocab_sql strips the dfr broadcast hint."""
    return _spark_docs(spark, sf_dir, _vocab_sql(sf_dir, _TFIDF_SPARK))


# --------------------------------------------------------------------------
# PII scrubbing: count + redact emails/phone numbers per document.
# --------------------------------------------------------------------------

# Engine-portable regexes: character classes only — no backslash escapes
# (Spark SQL string literals eat backslashes, DuckDB keeps them) and no
# constructs where Java regex and RE2 disagree. Hyphen last in class.
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
_PII_PHONE = "[+]?[0-9][0-9 -]{6,}[0-9]"


def _pii_sql(d) -> str:
    g = ", 'g'" if d is not _SPARK_D else ""  # DuckDB needs the global flag
    red = (
        f"regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>'{g}), "
        f"'{_PII_PHONE}', '<PHONE>'{g})"
    )
    # Spark reads the spread view: four regex passes per doc are the
    # compute-heavy profile the spread exists for (single-row-group fixture
    # → single-task scan otherwise). The nested-subquery shape keeps the
    # double-replace expression shared via subexpression elimination.
    return f"""
    SELECT doc_id, n_emails, n_phones, LENGTH(red) AS clean_len,
           md5(red) AS clean_fp
    FROM (
      SELECT doc_id,
             {d['retokens']('text', _PII_EMAIL)} AS n_emails,
             {d['retokens']('text', _PII_PHONE)} AS n_phones,
             {red} AS red
      FROM {d['pdocs']}
    ) t
    """


_PII_SPARK, _PII_DUCK = _dual(_pii_sql)


@register("pii_redact", _PII_DUCK)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count and redact email/phone matches per document,
    fingerprinting the redacted text (md5 agrees across engines, so the
    scrubbed corpus is verifiable without shipping it). Pure row-local
    projection — zero shuffles at any scale. The fixture corpus contains no
    PII (counts 0, clean_fp = md5(text), still a per-doc content check);
    planted-PII semantics are pinned cross-engine in
    tests/test_dataset_assembly.py."""
    return _spark_docs(spark, sf_dir, _PII_SPARK)


# --------------------------------------------------------------------------
# Exact-substring duplication: documents sharing a verbatim ≥10-token run.
# --------------------------------------------------------------------------

# Stop-gram guard: a run-hash appearing in more docs than this is dropped
# from pair generation (boilerplate/template text would otherwise make a
# bucket quadratic — the standard move in exact-substring dedup at scale).
# Both engines apply the same cap, so results stay comparable; no fixture
# bucket comes near it.
_RUN_CAP = 1000


def _subdup_cold(d) -> str:
    """Drop stop-gram rows. Spark: broadcast LEFT ANTI JOIN (the hot set is
    tiny by construction; NOT IN would plan a null-aware anti join).
    DuckDB: plain NOT IN."""
    if d is _SPARK_D:
        return (
            "SELECT /*+ BROADCAST(hot) */ r.doc_id, r.h "
            "FROM runs r LEFT ANTI JOIN hot ON r.h = hot.h"
        )
    return "SELECT doc_id, h FROM runs WHERE h NOT IN (SELECT h FROM hot)"


def _substring_dup_sql(d, cap: int = _RUN_CAP) -> str:
    if d is _SPARK_D:
        run = "md5(array_join(slice(ws, i, 10), ' '))"
    else:
        run = "md5(array_to_string(ws[i:i+9], ' '))"
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}
               WHERE {d['len'](d['split']('text'))} >= 10),
    pos AS (SELECT doc_id, ws, {d['expand']('1', d['len']('ws') + ' - 9')} AS i
            FROM w),
    runs AS (SELECT DISTINCT doc_id, {run} AS h FROM pos),
    hot AS (SELECT h FROM runs GROUP BY h HAVING COUNT(*) > {cap}),
    cold AS ({_subdup_cold(d)})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_runs
    FROM cold a JOIN cold b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


_SUBDUP_SPARK, _SUBDUP_DUCK = _dual(_substring_dup_sql)

# Spark executes the relational form above as FOUR copies of the scan→
# explode→md5→DISTINCT pipeline (runs is referenced by hot and by both
# sides of the cold self-join; CTE inlining + no exchange reuse — verified
# in the physical plan: 4× Generate, 9 exchanges). Materializing runs once
# (localCheckpoint) measured WORSE locally (1.38 s vs 0.84 s — the eager
# checkpoint serializes what idle cores ran concurrently). The winning
# Spark form is the decontam_ngram device: ONE aggregation by run hash
# with a map-side-partial collect_set(doc_id); the stop-gram cap AND the
# ≥2-docs filter fold into the same HAVING; pairs explode from the
# in-bucket set (bounded by the cap, so never corpus-quadratic). One
# explode pipeline, one h exchange, one pair-agg exchange. (Hash note:
# h is internal-only, so Spark uses MULTI-ARG xxhash64 over the 10
# element_at tokens — hashes the strings in place, no join-string
# allocation, no slice-array serialization; interleaved A/Bs beat
# md5-of-joined-run ~10% here and in decontam_ngram. The earlier
# xxhash64-of-SLICE variant lost to md5 — 0.67 s vs 0.62 s — because it
# serialized the array first. 64-bit space keeps collisions negligible
# and the oracle keeps md5.) Extreme-skew caveat: collect_set
# materializes a hot bucket's full doc set before HAVING can drop it; if
# a boilerplate run could span ~billions of docs, pre-cap with the
# two-phase COUNT + anti-join form instead (O(1) agg state) — at the
# fixture's cap=1000 the set form is strictly better.

_SUBDUP_SPARK_1PASS = f"""
    WITH w AS (SELECT doc_id, ws FROM
               (SELECT doc_id, split(text, ' ') AS ws FROM documents_par) t
               WHERE size(ws) >= 10),
    pos AS (SELECT doc_id,
                   xxhash64({", ".join(f"element_at(ws, i + {j})" for j in range(10))}) AS h
            FROM w LATERAL VIEW explode(sequence(1, size(ws) - 9)) x AS i),
    b AS (SELECT h, collect_set(doc_id) AS ds
          FROM pos GROUP BY h
          HAVING size(collect_set(doc_id)) BETWEEN 2 AND {_RUN_CAP}),
    pairs AS (
      SELECT doc_a, doc_b FROM b
      LATERAL VIEW explode(ds) ea AS doc_a
      LATERAL VIEW explode(ds) eb AS doc_b
      WHERE doc_a < doc_b
    )
    SELECT doc_a, doc_b, COUNT(*) AS n_shared_runs
    FROM pairs GROUP BY doc_a, doc_b
"""


@register("substring_dup", _SUBDUP_DUCK)
def substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate pairs: docs sharing a verbatim 10-token
    run, found via rolling 10-gram window hashes (stride 1 finds every
    shared run ≥ 10 tokens — the fixed-k reduction of suffix-array
    substring dedup, which has no Spark-natural form). Bucketed by run
    hash — never doc×doc — with a stop-gram cap so boilerplate buckets
    can't go quadratic; complements ngram_jaccard (set similarity) with
    contiguous-run containment, the partial-copy detector. Spark runs the
    single-aggregation collect_set form (see _SUBDUP_SPARK_1PASS note);
    DuckDB keeps the relational self-join form — both implement the same
    bucket/cap/pair semantics."""
    return _spark_docs(spark, sf_dir, _SUBDUP_SPARK_1PASS)


# --------------------------------------------------------------------------
# End-to-end curation funnel: lang gate → quality gate → exact-dedup keep-
# first, with per-stage survivor counts. The composition a corpus curator
# actually ships, in ONE declarative plan.
# --------------------------------------------------------------------------

_KEEP_LANGS = "('en', 'de', 'fr')"
_Q_MIN = "0.55"


def _doc_quality_gate_sql(d) -> str:
    """Per-document hard gate — THE single definition of the curation
    quality rule (lang allowlist + the quality_score composite thresholded
    at _Q_MIN on the ROUND(.,6) grain). corpus_filter's funnel builds its
    `scored` CTE from this, and the curate workflow
    (sinks.write_curated_corpus) runs the Spark-dialect form directly, so
    the two gates can never desync."""
    ws = d["split"]("text")
    hits = d["filter"](ws, f"w -> w IN {_STOPWORDS}")
    return f"""
      SELECT doc_id, source, lang, text,
             CASE WHEN lang IN {_KEEP_LANGS} THEN 1 ELSE 0 END AS lang_ok,
             CASE WHEN ROUND({_Q_COMPOSITE}, 6) >= {_Q_MIN}
                  THEN 1 ELSE 0 END AS q_ok
      FROM (
        SELECT doc_id, source, lang, text,
               {d['len'](ws)} AS n_words,
               CAST({d['len'](hits)} AS DOUBLE) / {d['len'](ws)} AS stop_ratio,
               CAST({d['len'](d['distinct'](ws))} AS DOUBLE)
                 / {d['len'](ws)} AS unique_ratio
        FROM {d['pdocs']}
      ) f
    """


def _corpus_filter_sql(d) -> str:
    return f"""
    WITH scored AS ({_doc_quality_gate_sql(d)}),
    dd AS (
      SELECT source, lang, lang_ok, q_ok,
             ROW_NUMBER() OVER (
               PARTITION BY md5(text), lang_ok * q_ok
               ORDER BY doc_id) AS rn
      FROM scored
    )
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(lang_ok) AS BIGINT) AS n_lang_ok,
           CAST(SUM(lang_ok * q_ok) AS BIGINT) AS n_eligible,
           CAST(SUM(CASE WHEN lang_ok * q_ok = 1 AND rn = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM dd
    GROUP BY source, lang
    """


_CF_SPARK, _CF_DUCK = _dual(_corpus_filter_sql)


@register("corpus_filter", _CF_DUCK)
def corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation funnel: language allowlist → quality threshold
    (same composite score as quality_score, thresholded on the ROUND(.,6)
    value so both engines gate identically) → exact-dedup keep-first-doc_id
    among the eligible set, rolled up to per-(source, lang) survivor counts
    at each stage. One text-hash window shuffle + one rollup — the full
    keep/drop pipeline as a single Catalyst plan (each gate is a projection
    the optimizer can reorder/prune around, not a separate materialized
    pass). The eligibility flag rides in the window partition key so kept
    docs rank only against kept docs."""
    return _spark_docs(spark, sf_dir, _CF_SPARK)


# --------------------------------------------------------------------------
# Unigram LM cross-entropy per document — the perplexity-filter analog
# (CCNet-style quality scoring against an in-corpus LM).
# --------------------------------------------------------------------------


def _xent_sql(d) -> str:
    # xent = avg_tokens(-ln(c_term / T)) = ln(T) - avg(ln c_term).
    # ln is libm → per-token ln(c) is snapped to integer micro-nats with
    # ROUND(.*1e6) (nearest-integer; FLOOR would step on representation
    # boundaries) and summed as exact BIGINTs, so the per-doc mean is
    # order-independent and bit-identical across engines; the final value
    # carries the usual ROUND(.,6)+0.0. T comes from a documents scan
    # (SUM of word counts — no second explode).
    unnest_toks = (
        "SELECT doc_id, tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
        if d is _SPARK_D
        else "SELECT doc_id, u.term FROM w, unnest(w.ws) AS u(term)"
    )
    total = f"SELECT CAST(SUM({d['len'](d['split']('text'))}) AS DOUBLE) AS t FROM documents"
    if d is _SPARK_D:
        # Broadcast-vocab plan: the big relation (tf) NEVER moves. tf
        # aggregates exchange-free (hash(doc_id) from the spread satisfies
        # the (doc, term) clustering with map-side partials); the corpus
        # term counts come from a SECOND explode branch that partial-aggs
        # to per-partition-distinct terms before its exchange — the only
        # shuffle ships ~vocab × partitions rows, not the tf relation.
        # vocab then broadcast-joins back onto tf, which stays doc-
        # clustered for the final per-doc aggregate (no exchange). The
        # earlier window form (SUM(tf) OVER (PARTITION BY term)) exchanged
        # + sorted ALL tf rows by term and exchanged them BACK by doc —
        # two full-relation shuffles this plan doesn't have; re-running
        # the cheap scan→split→explode for the vocab branch schedules
        # concurrently with the tf branch. Every token of a (doc, term)
        # pair shares the same c, so tf·round(ln c·1e6) equals the
        # per-token sum bit-exactly and n_tokens = SUM(tf).
        counted = f"""
    toks AS ({unnest_toks}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    vocab AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    counted AS (SELECT /*+ BROADCAST(vocab) */ tf.doc_id, tf.tf, vocab.c
                FROM tf JOIN vocab ON vocab.term = tf.term)"""
    else:
        counted = f"""
    toks AS ({unnest_toks}),
    tfd AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM tfd GROUP BY term),
    counted AS (SELECT tfd.doc_id, tfd.tf, vocab.c
                FROM tfd JOIN vocab ON vocab.term = tfd.term)"""
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    {counted},
    tot AS ({total})
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(ln((SELECT t FROM tot))
                 - CAST(SUM(tf * CAST(ROUND(ln(c) * 1000000.0, 0) AS BIGINT)) AS DOUBLE)
                   / 1000000.0 / SUM(tf), 6) + 0.0 AS xent_nats
    FROM counted
    GROUP BY doc_id
    """


_XENT_SPARK, _XENT_DUCK = _dual(_xent_sql)


@register("unigram_xent", _XENT_DUCK)
def unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram LM — the
    perplexity-filtering signal (docs far from the corpus distribution get
    high xent and are filter candidates). Spark runs one corpus pass
    (term-window count, same single-pass device as tfidf_topterms); the
    oracle keeps the relational vocab-join form. Token ln-probabilities are
    snapped to integer micro-nats and summed exactly, so the mean is
    order-independent and engine-identical. Past _VOCAB_BCAST_DOCS_BYTES
    of on-disk documents _vocab_sql strips the vocab broadcast hint."""
    return _spark_docs(spark, sf_dir, _vocab_sql(sf_dir, _XENT_SPARK))


# --------------------------------------------------------------------------
# bigram_xent: per-document cross-entropy under the corpus's add-one-
# smoothed BIGRAM LM (round 9) — one model order above unigram_xent, the
# cheapest signal that separates "right words, wrong order" from fluent
# text (a bag-of-frequent-words spam doc scores near the corpus mean on
# unigram xent but far on bigram xent). p(w2|w1) = (c12 + 1)/(c1 + V)
# with c1 = Σ_w2 c12 (left-context mass) and V = the vocabulary of
# bigram participants — the standard Laplace conditional. Per-bigram
# ln-probabilities snap to integer micro-nats (two ROUND(ln·1e6) terms
# per type, weighted by exact tf), so the per-doc mean is
# order-independent and engine-identical — the unigram_xent discipline.
# --------------------------------------------------------------------------


def _bigram_xent_sql(d) -> str:
    spark = d is _SPARK_D
    if spark:
        # size(ws) >= 2 guard: Spark's sequence(start, stop) defaults the
        # step to -1 when start > stop, so a single-token doc would explode
        # sequence(1, 0) = [1, 0] and element_at(ws, 0) throws
        # INVALID_INDEX_OF_ZERO — whereas DuckDB's generate_series(1, 0) is
        # empty. The guard restores the contract (no row for <2-token docs)
        # on both engines; same device as the hash_runs size(ws) >= 10 gate.
        pairs = (
            "SELECT doc_id, element_at(ws, i) AS w1,"
            " element_at(ws, i + 1) AS w2 "
            "FROM (SELECT * FROM w WHERE size(ws) >= 2) w2g "
            "LATERAL VIEW explode(sequence(1, size(ws) - 1)) x AS i"
        )
        # Broadcast-vocab plan, the unigram_xent device one order up: tf12
        # (the big doc-clustered relation) NEVER moves; the bigram counts
        # come from a second explode branch whose exchange ships ~bigram
        # vocab × partitions rows; v1 folds from v12 (vocab-sized, never
        # re-reads the corpus); both broadcast back onto tf12, which stays
        # doc-clustered for the final per-doc aggregate.
        counted = """
    tf12 AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pairs
             GROUP BY doc_id, w1, w2),
    v12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
    v1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM v12 GROUP BY w1),
    vsz AS (SELECT COUNT(DISTINCT t) AS v FROM
            (SELECT w1 AS t FROM v12 UNION ALL SELECT w2 AS t FROM v12)),
    scored AS (SELECT /*+ BROADCAST(v12), BROADCAST(v1) */
                      tf12.doc_id, tf12.tf, v12.c12, v1.c1
               FROM tf12 JOIN v12 ON v12.w1 = tf12.w1 AND v12.w2 = tf12.w2
                         JOIN v1 ON v1.w1 = tf12.w1)"""
    else:
        pairs = (
            "SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2 "
            "FROM w, unnest(generate_series(1, len(ws) - 1)) AS u(i)"
        )
        counted = """
    tf12 AS (SELECT doc_id, w1, w2, COUNT(*) AS tf FROM pairs
             GROUP BY doc_id, w1, w2),
    v12 AS (SELECT w1, w2, CAST(SUM(tf) AS BIGINT) AS c12 FROM tf12
            GROUP BY w1, w2),
    v1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM v12 GROUP BY w1),
    vsz AS (SELECT COUNT(DISTINCT t) AS v FROM
            (SELECT w1 AS t FROM v12 UNION ALL SELECT w2 AS t FROM v12)),
    scored AS (SELECT tf12.doc_id, tf12.tf, v12.c12, v1.c1
               FROM tf12 JOIN v12 ON v12.w1 = tf12.w1 AND v12.w2 = tf12.w2
                         JOIN v1 ON v1.w1 = tf12.w1)"""
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    pairs AS ({pairs}),
    {counted}
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(tf * (
                   CAST(ROUND(ln(CAST(c1 AS DOUBLE)
                              + CAST((SELECT v FROM vsz) AS DOUBLE))
                              * 1000000.0, 0) AS BIGINT)
                 - CAST(ROUND(ln(CAST(c12 AS DOUBLE) + 1.0)
                              * 1000000.0, 0) AS BIGINT)
               )) AS DOUBLE) / 1000000.0 / SUM(tf), 6) + 0.0 AS xent2_nats
    FROM scored
    GROUP BY doc_id
    """


_BX_SPARK, _BX_DUCK = _dual(_bigram_xent_sql)


@register("bigram_xent", _BX_DUCK)
def bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own add-one-smoothed
    bigram LM — the word-ORDER fluency signal unigram_xent cannot see
    (see section comment). Single-token docs have no bigrams and emit no
    row. The bigram-vocab broadcasts are gated like unigram_xent's: past
    _VOCAB_BCAST_DOCS_BYTES _vocab_sql strips both hints and the
    aggregated relations shuffle-join on (w1, w2) and w1 instead.

    Scale shape: two concurrent explode branches over one corpus scan
    pipeline (tf12 doc-clustered with map-side partials; v12 partial-
    aggregated to per-partition-distinct bigrams before its exchange),
    v1 folded vocab-side, broadcasts back onto the unmoved tf12."""
    return _spark_docs(spark, sf_dir, _vocab_sql(sf_dir, _BX_SPARK))


# --------------------------------------------------------------------------
# zipf_fit: per-source Zipf law fit (round 9) — the corpus-health
# statistic curation pipelines plot per dump: natural text follows
# freq ∝ rank^s with s ≈ -1; machine-generated spam, template boilerplate
# and truncated crawls bend the log-log line (slope far from -1, low R²).
# OLS of ln(freq) on ln(rank) over each source's top-_ZIPF_CAP terms:
# both logs snap to integer micro-nats, the raw OLS sums accumulate as
# exact BIGINTs (micro² products fit comfortably: |x|,|y| ≤ ~2e7 micro,
# x·y ≤ 4e14, × cap 1000 ≤ 4e17), and slope/R² come from one shared IEEE
# formula — the corr_matrix discipline applied to a regression.
# --------------------------------------------------------------------------

_ZIPF_CAP = 1000


def _zipf_sql(d) -> str:
    spark = d is _SPARK_D
    toks = (
        "SELECT source, tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
        if spark
        else "SELECT source, u.term FROM w, unnest(w.ws) AS u(term)"
    )
    return f"""
    WITH w AS (SELECT source, {d['split']('text')} AS ws FROM {d['pdocs']}),
    toks AS ({toks}),
    tf AS (SELECT source, term, COUNT(*) AS c FROM toks GROUP BY source, term),
    ranked AS (
      SELECT source, c,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY c DESC, term ASC) AS rk
      FROM tf
    ),
    pts AS (
      SELECT source,
             CAST(ROUND(ln(CAST(rk AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT) AS y
      FROM ranked WHERE rk <= {_ZIPF_CAP}
    ),
    s AS (
      SELECT source, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM pts GROUP BY source
    )
    SELECT source, CAST(n AS BIGINT) AS n_terms,
           (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
             AS zipf_slope,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
             / NULLIF((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0)
             AS r2
    FROM s
    """


_ZIPF_SPARK, _ZIPF_DUCK = _dual(_zipf_sql)


@register("zipf_fit", _ZIPF_DUCK)
def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf law fit: OLS slope and R² of ln(freq) vs ln(rank)
    over the top-1000 terms (see section comment). A single-term source
    has zero x-variance → NULL slope/R² via the NULLIF guard.

    Scale shape: one explode → (source, term) count with map-side
    partials, one source-keyed rank window over the vocab-sized count
    relation (never the token stream), the cap filter reduces to ≤1000
    rows per source before the tiny OLS aggregation. Skew bound =
    largest single-source vocabulary, not its token count."""
    return _spark_docs(spark, sf_dir, _ZIPF_SPARK)


# --------------------------------------------------------------------------
# hll_distinct: deterministic HyperLogLog vocabulary estimate per source
# (round 9) — the MERGEABLE-SKETCH member of the corpus-health family.
# COUNT(DISTINCT term) at 100 TB shuffles the full token vocabulary;
# the HLL register table is 4096 × 1 byte per source, registers combine
# by MAX (associative, order-free — partials merge map-side, across
# partitions, across DAYS of incremental ingest), and the estimate is
# within ~1.04/√4096 ≈ 1.6% σ. Unlike Spark's approx_count_distinct /
# DuckDB's approx_distinct (different sketches, not comparable), this
# HLL is built from shared primitives so both engines produce the SAME
# registers bit-for-bit: bucket = first 3 md5 hex chars (12 bits), rank
# = leading-zero BITS of the 52-bit tail + 1 via TRIM(LEADING '0')
# length arithmetic (no per-row hex→int CONV), Σ2^(-Mj) accumulated
# EXACTLY as Σ2^(53-Mj) BIGINTs. Small-range linear-counting correction
# per the HLL paper. Every float literal is CAST(. AS DOUBLE) — DuckDB
# parses bare decimals as DECIMAL and its exact division diverges from
# IEEE (the verify-skill gotcha, hit live here).
# --------------------------------------------------------------------------

_HLL_P = 12
_HLL_M = 1 << _HLL_P


def _hll_registers_sql(d, docs_rel: str) -> str:
    """(source, bucket, mj) registers over any docs relation — the
    MAX-mergeable sketch fragment shared by the registry query and the
    streaming maintainer (streaming/jobs.py hll_ingest_stream)."""
    spark = d is _SPARK_D
    toks = (
        "SELECT source, tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
        if spark
        else "SELECT source, u.term FROM w, unnest(w.ws) AS u(term)"
    )
    return f"""
    WITH w AS (SELECT source, {d['split']('text')} AS ws FROM {docs_rel}),
    toks AS ({toks}),
    h AS (SELECT source, md5(term) AS m FROM toks),
    rk AS (
      SELECT source,
             SUBSTR(m, 1, 3) AS bucket,
             CASE WHEN LENGTH(TRIM(LEADING '0' FROM SUBSTR(m, 4, 13))) = 0
                  THEN 53
                  ELSE (13 - LENGTH(TRIM(LEADING '0' FROM SUBSTR(m, 4, 13)))) * 4
                       + CASE SUBSTR(TRIM(LEADING '0' FROM SUBSTR(m, 4, 13)), 1, 1)
                           WHEN '1' THEN 3
                           WHEN '2' THEN 2 WHEN '3' THEN 2
                           WHEN '4' THEN 1 WHEN '5' THEN 1
                           WHEN '6' THEN 1 WHEN '7' THEN 1
                           ELSE 0 END
                       + 1
             END AS rank
      FROM h
    )
    SELECT source, bucket, MAX(rank) AS mj
    FROM rk GROUP BY source, bucket
    """


def _hll_estimate_sql(regs_rel: str) -> str:
    """Per-source estimate over a (source, bucket, mj) register relation
    (MAX-merged on read, so ``regs_rel`` may hold overlapping appended
    partials). Engine-neutral: every float literal CAST AS DOUBLE."""
    md = f"CAST({_HLL_M} AS DOUBLE)"
    alpha = (
        f"(CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        f" + CAST(1.079 AS DOUBLE) / {md}))"
    )
    # Σ2^(-mj) as TWO exact BIGINT partial sums with NO overflow path
    # (ADVICE r9: a single Σ2^(53-mj) BIGINT worst-cases at 4096·2^52 =
    # 2^64 > int64 when many registers sit at rank 1, which non-ANSI
    # Spark would wrap silently). Split at rank 12: s_hi = Σ_{mj≤11}
    # 2^(11-mj) ≤ 4096·2^10 = 2^22; s_lo = Σ_{mj≥12} 2^(53-mj) ≤
    # 4096·2^41 = 2^53 — both exact, order-independent, far inside
    # int64 for EVERY possible register state. The recombination
    # s_hi·2^42 + s_lo runs as one fixed IEEE expression on exact
    # integers, so both engines round the same exact value once —
    # bit-identical to CAST(Σ AS DOUBLE) of the unsplit sum wherever
    # that sum didn't overflow.
    s53d = (
        f"(CAST(s_hi AS DOUBLE) * POW(CAST(2.0 AS DOUBLE), 42)"
        f" + CAST(s_lo AS DOUBLE))"
    )
    raw = (
        f"{alpha} * {md} * {md}"
        f" / ({s53d} / POW(CAST(2.0 AS DOUBLE), 53)"
        f" + ({md} - CAST(nz AS DOUBLE)))"
    )
    return f"""
    WITH regs AS (
      SELECT source, bucket, MAX(mj) AS mj
      FROM {regs_rel} GROUP BY source, bucket
    ),
    agg AS (
      SELECT source,
             COUNT(*) AS nz,
             CAST(SUM(CASE WHEN mj <= 11
                  THEN CAST(POW(CAST(2.0 AS DOUBLE), 11 - mj) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s_hi,
             CAST(SUM(CASE WHEN mj >= 12
                  THEN CAST(POW(CAST(2.0 AS DOUBLE), 53 - mj) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS s_lo
      FROM regs GROUP BY source
    )
    SELECT source,
           CAST(nz AS BIGINT) AS n_registers_hit,
           {raw} AS hll_raw,
           CASE WHEN {raw} <= CAST(2.5 AS DOUBLE) * {md} AND nz < {_HLL_M}
                THEN ROUND({md} * ln({md} / ({md} - CAST(nz AS DOUBLE))), 6)
                     + 0.0
                ELSE ROUND({raw}, 6) + 0.0
           END AS distinct_estimate
    FROM agg
    """


def _hll_sql(d) -> str:
    regs = _hll_registers_sql(d, d["pdocs"])
    return _hll_estimate_sql(f"({regs})")


_HLL_SPARK, _HLL_DUCK = _dual(_hll_sql)


@register("hll_distinct", _HLL_DUCK)
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HyperLogLog distinct-vocabulary estimate from
    engine-identical md5-derived registers (see section comment for the
    bucket/rank/exact-power-sum construction and why the built-in approx
    sketches can't be oracle-checked). Linear-counting correction below
    2.5·m, raw HLL above.

    Scale shape: one explode → a (source, bucket) MAX aggregation whose
    state is ≤ 4096 rows per source with map-side partials (the token
    stream never shuffles — only per-partition register partials), then
    a source-bounded fold. The register relation is the mergeable
    sketch: MAX-combine across any partitioning, batch, or ingest
    increment."""
    return _spark_docs(spark, sf_dir, _HLL_SPARK)


# --------------------------------------------------------------------------
# cms_heavy_hitters: count-min sketch point queries (round 9) — the
# second mergeable sketch beside hll_distinct. The CMS cell table is
# d=4 rows × w=4096 buckets of SUM-mergeable counters (4 md5 hex-char
# windows as the pairwise-independent-enough hash family — the minhash
# digest-window device), so per-term frequency point queries at 100 TB
# never materialize the vocabulary relation: estimate = MIN over the 4
# row cells, guaranteed ≥ the true count and ≤ true + (e/w)·N with
# probability 1 - e^-4 per query. The registered entry builds the
# sketch and point-queries it for the exact top-32 terms (deterministic
# rank tiebreak), emitting exact vs estimate so the one-sided guarantee
# is value-checked cross-engine on every gate run.
# --------------------------------------------------------------------------

_CMS_D = 4
_CMS_TOPK = 32


def _cms_sql(d) -> str:
    spark = d is _SPARK_D
    toks = (
        "SELECT tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
        if spark
        else "SELECT u.term FROM w, unnest(w.ws) AS u(term)"
    )
    if spark:
        rows_unpivot = (
            "LATERAL VIEW stack(" + str(_CMS_D) + ", "
            + ", ".join(
                f"{i}, SUBSTR(m, {i + 1}, 3)" for i in range(_CMS_D)
            )
            + ") t AS i, b"
        )
        cells_src = f"SELECT i, b FROM h {rows_unpivot}"
    else:
        structs = ", ".join(
            f"{{'i': {i}, 'b': SUBSTR(m, {i + 1}, 3)}}" for i in range(_CMS_D)
        )
        cells_src = f"SELECT unnest([{structs}], recursive := true) FROM h"
    return f"""
    WITH w AS (SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']}),
    toks AS ({toks}),
    h AS (SELECT term, md5(term) AS m FROM toks),
    cells AS (SELECT i, b, COUNT(*) AS c FROM ({cells_src}) z GROUP BY i, b),
    tf AS (SELECT term, COUNT(*) AS exact_c FROM toks GROUP BY term),
    top AS (
      SELECT term, exact_c,
             ROW_NUMBER() OVER (ORDER BY exact_c DESC, term ASC) AS rk
      FROM tf
    ),
    cand AS (SELECT term, exact_c, rk, md5(term) AS m
             FROM top WHERE rk <= {_CMS_TOPK}),
    est AS (
      SELECT cand.term, cand.exact_c, cand.rk, MIN(cells.c) AS cms_c
      FROM cand JOIN cells
        ON cells.b = SUBSTR(cand.m, cells.i + 1, 3)
      GROUP BY cand.term, cand.exact_c, cand.rk
    )
    SELECT CAST(rk AS BIGINT) AS rank, term,
           CAST(exact_c AS BIGINT) AS exact_c,
           CAST(cms_c AS BIGINT) AS cms_c,
           CAST(cms_c - exact_c AS BIGINT) AS overestimate
    FROM est
    """


_CMS_SPARK, _CMS_DUCK = _dual(_cms_sql)


@register("cms_heavy_hitters", _CMS_DUCK)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + point queries for the exact top-32 terms
    (see section comment). overestimate = cms_c - exact_c is emitted so
    the one-sided guarantee (always ≥ 0, small with high probability) is
    part of the value-hashed result.

    Scale shape: the sketch aggregation carries ≤ d·w = 16,384 cells of
    state with map-side partials — the token stream never shuffles, and
    cells are SUM-mergeable across partitions, batches and ingest
    increments (the CMS property the operator exists for). The top-k
    candidate pass is the vocab-bounded tfidf device; the probe join
    touches 4 cells per candidate."""
    return _spark_docs(spark, sf_dir, _CMS_SPARK)


# --------------------------------------------------------------------------
# ks_drift: exact two-sample Kolmogorov-Smirnov between sources over the
# document-length distribution (round 9) — the SHAPE-drift diagnostic
# beside source_kl's token-distribution KL: a crawl increment whose docs
# got systematically truncated moves KS on length long before the token
# mix shifts. D = max_v |F_a(v) - F_b(v)| computed EXACTLY: the step
# functions are integer cumulative counts on the pooled distinct-length
# grid, and |c_a·n_b - c_b·n_a| stays integer until the single final
# division — no float comparison ambiguity anywhere in the max. The
# grid is (sources × distinct lengths) via ONE equality join + a
# per-source window cumsum (the inequality-join form would be
# O(|lengths|²) at scale; measured equal, structurally replaced).
# ks_scaled = sqrt(n_a·n_b/(n_a+n_b))·D is the asymptotic
# Kolmogorov-distributed statistic (1.36 ≈ the 5% critical value).
#
# Integer-range bound (ADVICE r9): the cross-product deviation
# |c_a·n_b - c_b·n_a| ≤ n_a·n_b must fit int64, which holds while
# n_a·n_b < 2^63 — i.e. up to ~3.0e9 DOCS PER SOURCE (≈9.2e18 product).
# At the 100 TB design point that is ~30 KB/doc × 3e9 = 90 TB per single
# source, so a realistically-sharded corpus (sources = crawls/dumps)
# stays exact with ≥10× headroom; a degenerate one-source-holds-
# everything layout at >3e9 tiny docs would silently wrap under
# non-ANSI Spark. If that regime ever matters, compute the deviation as
# |CAST(ca AS DOUBLE)·n_b - CAST(cb AS DOUBLE)·n_a| — D keeps ~6
# significant digits past the exact range instead of wrapping.
# --------------------------------------------------------------------------


def _ks_sql(d) -> str:
    # plain `documents`, NOT the documents_par spread view: the per-doc
    # work is one size(split(text)) — scan-bound, no explode — so the
    # spread's repartition ships the full text column through an exchange
    # for nothing. A/B (FLOOR.md §r10): plain wins 0.63 vs 1.11 s at
    # sf0.1, 1.76 vs 2.35 s at sf1, ties at sf10; at cluster scale scan
    # parallelism comes from file splits anyway.
    return f"""
    WITH docs AS (SELECT doc_id, source, {d['len'](d['split']('text'))} AS v
                  FROM documents),
    cnt AS (SELECT source, v, COUNT(*) AS c FROM docs GROUP BY source, v),
    n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY source),
    vals AS (SELECT DISTINCT v FROM cnt),
    grid AS (
      SELECT source, v,
             CAST(SUM(c) OVER (PARTITION BY source ORDER BY v) AS BIGINT)
               AS c_le
      FROM (
        SELECT s.source, vals.v, COALESCE(cnt.c, 0) AS c
        FROM (SELECT DISTINCT source FROM cnt) s
        CROSS JOIN vals
        LEFT JOIN cnt ON cnt.source = s.source AND cnt.v = vals.v
      ) filled
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, a.v,
             a.c_le AS ca, b.c_le AS cb, na.n AS n_a, nb.n AS n_b
      FROM grid a
      JOIN grid b ON a.v = b.v AND a.source < b.source
      JOIN n na ON na.source = a.source
      JOIN n nb ON nb.source = b.source
    )
    SELECT source_a, source_b,
           CAST(MAX(n_a) AS BIGINT) AS n_a, CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(MAX(ABS(ca * n_b - cb * n_a)) AS DOUBLE)
             / (CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE)) AS ks_stat,
           ROUND(SQRT(CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE)
                      / (CAST(MAX(n_a) AS DOUBLE) + CAST(MAX(n_b) AS DOUBLE)))
                 * CAST(MAX(ABS(ca * n_b - cb * n_a)) AS DOUBLE)
                 / (CAST(MAX(n_a) AS DOUBLE) * CAST(MAX(n_b) AS DOUBLE)), 6)
             + 0.0 AS ks_scaled
    FROM pairs
    GROUP BY source_a, source_b
    """


_KS_SPARK, _KS_DUCK = _dual(_ks_sql)


@register("ks_drift", _KS_DUCK)
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise exact two-sample KS over per-source document-length
    distributions (see section comment): integer step functions on the
    pooled length grid, integer cross-multiplied deviations, one final
    division — D is exact, not a float-max artifact.

    Scale shape: one per-source length count (map-side partials,
    vocab-of-lengths-sized), a sources × distinct-lengths grid via
    equality join + window cumsum (never an inequality join), and a
    pair self-join whose row count is pairs × distinct lengths — all
    relations are statistics-sized; the corpus is scanned once."""
    return _spark_docs(spark, sf_dir, _KS_SPARK)


# --------------------------------------------------------------------------
# source_kl: pairwise unigram KL divergence between sources (round 9) —
# the corpus-DRIFT diagnostic a curation pipeline runs between crawl
# increments / dumps: KL(a || b) over add-one-smoothed per-source unigram
# LMs says how surprising source a's token distribution is under source
# b's. Complements source_overlap (which measures VERBATIM near-dup
# leakage) with a distributional distance, and dsir_weights (target-vs-
# corpus log-ratio per DOC) with a source-pair-grain statistic.
#
# Exactness device: with Laplace smoothing p_s(t) = (c_s(t)+1)/(N_s+V),
# KL(a||b) = (1/(N_a+V)) * S where
#   S = Σ_{t in union(a,b)} (c_a(t)+1) * [l(c_a+1) - l(N_a+V)
#                                         - l(c_b+1) + l(N_b+V)]
#       + (V - |union|) * [l(N_b+V) - l(N_a+V)]
# and l(x) = ROUND(ln(x)*1e6) — integer micro-nat logs (the unigram_xent
# snap), so S is an exact order-independent BIGINT sum and the single
# final division is identical IEEE in both engines. The both-absent tail
# (terms in neither source) has the constant summand, hence the closed
# form — no corpus-wide vocab explode per pair.
# --------------------------------------------------------------------------


def _skl_ssc_sql(d) -> str:
    """The per-(source, term) count relation — ONE corpus explode pass."""
    unnest_toks = (
        "SELECT source, tok AS term FROM w LATERAL VIEW explode(ws) x AS tok"
        if d is _SPARK_D
        else "SELECT source, u.term FROM w, unnest(w.ws) AS u(term)"
    )
    # lc1 = the snapped micro-nat log of (c+1), computed ONCE per
    # (source, term) row here instead of per intersection-join row (the
    # join output is ~pairs-sharing-a-term x vocab — 19M ln calls at
    # sf0.1 before this hoist).
    lc1 = "CAST(ROUND(ln(c + 1) * 1000000.0, 0) AS BIGINT)"
    return f"""
    w AS (SELECT source, {d['split']('text')} AS ws FROM {d['pdocs']}),
    toks AS ({unnest_toks}),
    ssc_cnt AS (SELECT source, term, COUNT(*) AS c FROM toks
                GROUP BY source, term),
    ssc_raw AS (SELECT source, term, c, {lc1} AS lc1 FROM ssc_cnt)
    """


def _skl_body(ssc: str) -> str:
    """Everything downstream of the count relation ``ssc`` — dialect-free
    text shared verbatim by both engines.

    The naive per-pair union table is pairs x vocab rows through a
    DISTINCT and two joins (measured 1.34 s steady at sf0.1). The sum
    telescopes: over the union, sum(ca+1) + n0 = Na+V (a constant),
    sum((ca+1)*l(ca+1)) = Aa (per-source — terms outside a contribute
    l(1)=0), and sum((ca+1)*l(cb+1)) = Cab + Lb where only
    Cab = sum over a-intersect-b of ca*l(cb+1) is pairwise — ONE term
    equi-join with map-side partials; everything else is a source-grain
    scalar. The integers are identical by algebra (verified
    output-bit-equal to the union form). On the Spark side ``ssc`` is the
    session-materialized relation (CTE inlining would re-run the corpus
    explode once per reference — the quality_classifier design-matrix
    lesson). Headroom: the micro-nat quantized sums stay in int64 up to
    ~1e11 tokens per source; past that, rescale to deci-nats."""
    l = lambda x: f"CAST(ROUND(ln({x}) * 1000000.0, 0) AS BIGINT)"  # noqa: E731
    return f"""
    st AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS vterms,
             SUM((c + 1) * lc1) AS a_sum,
             SUM(lc1) AS l_sum
      FROM {ssc} GROUP BY source
    ),
    vv AS (SELECT COUNT(DISTINCT term) AS v FROM {ssc}),
    cab AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(COUNT(*) AS BIGINT) AS n_inter,
             SUM(a.c * b.lc1) AS cab_sum
      FROM {ssc} a JOIN {ssc} b ON b.term = a.term AND b.source != a.source
      GROUP BY a.source, b.source
    ),
    prs AS (
      SELECT a.source AS sa, a.n AS na, a.vterms AS va, a.a_sum,
             b.source AS sb, b.n AS nb, b.vterms AS vb, b.l_sum
      FROM st a JOIN st b ON a.source != b.source
    )
    SELECT p.sa AS source_a, p.sb AS source_b,
           p.na AS n_tokens_a, p.nb AS n_tokens_b,
           v.v AS vocab_size,
           p.va + p.vb - COALESCE(c.n_inter, 0) AS n_union_terms,
           ROUND(CAST(p.a_sum - (COALESCE(c.cab_sum, 0) + p.l_sum)
                      + ({l('p.nb + v.v')} - {l('p.na + v.v')})
                        * (p.na + v.v)
                      AS DOUBLE)
                 / (CAST(p.na + v.v AS DOUBLE)
                    * CAST(1000000.0 AS DOUBLE)), 6) + 0.0 AS kl_nats
    FROM prs p
    LEFT JOIN cab c ON c.sa = p.sa AND c.sb = p.sb
    CROSS JOIN vv v
    """


_SKL_DUCK = "WITH " + _skl_ssc_sql(_DUCK_D) + ", " + _skl_body("ssc_raw")


@register("source_kl", _SKL_DUCK)
def source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: pairwise unigram KL divergence between sources over
    add-one-smoothed per-source LMs — the distributional drift diagnostic
    between crawl dumps. Vocab-absent terms enter through the telescoped
    closed form (see _skl_body), so the only pairwise relation is the
    term-intersection join.

    Scale shape: one corpus explode partial-aggregates to the per-source
    term counts, which materialize ONCE per session (_indexed — the
    relation is referenced by three consumers and CTE inlining would
    re-run the explode per reference); the intersection self-join carries
    map-side partials into a source-pair-bounded result. Source count is
    a catalog-scale constant; the token-grain relation never moves
    twice."""
    _register_docs(spark, sf_dir)
    _indexed(
        spark,
        f"skl_ssc|{sf_dir}",
        "WITH " + _skl_ssc_sql(_SPARK_D) + " SELECT * FROM ssc_raw",
    ).createOrReplaceTempView("skl_ssc")
    return spark.sql("WITH " + _skl_body("skl_ssc"))


# --------------------------------------------------------------------------
# DSIR-style importance weights — data selection toward a target domain
# (Xie et al. 2023, "Data Selection via Importance Resampling", with the
# standard unigram simplification of the hashed-ngram features).
# --------------------------------------------------------------------------

# The target domain whose distribution selection steers toward. In a real
# pipeline this is the high-quality slice (e.g. an encyclopedia crawl); the
# fixture's `source` column plays that role.
_DSIR_TARGET = "src0"


def _dsir_sql(d) -> str:
    # Per-doc log importance weight under add-1-smoothed unigram LMs:
    #   logw(doc) = Σ_tokens [ ln p_tgt(w) − ln p_raw(w) ]
    #   p_tgt(w) = (c_tgt(w)+1)/(T_tgt+V),  p_raw(w) = (c_raw(w)+1)/(T_raw+V)
    # which splits into a per-TERM part, ln(c_tgt+1) − ln(c_raw+1), and a
    # per-TOKEN normalizer, ln(T_raw+V) − ln(T_tgt+V). Each ln is libm →
    # snapped to integer micro-nats (ROUND(.*1e6), xent's device) so the
    # per-doc sum Σ tf·lr_part is exact BIGINT arithmetic —
    # order-independent and bit-identical across engines; the emitted nats
    # carry the usual ROUND(.,6)+0.0. `more_target_like` compares the raw
    # integer sum to zero, so the boolean can never diverge on a rounding
    # boundary. The normalizer is FOLDED INTO lr_part via whole-relation
    # window totals over the vocab-sized relation: referencing vocab from a
    # separate scalar subquery would re-inline (re-explode) the corpus CTE
    # a third time under Spark — a whole extra corpus pass at scale — while
    # the window costs one single-partition exchange of ~vocab rows.
    unnest_toks = (
        "SELECT doc_id, source, tok AS term FROM w"
        " LATERAL VIEW explode(ws) x AS tok"
        if d is _SPARK_D
        else "SELECT doc_id, source, u.term FROM w, unnest(w.ws) AS u(term)"
    )
    is_tgt = f"source = '{_DSIR_TARGET}'"
    if d is _SPARK_D:
        # unigram_xent's broadcast-vocab shape: tf aggregates exchange-free
        # on the spread view's doc clustering and NEVER moves; the vocab
        # branch re-runs the cheap scan→split→explode (scheduled
        # concurrently) and partial-aggregates to per-partition-distinct
        # terms before its only exchange; the per-term log-ratio relation
        # (vocab-sized) broadcast-joins back onto the doc-clustered tf.
        counted = f"""
    toks AS ({unnest_toks}),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    vocab AS (SELECT term, COUNT(*) AS c_raw,
                     SUM(CASE WHEN {is_tgt} THEN 1 ELSE 0 END) AS c_tgt
              FROM toks GROUP BY term),
    lr AS (SELECT term,
                  CAST(ROUND(ln(c_tgt + 1) * 1000000.0, 0) AS BIGINT)
                - CAST(ROUND(ln(c_raw + 1) * 1000000.0, 0) AS BIGINT)
                + CAST(ROUND(ln(SUM(c_raw) OVER () + COUNT(*) OVER ())
                             * 1000000.0, 0) AS BIGINT)
                - CAST(ROUND(ln(SUM(c_tgt) OVER () + COUNT(*) OVER ())
                             * 1000000.0, 0) AS BIGINT) AS lr_part
           FROM vocab),
    counted AS (SELECT /*+ BROADCAST(lr) */ tf.doc_id, tf.tf, lr.lr_part
                FROM tf JOIN lr ON lr.term = tf.term)"""
    else:
        counted = f"""
    toks AS ({unnest_toks}),
    tfd AS (SELECT doc_id, source, term, COUNT(*) AS tf
            FROM toks GROUP BY doc_id, source, term),
    vocab AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c_raw,
                     CAST(SUM(CASE WHEN {is_tgt} THEN tf ELSE 0 END)
                          AS BIGINT) AS c_tgt
              FROM tfd GROUP BY term),
    lr AS (SELECT term,
                  CAST(ROUND(ln(c_tgt + 1) * 1000000.0, 0) AS BIGINT)
                - CAST(ROUND(ln(c_raw + 1) * 1000000.0, 0) AS BIGINT)
                + CAST(ROUND(ln(SUM(c_raw) OVER () + COUNT(*) OVER ())
                             * 1000000.0, 0) AS BIGINT)
                - CAST(ROUND(ln(SUM(c_tgt) OVER () + COUNT(*) OVER ())
                             * 1000000.0, 0) AS BIGINT) AS lr_part
           FROM vocab),
    counted AS (SELECT tfd.doc_id, tfd.tf, lr.lr_part
                FROM tfd JOIN lr ON lr.term = tfd.term)"""
    return f"""
    WITH w AS (SELECT doc_id, source, {d['split']('text')} AS ws
               FROM {d['pdocs']}),
    {counted}
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(tf * lr_part) AS DOUBLE) / 1000000.0, 6)
             + 0.0 AS logw_nats,
           ROUND(CAST(SUM(tf * lr_part) AS DOUBLE) / 1000000.0 / SUM(tf), 6)
             + 0.0 AS avg_logw_nats,
           SUM(tf * lr_part) > 0 AS more_target_like
    FROM counted
    GROUP BY doc_id
    """


_DSIR_SPARK, _DSIR_DUCK = _dual(_dsir_sql)


@register("dsir_weights", _DSIR_DUCK)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weight per document (Xie et al. 2023, unigram
    features): the log-likelihood ratio of the doc under an add-1-smoothed
    unigram LM of the TARGET domain (source = 'src0') vs the raw-corpus LM.
    Docs with positive log-weight look more like the target than the
    average corpus doc — the resampling stage keeps docs with probability
    ∝ exp(logw). Emits total and per-token log-weights plus the exact-sign
    `more_target_like` flag; ranking/resampling composes downstream (e.g.
    with stratified_sample's deterministic LCG uniform).

    Spark plan is unigram_xent's single-corpus-pass shape: the tf relation
    aggregates on the spread view's doc clustering and never moves, the
    per-term log-ratio relation is vocab-sized and broadcasts back
    (_vocab_sql strips the hint past _VOCAB_BCAST_DOCS_BYTES), and the
    LM normalizers fold into the per-term relation as whole-relation
    window totals over vocab — not a scalar subquery, which would
    re-inline (re-explode) the corpus CTE for a third pass. Token
    ln-probabilities are snapped to integer micro-nats and summed exactly,
    so every emitted value — including the sign flag — is bit-identical
    across engines and partitionings."""
    return _spark_docs(spark, sf_dir, _vocab_sql(sf_dir, _DSIR_SPARK))

# --------------------------------------------------------------------------
# dsir_resample: the RESAMPLING stage of DSIR (round 9) — Xie et al. 2023
# select the training subset by sampling WITHOUT replacement with
# probability ∝ exp(logw), which is exactly Gumbel-top-k: draw one Gumbel
# per doc, add it to the log-weight, keep the top K keys. The engine form
# is fully deterministic: the Gumbel comes from the per-doc LCG uniform
# (detrand salt 29) through -ln(-ln(u)), snapped to integer micro-nats so
# the selection ORDER is an exact integer compare (logw is already
# micro-snapped) with a doc_id tiebreak — the chosen SET can never diverge
# between engines or partitionings. K = ceil(n/4) of the weighted docs
# (the paper's "select a fixed budget from the raw pool" posture; the
# budget knob is the one a pipeline overrides).
# --------------------------------------------------------------------------

_DSIR_RESAMPLE_SALT = 29
_DSIR_KEEP_DEN = 4  # keep ceil(n/4)


def _dsir_keyed_tail(dsir_rel: str) -> str:
    """The Gumbel-keyed projection over a dsir-weights relation —
    dialect-free, shared verbatim."""
    u = lcg_uniform_sql("doc_id", salt=_DSIR_RESAMPLE_SALT)
    return f"""
    SELECT doc_id, n_tokens, logw_nats, more_target_like,
           CAST(ROUND(logw_nats * 1000000.0, 0) AS BIGINT)
           + CAST(ROUND(-ln(-ln({u})) * 1000000.0, 0) AS BIGINT)
             AS key_micro
    FROM {dsir_rel}
    """


# The budget is defined over the RAW pool (every documents row, NULL
# texts included): K = ceil(raw/4) is then a catalog/footer scalar in
# both engines — no counting job, one execution of the weights plan.
_DSIR_RESAMPLE_DUCK = f"""
    WITH dsir AS ({_DSIR_DUCK}),
    keyed AS ({_dsir_keyed_tail('dsir')}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY key_micro DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, n_tokens, logw_nats, more_target_like,
           CAST(key_micro AS DOUBLE) / 1000000.0 AS gumbel_key
    FROM ranked
    WHERE rn <= CAST(CEIL((SELECT CAST(COUNT(*) AS DOUBLE) FROM documents)
                          / {_DSIR_KEEP_DEN}) AS BIGINT)
    """


@register("dsir_resample", _DSIR_RESAMPLE_DUCK)
def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: DSIR's selection step realized — Gumbel-top-k sampling
    without replacement with probability ∝ exp(logw) over the
    dsir_weights relation (see section comment; deterministic LCG Gumbels,
    integer micro-nat keys, doc_id tiebreak). Returns the selected quarter
    of the weighted pool with its keys — the training-subset manifest the
    paper's resampler emits.

    Scale shape: dsir_weights' one-corpus-pass plan feeds a doc-level
    relation; K = ceil(raw_docs/4) comes from the parquet footers (no
    counting job) and the selection is ORDER BY LIMIT K = TakeOrdered —
    per-partition heaps + one K-row merge, no global sort, no
    single-partition window, one execution of the weights plan. The
    oracle twin expresses the same K via a scalar COUNT over the
    doc-grain relation, fine in-process."""
    import uuid

    from ..sources import table_rows

    k = -(-table_rows(sf_dir, "documents") // _DSIR_KEEP_DEN)
    dsir = dsir_weights(spark, sf_dir)
    view = f"_dsir_w_{uuid.uuid4().hex[:12]}"
    dsir.createOrReplaceTempView(view)
    keyed = spark.sql(_dsir_keyed_tail(view))
    out = (
        keyed.orderBy(keyed.key_micro.desc(), keyed.doc_id.asc())
        .limit(int(k))
        .selectExpr(
            "doc_id",
            "n_tokens",
            "logw_nats",
            "more_target_like",
            "CAST(key_micro AS DOUBLE) / 1000000.0 AS gumbel_key",
        )
    )
    spark.catalog.dropTempView(view)
    return out
