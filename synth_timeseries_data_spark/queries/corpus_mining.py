"""Corpus-mining operators, round 8 (EXT surface, first-class at 100 TB):
winnowing fingerprints, the full Gopher repetition suite, line-grain
corpus dedup, embedding k-means, and tokenizer statistics.

These complete two families the earlier EXT rounds opened:

- the DEDUP GRAIN ladder — doc grain (minhash/simhash/embed), span grain
  (dedup_spans), and now LINE grain (`line_dedup`, the C4/CCNet move) plus
  document FINGERPRINT SELECTION (`winnowing`, Schleimer et al. SIGMOD'03
  — the MOSS scheme; local fingerprinting is what an incremental dedup
  service stores instead of full shingle sets);
- the QUALITY GATE ladder — gopher_rules covers the document-shape gates;
  `gopher_repetition` adds the paper's repetition table (top-n-gram and
  duplicate-n-gram coverage, duplicate-line fractions) that Gopher,
  RefinedWeb and Dolma all apply before any model-based scoring;
- plus `kmeans_embed` (explicit Lloyd clustering over the embedding
  column — the coarse structure semdedup/vec_topk_ivf consume as a given,
  here produced as a first-class, oracle-checked relation),
  `tokenizer_stats` (per-language fertility/compression of the BPE
  surface — the metric tokenizer training actually reads),
  `quality_classifier` (an in-engine TRAINED model-based quality filter:
  integer-state logistic regression on hashing-trick features whose five
  training rounds are bit-identical across engines), and `doc_embed`
  (hashing-trick document vectors — the featurization bridge into the
  embedding-space family).

Design rules are inherited from llm_pipeline.py / corpus_ext.py: every
operator is a dialect-shared SQL template (Spark + DuckDB oracle) unless
the Spark side has a measurably better zero-shuffle form (then the oracle
keeps the independent relational form, the repetition_ratio precedent);
ratios are exact-integer quotients emitted as raw doubles; sums feeding
decisions accumulate as FLOOR-micro bigints; every ordering carries a
unique-key tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import _DUCK_D, _SPARK_D, _dual, register
from .llm_pipeline import _spark_docs

# --------------------------------------------------------------------------
# winnowing: MOSS fingerprint selection (Schleimer, Wilkerson, Aiken 2003).
# k-gram rolling hashes, sliding window of w hash positions, select each
# window's minimum — the guarantee: any shared run of w+k-1 tokens between
# two documents shares at least one selected fingerprint, while only
# ~2/(w+1) of positions are stored. This is the sub-quadratic storage side
# of exact-substring dedup: dedup_spans compares ALL run hashes; a serving
# index stores only winnowed fingerprints.
# --------------------------------------------------------------------------

_WIN_K = 5  # tokens per k-gram
_WIN_W = 4  # hashes per winnowing window
# position packed into the low 24 bits of the composite (docs are capped at
# 2^24 gram positions ≈ 16.7M tokens per document — far above any training
# document; the cap is a documented constant, not a silent truncation)
_WIN_POS = 1 << 24


def _winnowing_sql(d, where: "str | None" = None, src: "str | None" = None) -> str:
    # The rightmost-min tiebreak is ENCODED IN THE VALUE: the composite
    # v = h36 * 2^24 + (2^24 - 1 - i) — 36-bit hash + 24-bit position =
    # 60 bits, no int64 overflow — is strictly decreasing in i for equal
    # hashes, so MIN(v) over a window IS the rightmost minimal hash and no
    # separate argmin machinery (or engine-specific min_by tie rule) is
    # needed. v is unique per (doc, i), so window minima are unambiguous
    # and both engines decode identical (fp, pos) pairs from identical v.
    ws = d["split"]("text")
    gram = d["joinarr"](d["slice"]("ws", "i", _WIN_K))
    h36 = d["hex2int"](f"SUBSTR(md5({gram}), 1, 9)")
    idiv = d["idiv"]
    pred = f" AND ({where})" if where else ""
    return f"""
    WITH w AS (
      SELECT doc_id, {ws} AS ws FROM {src or d['pdocs']}
      WHERE text IS NOT NULL AND {d['len'](ws)} >= {_WIN_K}{pred}
    ),
    pos AS (SELECT doc_id, ws, {d['len']('ws')} - {_WIN_K - 1} AS n,
                   {d['expand']('1', d['len']('ws') + f' - {_WIN_K - 1}')} AS i
            FROM w),
    hv AS (
      SELECT doc_id, i, n,
             {h36} * {_WIN_POS} + ({_WIN_POS - 1} - i) AS v
      FROM pos
    ),
    wm AS (
      SELECT doc_id, i, n,
             MIN(v) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN {_WIN_W - 1} PRECEDING
                          AND CURRENT ROW) AS wv
      FROM hv
    )
    SELECT DISTINCT doc_id,
           CAST(wv {idiv} {_WIN_POS} AS BIGINT) AS fp,
           CAST({_WIN_POS - 1} - (wv % {_WIN_POS}) AS INT) AS pos
    FROM wm
    WHERE i >= {_WIN_W} OR i = n
    """


_WINNOW_SPARK, _WINNOW_DUCK = _dual(_winnowing_sql)


@register("winnowing", _WINNOW_DUCK)
def winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: winnowing document fingerprints (Schleimer et al.,
    SIGMOD 2003 — the MOSS scheme). Token 5-gram hashes, sliding window
    of 4; each window's minimum hash is selected, rightmost-min on ties
    (encoded arithmetically in the composite value, see the template
    comment), yielding the guarantee that any w+k-1 = 8-token run shared
    between two documents shares a selected fingerprint while only
    ~2/(w+1) = 40% of positions are stored. Documents shorter than one
    full window emit the minimum over their partial window (coverage for
    short docs); documents under k tokens have no k-grams and emit
    nothing. Returns the fingerprint relation (doc_id, fp, pos) — what a
    dedup serving index persists instead of full shingle sets.

    Scale shape: one position explode (linear in tokens), ONE doc-keyed
    window exchange (per-doc sort by position; skew bound = longest
    single document, the same bound dedup_spans' rebuild carries), and
    the final DISTINCT runs WITHOUT a second exchange — doc_id hash
    partitioning already co-locates every (doc_id, v) group, which
    Catalyst recognizes (plan-asserted in tests/test_plans.py). Nothing
    is corpus-quadratic; fingerprint volume is ~0.4× gram volume."""
    return _spark_docs(spark, sf_dir, _WINNOW_SPARK)


# --------------------------------------------------------------------------
# gopher_repetition: the Gopher repetition-filter table (Rae et al. 2021,
# Table A1) — the within-document repetition signals applied alongside
# gopher_rules' shape gates. Thresholds are the paper's: duplicate-line
# fraction <= 0.30, duplicate-line character fraction <= 0.20, top
# {2,3,4}-gram character fractions <= {0.20, 0.18, 0.16}, duplicate
# {5,10}-gram coverage <= {0.15, 0.10}. Two documented variants vs the
# paper's prose: n-gram "characters" count the space-joined gram string
# (top-gram char mass = count x length, which can exceed 1 on pathological
# repetition — the standard open implementations' definition), and
# duplicate-n-gram coverage is measured at TOKEN grain (fraction of token
# positions inside any occurrence of a within-doc repeated n-gram,
# overlap-unioned — the exact-coverage discipline dedup_spans uses).
# --------------------------------------------------------------------------


def _seq1(size_expr: str) -> str:
    """1..size as an array, EMPTY when size = 0 (Spark's sequence(1, 0)
    yields a DESCENDING [1, 0], not [] — this guard is load-bearing)."""
    return f"IF({size_expr} = 0, array(), sequence(1, {size_expr}))"


_BL = "CAST({} AS BIGINT)"


def _mode_char_mass(garr: str) -> str:
    """Fold over the SORTED gram array -> char mass (count x char length)
    of the modal gram; ties go to the lexicographically smallest gram
    (strictly-greater update over an ascending sort). Zero-shuffle: the
    whole mode computation is one O(m log m) per-row expression."""
    one, zero = _BL.format(1), _BL.format(0)
    upd = f"IF(x <=> acc.prev, acc.run + {one}, {one})"
    return (
        f"aggregate(array_sort({garr}), "
        f"named_struct('prev', CAST(NULL AS STRING), 'run', {zero}, "
        f"'best', {zero}, 'bestg', CAST(NULL AS STRING)), "
        f"(acc, x) -> named_struct('prev', x, 'run', {upd}, "
        f"'best', GREATEST({upd}, acc.best), "
        f"'bestg', IF({upd} > acc.best, x, acc.bestg)), "
        f"acc -> IF(acc.best > 0, "
        f"acc.best * CAST(LENGTH(acc.bestg) AS BIGINT), {zero}))"
    )


def _struct_sort(garr: str) -> str:
    """(gram, pos) structs sorted by (g, i) — MATERIALIZED AS A COLUMN by
    the caller before _dup_starts reads it: inlining this expression into
    the neighbor-flag lambda re-evaluates the full sort per element
    (measured: 15.3 s steady at sf0.1 for the inlined form vs sub-second
    materialized — exactly the quadratic the sort exists to avoid;
    Spark does not CSE across nested higher-order functions)."""
    return (
        f"array_sort(transform({_seq1(f'size({garr})')}, "
        f"i -> named_struct('g', element_at({garr}, i), 'i', i)))"
    )


def _dup_starts(spx: str) -> str:
    """Sorted start positions of grams occurring >= 2 times, from a
    PRE-SORTED struct column ``spx`` (see _struct_sort): flag entries
    equal to a neighbor, collect their positions. O(m log m) per row, no
    quadratic membership scan."""
    return (
        f"array_sort(filter(transform({_seq1(f'size({spx})')}, j -> "
        f"IF((j > 1 AND element_at({spx}, j).g = element_at({spx}, j - 1).g) "
        f"OR (j < size({spx}) AND element_at({spx}, j).g = "
        f"element_at({spx}, j + 1).g), element_at({spx}, j).i, "
        f"CAST(NULL AS INT))), x -> x IS NOT NULL))"
    )


def _interval_union(starts_arr: str, n: int) -> str:
    """Union length of [i, i+n-1] intervals over SORTED starts — the
    classic end-pointer sweep as one fold (exact overlap handling)."""
    zero, one = _BL.format(0), _BL.format(1)
    end = f"CAST(i + {n - 1} AS BIGINT)"
    return (
        f"aggregate({starts_arr}, named_struct('e', {zero}, 'c', {zero}), "
        f"(acc, i) -> named_struct('e', GREATEST(acc.e, {end}), "
        f"'c', acc.c + GREATEST({zero}, "
        f"{end} - GREATEST(CAST(i AS BIGINT), acc.e + {one}) + {one})), "
        f"acc -> acc.c)"
    )


_GREP_NS_TOP = (2, 3, 4)
_GREP_NS_DUP = (5, 10)
_GREP_LIMITS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top2_char_frac": 0.20,
    "top3_char_frac": 0.18,
    "top4_char_frac": 0.16,
    "dup5_tok_frac": 0.15,
    "dup10_tok_frac": 0.10,
}


def _grep_tail() -> str:
    """Shared final projection: ok_* flags + keep from the raw fractions."""
    oks = ",\n           ".join(
        f"{c} <= {lim} AS ok_{c.split('_frac')[0]}"
        for c, lim in _GREP_LIMITS.items()
    )
    keep = " AND ".join(f"{c} <= {lim}" for c, lim in _GREP_LIMITS.items())
    return f"""
    SELECT doc_id, n_words, n_lines,
           dup_line_frac, dup_line_char_frac,
           top2_char_frac, top3_char_frac, top4_char_frac,
           dup5_tok_frac, dup10_tok_frac,
           {oks},
           {keep} AS keep
    FROM fr
    """


def _gopher_repetition_sql(d) -> str:
    # Spark folds every signal per row with higher-order functions (zero
    # shuffle); the oracle keeps the independent explode + GROUP BY +
    # window relational form (the repetition_ratio precedent).
    if d is _SPARK_D:
        grams = {
            n: (
                f"IF(size(ws) >= {n}, "
                f"transform({_seq1(f'size(ws) - {n - 1}')}, "
                f"i -> array_join(slice(ws, i, {n}), ' ')), array())"
            )
            for n in _GREP_NS_TOP + _GREP_NS_DUP
        }
        dupline_ch = (
            "aggregate(array_sort(lines), "
            "named_struct('prev', CAST(NULL AS STRING), "
            f"'ch', {_BL.format(0)}), "
            "(acc, x) -> named_struct('prev', x, 'ch', acc.ch + "
            f"IF(x <=> acc.prev, CAST(LENGTH(x) AS BIGINT), "
            f"{_BL.format(0)})), acc -> acc.ch)"
        )
        gcols = ",\n             ".join(
            f"{g} AS g{n}" for n, g in grams.items()
        )
        spcols = ",\n             ".join(
            f"{_struct_sort(f'g{n}')} AS sp{n}" for n in _GREP_NS_DUP
        )
        dcols = ",\n             ".join(
            f"{_dup_starts(f'sp{n}')} AS d{n}" for n in _GREP_NS_DUP
        )
        tops = ",\n           ".join(
            f"CAST({_mode_char_mass(f'g{n}')} AS DOUBLE) / nch "
            f"AS top{n}_char_frac"
            for n in _GREP_NS_TOP
        )
        covs = ",\n           ".join(
            f"CAST({_interval_union(f'd{n}', n)} AS DOUBLE) / n_words "
            f"AS dup{n}_tok_frac"
            for n in _GREP_NS_DUP
        )
        return f"""
    WITH t AS (
      SELECT doc_id, split(text, ' ') AS ws, split(text, '\\n') AS lines,
             CAST(GREATEST(LENGTH(text), 1) AS BIGINT) AS nch
      FROM {d['pdocs']} WHERE text IS NOT NULL
    ),
    g AS (
      SELECT doc_id, nch, lines,
             CAST(size(ws) AS BIGINT) AS n_words,
             {gcols}
      FROM t
    ),
    sp AS (
      SELECT doc_id, nch, lines, n_words, g2, g3, g4,
             {spcols}
      FROM g
    ),
    du AS (
      SELECT doc_id, nch, lines, n_words, g2, g3, g4,
             {dcols}
      FROM sp
    ),
    fr AS (
      SELECT doc_id, n_words,
           CAST(size(lines) AS BIGINT) AS n_lines,
           CAST(size(lines) - size(array_distinct(lines)) AS DOUBLE)
             / size(lines) AS dup_line_frac,
           CAST({dupline_ch} AS DOUBLE) / nch AS dup_line_char_frac,
           {tops},
           {covs}
      FROM du
    )
    {_grep_tail()}
    """
    # DuckDB oracle: the independent RELATIONAL form — explode grams and
    # lines, GROUP BY counts, window mode pick, distinct-position coverage.
    gctes = []
    for n in _GREP_NS_TOP + _GREP_NS_DUP:
        gctes.append(
            f"""g{n} AS (
      SELECT doc_id, i,
             {d['joinarr'](d['slice']('ws', 'i', n))} AS g
      FROM t, unnest(generate_series(1, len(ws) - {n - 1})) AS u(i)
      WHERE len(ws) >= {n}
    )"""
        )
    tops = []
    for n in _GREP_NS_TOP:
        gctes.append(
            f"""t{n} AS (
      SELECT doc_id, c * LENGTH(g) AS chtop FROM (
        SELECT doc_id, g, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY COUNT(*) DESC, g ASC) AS rn
        FROM g{n} GROUP BY doc_id, g
      ) WHERE rn = 1
    )"""
        )
        tops.append(
            f"CAST(COALESCE(t{n}.chtop, 0) AS DOUBLE) / b.nch "
            f"AS top{n}_char_frac"
        )
    covs = []
    for n in _GREP_NS_DUP:
        gctes.append(
            f"""c{n} AS (
      SELECT doc_id, COUNT(DISTINCT i + j) AS cov
      FROM (SELECT g.doc_id, g.i FROM g{n} g
            JOIN (SELECT doc_id, g FROM g{n}
                  GROUP BY doc_id, g HAVING COUNT(*) >= 2) dd
              ON dd.doc_id = g.doc_id AND dd.g = g.g),
           unnest(generate_series(0, {n - 1})) AS ju(j)
      GROUP BY doc_id
    )"""
        )
        covs.append(
            f"CAST(COALESCE(c{n}.cov, 0) AS DOUBLE) / b.n_words "
            f"AS dup{n}_tok_frac"
        )
    joins = "\n    ".join(
        f"LEFT JOIN t{n} ON t{n}.doc_id = b.doc_id" for n in _GREP_NS_TOP
    ) + "\n    " + "\n    ".join(
        f"LEFT JOIN c{n} ON c{n}.doc_id = b.doc_id" for n in _GREP_NS_DUP
    )
    return f"""
    WITH t AS (
      SELECT doc_id, str_split(text, ' ') AS ws,
             str_split(text, chr(10)) AS lines,
             CAST(GREATEST(LENGTH(text), 1) AS BIGINT) AS nch
      FROM documents WHERE text IS NOT NULL
    ),
    b AS (
      SELECT doc_id, nch, CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
               / len(lines) AS dup_line_frac
      FROM t
    ),
    lx AS (SELECT doc_id, l FROM t, unnest(lines) AS u(l)),
    ld AS (
      SELECT doc_id, SUM((c - 1) * LENGTH(l)) AS dupch
      FROM (SELECT doc_id, l, COUNT(*) AS c FROM lx GROUP BY doc_id, l)
      GROUP BY doc_id
    ),
    {','.join(gctes)},
    fr AS (
      SELECT b.doc_id, b.n_words, b.n_lines, b.dup_line_frac,
           CAST(COALESCE(ld.dupch, 0) AS DOUBLE) / b.nch
             AS dup_line_char_frac,
           {','.join(tops)},
           {','.join(covs)}
      FROM b
      LEFT JOIN ld ON ld.doc_id = b.doc_id
      {joins}
    )
    {_grep_tail()}
    """


_GREP_SPARK, _GREP_DUCK = _dual(_gopher_repetition_sql)

# The registered Spark form is the Arrow-batched mapInPandas below (the
# char_entropy zero-shuffle precedent): the SQL fold projection's
# interpreted higher-order functions (5 gram builds + 2 struct sorts + 3
# mode folds + 2 interval sweeps per row) lose to it at EVERY measured
# tier — interleaved A/B, same session: sf0.01 0.55 vs 0.29 s, sf0.1
# 0.78 vs 0.78 s (tie), sf1/50k docs 4.56 vs 0.75 s, sf10/500k docs 61 s
# vs 3.7 s (DuckDB's single-core explode form: 23.6 s) — so no size gate
# exists; the fold form is kept as the dialect-shared semantics artifact,
# pinned row-equal at 50k docs and on planted corpora
# (tests/test_corpus_mining.py), and the DuckDB oracle keeps the
# independent relational form: three independently-derived computations
# of the same table agree bit-exactly.
_GREP_SCHEMA = (
    "doc_id long, n_words long, n_lines long, dup_line_frac double, "
    "dup_line_char_frac double, top2_char_frac double, "
    "top3_char_frac double, top4_char_frac double, dup5_tok_frac double, "
    "dup10_tok_frac double, "
    + ", ".join(
        f"ok_{c.split('_frac')[0]} boolean" for c in _GREP_LIMITS
    )
    + ", keep boolean"
)


def _grep_doc_py(text: str) -> list:
    """One document's repetition row — integer-exact quotients, the same
    values the SQL fold form emits (python float division of ints is the
    identical IEEE double; python min() on ASCII/UTF-8 strings matches
    both engines' binary collation)."""
    from collections import Counter

    ws = text.split(" ")
    lines = text.split("\n")
    nch = max(len(text), 1)
    nw, nl = len(ws), len(lines)
    lc = Counter(lines)
    out = [
        nw,
        nl,
        (nl - len(lc)) / nl,
        sum((c - 1) * len(l) for l, c in lc.items() if c > 1) / nch,
    ]
    for n in (2, 3, 4):
        if nw >= n:
            gc = Counter(
                " ".join(ws[i : i + n]) for i in range(nw - n + 1)
            )
            bestc = max(gc.values())
            bestg = min(g for g, c in gc.items() if c == bestc)
            out.append(bestc * len(bestg) / nch)
        else:
            out.append(0.0)
    for n in (5, 10):
        grams = [" ".join(ws[i : i + n]) for i in range(max(nw - n + 1, 0))]
        gc = Counter(grams)
        cov, end = 0, 0
        for i, g in enumerate(grams, start=1):
            if gc[g] >= 2:
                hi = i + n - 1
                cov += max(0, hi - max(i, end + 1) + 1)
                end = max(end, hi)
        out.append(cov / nw)
    return out


def _grep_pandas(df: DataFrame) -> DataFrame:
    import pandas as pd

    fracs = list(_GREP_LIMITS)
    lims = _GREP_LIMITS

    def batch(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                rows.append([doc_id] + _grep_doc_py(text))
            if not rows:
                continue
            out = pd.DataFrame(
                rows,
                columns=["doc_id", "n_words", "n_lines"] + fracs,
            )
            oks = []
            for c in fracs:
                flag = "ok_" + c.split("_frac")[0]
                out[flag] = out[c] <= lims[c]
                oks.append(flag)
            out["keep"] = out[oks].all(axis=1)
            yield out

    return df.mapInPandas(batch, schema=_GREP_SCHEMA)


@register("gopher_repetition", _GREP_DUCK)
def gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: the Gopher REPETITION filter table (Rae et al. 2021,
    Table A1) — duplicate-line fraction and character fraction, top
    {2,3,4}-gram character fractions (char mass of the modal gram; ties
    break to the lexicographically smallest), and duplicate-{5,10}-gram
    coverage (fraction of token positions inside any occurrence of a
    within-doc repeated n-gram, overlap-unioned exactly via an interval
    sweep), each with its paper-threshold ok_* flag and the combined
    keep. Complements gopher_rules' shape gates; together they are the
    full Gopher quality pre-filter.

    Scale shape: the Spark side is a ZERO-SHUFFLE projection (the
    repetition_ratio precedent taken further) — mode counts, duplicate
    detection, and interval unions all run as O(m log m) per-row
    array_sort + fold expressions, so the corpus is scanned once and
    nothing exchanges at any scale; the DuckDB oracle keeps the
    independent explode + GROUP BY + window relational form as the
    semantics check. Every fraction is an exact-integer quotient emitted
    as a raw double (bit-identical across engines and across the
    python/SQL-fold/duck triple).

    Scale shape: the registered plan is ONE Arrow-batched mapInPandas
    over the (doc_id, text) scan — zero exchanges at any scale, CPU
    vectorized per batch; the declarative fold twin (_GREP_SPARK) lost
    the interleaved A/B at every tier (61 s vs 3.7 s at 500k docs — see
    the module comment) and survives as a row-equal-pinned semantics
    artifact."""
    from ..sources import load

    return _grep_pandas(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    )


# --------------------------------------------------------------------------
# line_dedup: corpus-wide LINE-grain dedup (the C4 move — Raffel et al.
# 2020 discard repeated lines corpus-wide; CCNet dedups on normalized
# paragraph hashes). Completes the dedup grain ladder: document grain
# (minhash/simhash/embed), span grain (dedup_spans), line grain (here).
# Keep-first discipline matches dedup_spans: the occurrence in the line's
# min-doc_id document survives (ALL its occurrences there — doc-grain
# rule), later docs lose theirs and their text is rebuilt.
# --------------------------------------------------------------------------

_LD_MIN_TOKS = 4  # lines under this many tokens are exempt (headers etc.)


def _ld_norm(d, line: str) -> str:
    """CCNet-style line normalization for the dedup hash: lowercase,
    digits stripped, outer whitespace trimmed."""
    return f"TRIM(regexp_replace(LOWER({line}), '[0-9]'{d['gflag']}, ''))"


def _line_dedup_sql(d) -> str:
    lines = d["split"]("text", d["nl"])
    # The ordered rebuild is each engine's own plan (the dedup_spans
    # split): Spark positions lines with posexplode and sorts a
    # collect_list of (p, line) structs, DuckDB indexes the list and
    # aggregates with string_agg(... ORDER BY p).
    if d is _SPARK_D:
        lx = (
            "SELECT doc_id, p0 + 1 AS p, line FROM dl "
            "LATERAL VIEW posexplode(lines) AS p0, line"
        )
        kx = (
            "SELECT doc_id, p0 + 1 AS p, line FROM tl "
            "LATERAL VIEW posexplode(lines) AS p0, line"
        )
        rebuild = (
            "array_join(transform(array_sort(collect_list("
            "named_struct('p', k.p, 'line', k.line))), s -> s.line), '\\n')"
        )
    else:
        lx = (
            "SELECT doc_id, p, lines[p] AS line FROM dl, "
            "unnest(generate_series(1, len(lines))) AS u(p)"
        )
        kx = (
            "SELECT doc_id, p, lines[p] AS line FROM tl, "
            "unnest(generate_series(1, len(lines))) AS u(p)"
        )
        rebuild = "string_agg(k.line, chr(10) ORDER BY k.p)"
    norm = _ld_norm(d, "line")
    eligible = (
        f"{d['len'](d['split']('line'))} >= {_LD_MIN_TOKS} AND {norm} != ''"
    )
    return f"""
    WITH dl AS (
      SELECT doc_id, {lines} AS lines FROM {d['pdocs']}
      WHERE text IS NOT NULL
    ),
    lx AS ({lx}),
    el AS (
      SELECT doc_id, p, md5({norm}) AS h FROM lx WHERE {eligible}
    ),
    fh AS (
      SELECT doc_id, p, MIN(doc_id) OVER (PARTITION BY h) AS first_doc
      FROM el
    ),
    rem AS (SELECT doc_id, p FROM fh WHERE doc_id > first_doc),
    covd AS (SELECT DISTINCT doc_id FROM rem),
    tl AS (
      SELECT doc_id, {lines} AS lines FROM {d['pdocs']}
      WHERE text IS NOT NULL
        AND doc_id IN (SELECT doc_id FROM covd)
    ),
    kept AS (
      SELECT k.doc_id, k.p, k.line
      FROM ({kx}) k LEFT JOIN rem r ON r.doc_id = k.doc_id AND r.p = k.p
      WHERE r.p IS NULL
    ),
    rebuilt AS (
      SELECT k.doc_id, COUNT(*) AS n_kept, {rebuild} AS clean_text
      FROM kept k GROUP BY k.doc_id
    ),
    base AS (SELECT doc_id, {d['len'](lines)} AS n_lines, text
             FROM {d['pdocs']})
    SELECT b.doc_id,
           CAST(b.n_lines AS BIGINT) AS n_lines,
           CASE WHEN b.n_lines IS NULL THEN CAST(NULL AS BIGINT)
                WHEN c.doc_id IS NULL THEN CAST(0 AS BIGINT)
                ELSE CAST(b.n_lines - COALESCE(r.n_kept, 0) AS BIGINT)
           END AS n_removed,
           CASE WHEN b.n_lines IS NULL THEN CAST(NULL AS {d['str']})
                WHEN c.doc_id IS NULL THEN b.text
                ELSE COALESCE(r.clean_text, '')
           END AS clean_text
    FROM base b
    LEFT JOIN covd c ON c.doc_id = b.doc_id
    LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
    """


_LD_SPARK, _LD_DUCK = _dual(_line_dedup_sql)


@register("line_dedup", _LD_DUCK)
def line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: corpus-wide LINE-grain exact dedup (the C4/CCNet move —
    C4 discards lines repeated across the corpus; CCNet hashes normalized
    paragraphs). A line occurrence is removed iff its normalized hash
    (lowercased, digits stripped, trimmed — so '© 2023 Acme' and
    '© 2024 acme' collide) first occurs in an EARLIER document; every
    occurrence in the min-doc_id document survives (doc-grain keep-first,
    the dedup_spans discipline). Lines under 4 tokens and lines empty
    after normalization are exempt (navigation/header fragments are
    repetition_ratio's signal, not corpus boilerplate). Returns doc_id,
    n_lines, n_removed, clean_text — one row per input doc ALWAYS:
    untouched docs pass through verbatim (fast path, never entering the
    rebuild), a fully-removed doc returns empty text, NULL text keeps its
    row with NULL signals.

    Scale shape: line rows (≪ token rows — this is dedup_spans' machinery
    at a coarser grain) flow through ONE hash-keyed sortless window MIN
    stamping each occurrence with its first doc; the rebuild is an
    anti-join plus one doc-keyed ordered aggregation over TOUCHED docs
    only. A universal boilerplate line skews the window's h partition
    exactly like dedup_spans' hot run — same lever applies (the
    agg+SHUFFLE_HASH form past the single-task-buffer regime); at the
    line grain the hot partition is lines-proportional, an order of
    magnitude lighter than the span case. Nothing quadratic anywhere."""
    return _spark_docs(spark, sf_dir, _LD_SPARK)


# --------------------------------------------------------------------------
# kmeans_embed: explicit Lloyd k-means over the embedding column — the
# coarse clustering semdedup / vec_topk_ivf consume as a GIVEN (their
# centroids are deterministic LCG stand-ins), here produced as a
# first-class oracle-checked relation: deterministic seeding (the K
# smallest vec_ids), a fixed iteration budget, and the FLOOR-micro integer
# discipline end to end so assignments can never diverge from summation
# order or engine. The oracle unrolls the budget into ONE declarative
# statement (_km_cent_chain).
# --------------------------------------------------------------------------

from ._lloyd import (  # noqa: E402  (shared Lloyd machinery)
    _KM_ITERS,
    _KM_K,
    _km_cent_chain,
    _km_lloyd,
    _km_quantizer,
    trained_centroid_values,
)


def _kmeans_duck() -> str:
    ctes, _ = _km_cent_chain()
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT vec_id,
           CAST(kk % {_KM_K} AS INT) AS cluster,
           CAST(kk // {_KM_K} AS BIGINT) AS d2_micro
    FROM a{_KM_ITERS}
    """
    )


_KM_DUCK = _kmeans_duck()


@register("kmeans_embed", _KM_DUCK)
def kmeans_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: explicit Lloyd k-means over the embedding column (K=8,
    3 iterations) — document clustering as a first-class relation (the
    step a curriculum/mixture pipeline runs between embedding and
    domain_mix, and the trained quantizer vec_topk_ivf_trained and
    semdedup consume — vec_topk_ivf keeps the LCG stand-in so the
    recall-vs-probe comparison stays runnable). Deterministic end to end:
    seeds are
    the K smallest vec_ids' vectors, every distance is a FLOOR-micro
    BIGINT sum (order-independent), the argmin breaks ties to the lowest
    cluster id (the oracle encodes it arithmetically as min over
    d2*K + c — the winnowing composite device — so no engine-specific
    min_by rule is involved), and centroid means are exact-integer
    numerators over double denominators. A cluster that loses all
    members simply drops out of the next round's centroids. Returns
    (vec_id, cluster, d2_micro) after the final assignment.

    Scale shape: each assignment is an Arrow-batched mapInPandas
    computing the FLOOR-micro arithmetic as a vectorized (batch, K, dims)
    tensor — no join; each training round (_km_step) is ONE job: the
    assignment pass emits per-batch partial micro sums and one (cluster,
    dim) aggregation combines them into the K·dims planning-scalar rows
    that are the only driver reads (the bpe_train discipline). The seeds
    plus two rounds are three jobs per build; the returned final
    assignment is lazy. The retired unrolled-SQL form evaluated ~770M
    interpreted lambda terms at 200k vectors (40.9 s steady vs ~3-6 s
    here) and was no faster at the gate tiers. Nothing is
    corpus-quadratic."""
    from ..sources import load

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _km_lloyd(emb)


# --------------------------------------------------------------------------
# vec_topk_ivf_trained: the IVF ANN search with kmeans_embed's TRAINED
# centroids as the coarse quantizer (VERDICT r08 item 4 — vec_topk_ivf's
# LCG centroids partition the space but ignore the data distribution; a
# trained quantizer puts cell boundaries between real clusters, so equal
# probe counts cover more of the true neighborhood). Same probe-2 search
# and exact-cosine verify as vec_topk_ivf (_ivf_tail is shared verbatim);
# only the ranked-index relation differs: distances go to the Lloyd-trained
# (c, dim, w) relation from _km_cent_chain instead of the LCG literal.
# tests/test_ann_recall.py pins trained recall >= LCG recall at probe
# counts 1 and 2 on the adversarial neighbor corpus.
# --------------------------------------------------------------------------


def _ivft_ranked_tail(comps: str = "comps") -> str:
    """Distance + ranking CTE text over a ``tcent`` trained-centroid
    relation and the ``comps`` position explosion (both in scope)."""
    return f"""tdists AS (
      SELECT p.vec_id, ct.c,
             SUM(CAST(FLOOR((p.x - ct.w) * (p.x - ct.w) * 1000000.0)
                      AS BIGINT)) AS d2
      FROM {comps} p JOIN tcent ct ON ct.dim = p.dim
      GROUP BY p.vec_id, ct.c
    )
    SELECT vec_id, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn
    FROM tdists"""


def _ivft_duck() -> str:
    from .llm_pipeline import _ivf_tail

    ctes, trained = _km_cent_chain(prefix="km_")
    # the distance + rank text is the SHARED _ivft_ranked_tail, wrapped as
    # a nested-WITH CTE — a hand-inlined copy here once desynchronized
    # from the Spark form's tail would silently split the oracle
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    tcent AS ({trained}),
    ranked AS (WITH {_ivft_ranked_tail("km_comps")}
    ),
    """
        + _ivf_tail(_DUCK_D, "ranked")
    )


_IVFT_DUCK = _ivft_duck()


def _ivft_ranked_values_sql(cents, posexp: "str | None" = None) -> str:
    """Spark-side trained-IVF index relation with the quantizer inlined as
    literals (training already ran via ``_km_quantizer``). ``posexp``
    overrides the position-explosion source (the serving-index builders
    pass a predicate-filtered one)."""
    if posexp is None:
        posexp = _SPARK_D["comps"]()
    return (
        f"WITH tcent AS (SELECT c, dim, w FROM {trained_centroid_values(cents)}),\n"
        f"    comps AS ({posexp}),\n    "
        + _ivft_ranked_tail()
    )


@register("vec_topk_ivf_trained", _IVFT_DUCK)
def vec_topk_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10 with the TRAINED coarse quantizer: kmeans_embed's
    Lloyd solution (K=8, 3 iterations, FLOOR-micro exact arithmetic)
    replaces vec_topk_ivf's LCG centroids; probe-2 search and exact-cosine
    verify are byte-shared with the LCG form (_ivf_tail). The ranked
    relation materializes once per session (_indexed) — the inverted file
    a serving system stores next to its quantizer.

    Scale shape: training runs kmeans_embed's numpy-assignment Lloyd
    loop (_km_quantizer) and the frozen quantizer is inlined as K*dims
    literals — exactly how a production IVF build trains once and ships
    centroids to every assignment task. Search cost is unchanged from
    vec_topk_ivf: one semi-join probe over ~2/K of the corpus."""
    from ..functions.materialize import materialized
    from ..sources import load
    from .llm_pipeline import _ivf_tail

    emb = load(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("embeddings")

    def build():
        # training lives INSIDE the memoized index build: the trainer's
        # per-round passes are index-BUILD cost, paid once per session
        # like every other serving-index relation (a first cut trained on
        # every call — measured 3.3 s steady at the 20k tier for what is
        # a ~0.3 s probe)
        return spark.sql(_ivft_ranked_values_sql(_km_quantizer(spark, emb)))

    materialized(
        spark, f"ivft_ranked|{sf_dir}", build
    ).createOrReplaceTempView("ivft_ranked")
    return spark.sql("WITH " + _ivf_tail(_SPARK_D, "ivft_ranked"))


# --------------------------------------------------------------------------
# tokenizer_stats: per-language fertility/compression of the BPE surface —
# the metric tokenizer training actually reads (how many merged tokens a
# word costs per language, how many characters a token carries). Rides
# bpe_encode's session-memoized merge table on the Spark side; the oracle
# recomputes the merges inside one statement (bpe_encode's own oracle
# discipline).
# --------------------------------------------------------------------------


def _tok_stats_tail(enc_rel: str) -> str:
    """Shared aggregation over an encode relation (doc_id, n_tokens,
    n_bpe_tokens) joined back to documents for lang/chars. All outputs are
    exact-integer aggregates or their raw-double quotients."""
    return f"""
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(e.n_tokens) AS BIGINT) AS n_words,
           CAST(SUM(e.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(d.n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(e.n_bpe_tokens) AS DOUBLE) / SUM(e.n_tokens)
             AS tokens_per_word,
           CAST(SUM(d.n_chars) AS DOUBLE) / SUM(e.n_bpe_tokens)
             AS chars_per_token
    FROM {enc_rel} e
    JOIN documents d ON d.doc_id = e.doc_id
    WHERE d.text IS NOT NULL
    GROUP BY d.lang
    """


def _tok_stats_duck() -> str:
    from .corpus_ext import _BPE_ENC_DUCK

    return f"WITH enc AS ({_BPE_ENC_DUCK}) " + _tok_stats_tail("enc")


# line_dedup and tokenizer_stats ran rows-only at the driver in round 8
# purely by 50-slot window arithmetic; round 9 registered their oracles
# (_LD_DUCK above, _TOK_STATS_DUCK below) and the computed stalest-first
# window (queries/__init__.py) rotates them in. The same oracles remain
# bit-exactly replayed every session by tests/test_corpus_mining.py.
_TOK_STATS_DUCK = _tok_stats_duck()


@register("tokenizer_stats", _TOK_STATS_DUCK)
def tokenizer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: per-language tokenizer statistics over the BPE surface —
    document/word/merged-token/char totals plus tokens_per_word (the
    fertility analog: merged tokens per whitespace word, <= 1 since the
    corpus-induced merges only join words) and chars_per_token (the
    compression a context-window budget actually feels per language).
    This is the table a tokenizer-training loop reads to decide whether a
    language is under-served by the merge table (high tokens_per_word =
    few merges apply there).

    Scale shape: bpe_encode's one map-only REPLACE pass (merge table =
    session-memoized planning scalars) followed by a lang-keyed partial
    aggregation. r10 optimization: lang/n_chars/text-nullness ride the
    encode relation as carry columns (the imputation_error device) —
    the encode plan already joins the documents scan once for its
    all-docs contract, so the tail's second documents join (and scan)
    is gone; aggregates are expression-identical, output unchanged."""
    import uuid

    from .corpus_ext import _bpe_encode_spark_sql, _bpe_merges
    from .llm_pipeline import _register_docs

    _register_docs(spark, sf_dir)
    view = f"_tok_stats_enc_{uuid.uuid4().hex[:12]}"
    spark.sql(
        _bpe_encode_spark_sql(
            _bpe_merges(spark, sf_dir),
            carry=("d.lang", "d.n_chars", "d.text IS NOT NULL AS text_ok"),
        )
    ).createOrReplaceTempView(view)
    df = spark.sql(
        f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_words,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(n_bpe_tokens) AS DOUBLE) / SUM(n_tokens)
             AS tokens_per_word,
           CAST(SUM(n_chars) AS DOUBLE) / SUM(n_bpe_tokens)
             AS chars_per_token
    FROM {view}
    WHERE text_ok
    GROUP BY lang
    """
    )
    spark.catalog.dropTempView(view)  # plan resolved at sql() time
    return df


# --------------------------------------------------------------------------
# quality_classifier: a TRAINED model-based quality filter — integer-state
# logistic regression on hashing-trick word features (the fasttext-style
# classifier CCNet/GPT-3/LLaMA pipelines train on a curated seed corpus and
# apply to the crawl). The weak label here is gopher_rules' word-count gate
# (the one fixture gate with class variance — in production the label is
# "reference corpus vs random crawl", same machinery). Everything is
# deterministic end to end: feature weights live as FLOOR-micro BIGINTs,
# the per-doc logit numerator is an exact integer, the sigmoid is the ONE
# libm call and is snapped ROUND(.,9) (the char_entropy device), the
# gradient accumulates FLOOR-micro integer terms, and the learning step is
# an integer shift (gm DIV 16) — so five training rounds produce
# bit-identical weights in Spark and DuckDB.
# --------------------------------------------------------------------------

_QLR_FEATS = 4096  # hashing-trick buckets
_QLR_ROUNDS = 5
_QLR_LR_SHIFT = 16  # integer learning step: w -= grad DIV 16


def _qlr_fx_sql(d) -> str:
    """Per-(doc, feature) counts + doc length — the design matrix."""
    docs = (
        f"(SELECT doc_id, {d['split']('text')} AS ws "
        f"FROM {d['pdocs']} WHERE text IS NOT NULL) t"
    )
    wx = (
        f"SELECT doc_id, {d['len']('ws')} AS nw, "
        f"{d['hex2int']('SUBSTR(md5(w), 1, 15)')} % {_QLR_FEATS} AS f "
        f"FROM {d['lateral'](docs, 'ws', 'w')}"
    )
    return (
        f"SELECT doc_id, nw, f, CAST(COUNT(*) AS BIGINT) AS c "
        f"FROM ({wx}) GROUP BY doc_id, nw, f"
    )


def _qlr_y_sql(d) -> str:
    from .corpus_ext import _gopher_sql

    return (
        f"SELECT doc_id, CASE WHEN ok_word_count THEN 1.0 ELSE 0.0 END AS y"
        f" FROM ({_gopher_sql(d)})"
    )


def _qlr_grad_ctes(fx: str, y: str, wprev: str, t: int) -> str:
    """One training round's GRADIENT in the DuckDB twin: logit -> snapped
    sigmoid -> integer gradient. Returns the CTE chain ending in g{t}."""
    return f"""
    z{t} AS (
      SELECT x.doc_id, x.nw, SUM(x.c * COALESCE(w.wm, 0)) AS zn
      FROM {fx} x LEFT JOIN {wprev} w ON w.f = x.f
      GROUP BY x.doc_id, x.nw
    ),
    p{t} AS (
      SELECT doc_id, nw, zn,
             ROUND(1.0 / (1.0 + EXP(-(CAST(zn AS DOUBLE)
               / (CAST(nw AS DOUBLE) * CAST(1000000.0 AS DOUBLE))))), 9)
               AS p
      FROM z{t}
    ),
    g{t} AS (
      SELECT x.f,
             SUM(CAST(FLOOR((p.p - y.y) * x.c / x.nw * 1000000.0)
                 AS BIGINT)) AS gm
      FROM {fx} x
      JOIN p{t} p ON p.doc_id = x.doc_id
      JOIN {y} y ON y.doc_id = x.doc_id
      GROUP BY x.f
    )"""


def _qlr_round_ctes(fx: str, y: str, wprev: str, t: int) -> str:
    """One full training round of the DuckDB twin (gradient + integer
    weight step) as CTEs ending in w{t}; the Spark side steps the weights
    on the driver (_qlr_step_weights), the two pinned bit-equal by the
    oracle replay."""
    return (
        _qlr_grad_ctes(fx, y, wprev, t)
        + f""",
    w{t} AS MATERIALIZED (
      SELECT COALESCE(w.f, g.f) AS f,
             COALESCE(w.wm, 0) - (COALESCE(g.gm, 0)
               // {_QLR_LR_SHIFT}) AS wm
      FROM {wprev} w FULL JOIN g{t} g ON g.f = w.f
    )"""
    )


def _qlr_step_weights(w: "dict[int, int]", grad_rows) -> "dict[int, int]":
    """The w{t} CTE's integer weight step, driver-side: for every feature
    in w ∪ grad, wm' = COALESCE(wm, 0) - COALESCE(gm, 0) DIV 16. Both
    engines' integer division (Spark DIV = Java long division, DuckDB //)
    TRUNCATES TOWARD ZERO — floor division would differ on every negative
    gradient not divisible by the shift, so Python's flooring // needs the
    sign split below (pinned by test_qlr_step_div_matches_spark)."""
    out = dict(w)
    for r in grad_rows:
        f, gm = r[0], r[1] or 0
        q = abs(gm) // _QLR_LR_SHIFT
        out[f] = out.get(f, 0) - (-q if gm < 0 else q)
    return out


def _qlr_final_sql(fx: str, y: str, wlast: str) -> str:
    """The DuckDB twin's scoring of every doc with the trained weights;
    the keep DECISION is the integer sign of the logit numerator (no libm
    in the decision)."""
    t = _QLR_ROUNDS + 1
    return f"""
    z{t} AS (
      SELECT x.doc_id, x.nw, SUM(x.c * COALESCE(w.wm, 0)) AS zn
      FROM {fx} x LEFT JOIN {wlast} w ON w.f = x.f
      GROUP BY x.doc_id, x.nw
    )
    SELECT z.doc_id,
           CAST(z.zn AS BIGINT) AS z_num,
           ROUND(1.0 / (1.0 + EXP(-(CAST(z.zn AS DOUBLE)
             / (CAST(z.nw AS DOUBLE) * CAST(1000000.0 AS DOUBLE))))), 9)
             AS score,
           z.zn >= 0 AS predict_keep,
           y.y = 1.0 AS label_keep,
           (z.zn >= 0) = (y.y = 1.0) AS correct
    FROM z{t} z JOIN {y} y ON y.doc_id = z.doc_id
    """


def _qlr_duck() -> str:
    d = _DUCK_D
    ctes = [
        f"fx AS MATERIALIZED ({_qlr_fx_sql(d)})",
        f"y AS MATERIALIZED ({_qlr_y_sql(d)})",
        "w0 AS (SELECT CAST(NULL AS BIGINT) AS f,"
        " CAST(NULL AS BIGINT) AS wm WHERE FALSE)",
    ]
    for t in range(1, _QLR_ROUNDS + 1):
        ctes.append(_qlr_round_ctes("fx", "y", f"w{t - 1}", t).strip())
    return (
        "WITH " + ",\n    ".join(ctes) + ","
        + _qlr_final_sql("fx", "y", f"w{_QLR_ROUNDS}")
    )


_QLR_DUCK = _qlr_duck()


def _qlr_fxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark side's one session memo: the design matrix joined to its
    label, (doc_id, nw, f, c, y), hash-partitioned by doc_id. The
    checkpointed relation keeps that partitioning, so each round's
    doc-keyed logit aggregation and its p ⋈ x join run exchange-free."""
    from .llm_pipeline import _indexed, _register_docs

    _register_docs(spark, sf_dir)
    d = _SPARK_D
    return _indexed(
        spark,
        f"qlr_fxy|{sf_dir}",
        f"SELECT * FROM (SELECT x.doc_id, x.nw, x.f, x.c, y.y "
        f"FROM ({_qlr_fx_sql(d)}) x JOIN ({_qlr_y_sql(d)}) y "
        f"ON y.doc_id = x.doc_id) DISTRIBUTE BY doc_id",
    )


def _qlr_w_sql(w: "dict[int, int]") -> str:
    """Column ``f``'s weight from the driver-held dict ``w`` as a plan
    LITERAL: a dense BIGINT array over the _QLR_FEATS hashing-trick
    buckets (0 where ``w`` lacks the feature), indexed by ``f`` — in
    [0, _QLR_FEATS) by construction. A literal needs neither a weight
    relation nor its BroadcastExchange (a job of its own per round, even
    over a VALUES relation). The array is written as ONE string literal
    that constant folding splits once: _QLR_FEATS separate numeric
    literals cost ~0.1-0.3 s per round to parse and analyze."""
    vals = ",".join(str(w.get(k, 0)) for k in range(_QLR_FEATS))
    return f"CAST(split('{vals}', ',') AS ARRAY<BIGINT>)[f]"


def _qlr_p_sql(fxy: str, w: "dict[int, int]") -> str:
    """Per-doc logit numerator zn and snapped sigmoid p over ``fxy``
    (the same expressions as the twin's z/p CTEs): the aggregation is
    keyed by doc_id, which the memo is already partitioned by."""
    return f"""
      SELECT doc_id, y, zn,
             ROUND(1.0 / (1.0 + EXP(-(CAST(zn AS DOUBLE)
               / (CAST(nw AS DOUBLE) * CAST(1000000.0 AS DOUBLE))))), 9)
               AS p
      FROM (SELECT doc_id, nw, y, SUM(c * {_qlr_w_sql(w)}) AS zn
            FROM {fxy} GROUP BY doc_id, nw, y)"""


def _qlr_round_sql(fxy: str, w: "dict[int, int]") -> str:
    """One Spark training round's gradient (f, gm): ONE job whose only
    exchange is the feature-keyed gradient aggregation."""
    return f"""
    WITH p AS ({_qlr_p_sql(fxy, w)})
    SELECT /*+ SHUFFLE_HASH(p) */ x.f,
           SUM(CAST(FLOOR((p.p - x.y) * x.c / x.nw * 1000000.0)
               AS BIGINT)) AS gm
    FROM {fxy} x JOIN p ON p.doc_id = x.doc_id
    GROUP BY x.f"""


@register("quality_classifier", _QLR_DUCK)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: model-based quality filtering with a classifier TRAINED
    IN-ENGINE — 5 rounds of batch logistic regression on hashing-trick
    word features (4096 buckets), weakly supervised by gopher_rules'
    word-count gate (stand-in for the production label "curated reference
    vs random crawl" — the CCNet/fasttext quality-filter recipe). Returns
    per-doc z_num (exact integer logit numerator), score (snapped
    sigmoid), predict_keep (integer sign — no libm in the decision),
    label_keep, correct. Oracle-registered since round 9: the full 5-round DuckDB twin
    (_QLR_DUCK, AS MATERIALIZED per round — the bpe_train device against
    CTE-inlining blowup) is bit-exactly replayed every session by
    tests/test_corpus_mining.py.

    Scale shape: the design matrix (doc, feature, count) joined to its
    label is built ONCE, hash-partitioned by doc_id, and
    session-materialized (_qlr_fxy; Spark re-plans an inlined CTE per
    consumer — the measured bpe_encode failure class). Each round is ONE
    job: the doc-keyed logit aggregation and the p ⋈ x join run on the
    memo's own partitioning, the feature-keyed gradient aggregation is
    the round's only exchange, and its bounded collect is the only
    driver read. The weights are MODEL STATE, hashing-trick-bounded at
    _QLR_FEATS entries at ANY corpus size: the integer step runs on the
    DRIVER and each round reads them as a BIGINT plan literal (the
    kmeans-centroid / bpe-merge-table planning-scalar discipline).
    Nothing is corpus-quadratic. Learnability is pinned on a planted
    two-vocabulary corpus; cross-engine bit-exactness of all five
    training rounds is the oracle pin (the DuckDB twin keeps the
    full-join weight-step form; _qlr_step_weights replicates it exactly,
    including truncation-toward-zero integer division)."""
    import uuid

    view = f"_qlr_fxy_{uuid.uuid4().hex[:12]}"
    _qlr_fxy(spark, sf_dir).createOrReplaceTempView(view)
    try:
        w: "dict[int, int]" = {}
        for _ in range(_QLR_ROUNDS):
            w = _qlr_step_weights(
                w, spark.sql(_qlr_round_sql(view, w)).collect()
            )
        return spark.sql(
            f"""
            SELECT doc_id,
                   CAST(zn AS BIGINT) AS z_num,
                   p AS score,
                   zn >= 0 AS predict_keep,
                   y = 1.0 AS label_keep,
                   (zn >= 0) = (y = 1.0) AS correct
            FROM ({_qlr_p_sql(view, w)})"""
        )
    finally:
        spark.catalog.dropTempView(view)  # plans resolved at sql() time


# --------------------------------------------------------------------------
# doc_embed: hashing-trick document vectors (round 8) — the featurization
# step that bridges the documents table into the embedding-space operators
# when no model embeddings exist: each word contributes a deterministic
# md5-derived weight in [-1, 1] per output dimension (a fixed random
# projection of the bag of words — the same stand-in discipline as the LCG
# coarse centroids; in production the map is a trained encoder, and
# everything downstream of the (doc, dim, val) relation is unchanged).
# Mean-pooled, exact micro-integer numerators.
# --------------------------------------------------------------------------

_DE_DIMS = 16


def _doc_embed_sql(d) -> str:
    h = d["hex2int"](
        f"SUBSTR(md5(CONCAT(w, '|', CAST(dim AS {d['str']}))), 1, 15)"
    )
    docs = (
        f"(SELECT doc_id, {d['split']('text')} AS ws FROM {d['pdocs']} "
        f"WHERE text IS NOT NULL) t"
    )
    wx = f"SELECT doc_id, {d['len']('ws')} AS nw, w FROM {d['lateral'](docs, 'ws', 'w')}"
    dims = d["seq"]("0", str(_DE_DIMS - 1))
    rel = f"FROM {d['lateral'](f'({wx}) wxr', dims, 'dim', alias='du')}"
    return f"""
    SELECT doc_id, CAST(dim AS INT) AS dim,
           CAST(SUM(({h} % 2000001) - 1000000) AS DOUBLE)
             / (CAST(nw AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS val
    {rel}
    GROUP BY doc_id, dim, nw
    """


_DE_DUCK = _doc_embed_sql(_DUCK_D)


@register("doc_embed", _DE_DUCK)
def doc_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: hashing-trick document embeddings — a fixed md5-derived
    random projection of each document's bag of words, mean-pooled into
    a 16-dim (doc_id, dim, val) relation with exact micro-integer
    numerators (order-independent sums; the one double division is an
    exact-integer quotient). The featurization bridge from the documents
    table into the embedding-space family (ANN tiers, semdedup,
    kmeans_embed) when no model embeddings exist; in production the
    projection is a trained encoder and everything downstream of the
    relation shape is unchanged. Identical texts get identical vectors
    across engines, sessions and re-runs — the property hash_split
    guarantees for splits, here for features. Oracle-registered since
    round 9 (_DE_DUCK); canon-compare pin in the suite as well.

    Scale shape: one corpus pass — word explode x 16 dims feeds a
    (doc, dim)-keyed partial aggregation (map-side combine shrinks the
    exchange to 16 rows per doc); no joins, nothing quadratic."""
    return _spark_docs(spark, sf_dir, _doc_embed_sql(_SPARK_D))


# --------------------------------------------------------------------------
# winnow_dup: the MOSS detection step as a registry relation — candidate
# near-dup pairs ranked by DISTINCT shared winnowed fingerprints, with the
# index-side boilerplate cap (fingerprints carried by too many docs are
# non-discriminative and would pair the whole corpus). The serving twin
# (functions/neardup_index.winnow_candidates) probes a persisted index
# with the SAME rule; this is the whole-corpus batch form.
# --------------------------------------------------------------------------

_WD_STOP_CAP = 64
_WD_MIN_SHARED = 2


def _winnow_dup_tail(uf: str) -> str:
    """Pair rollup over a (doc_id, fp) distinct-fingerprint relation —
    shared by the one-statement oracle form and the Spark form, where
    ``uf`` is the session-materialized fingerprint index."""
    return f"""
    keep AS (
      SELECT fp FROM {uf} GROUP BY fp HAVING COUNT(*) <= {_WD_STOP_CAP}
    ),
    kf AS (SELECT u.doc_id, u.fp FROM {uf} u JOIN keep k ON k.fp = u.fp)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM kf a JOIN kf b ON b.fp = a.fp AND b.doc_id > a.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {_WD_MIN_SHARED}
    """


def _winnow_dup_sql(d) -> str:
    return f"""
    WITH fp AS ({_winnowing_sql(d)}),
    uf AS (SELECT DISTINCT doc_id, fp FROM fp),
    {_winnow_dup_tail('uf')}"""


_WD_DUCK = _winnow_dup_sql(_DUCK_D)


@register("winnow_dup", _WD_DUCK)
def winnow_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM-EXT: MOSS near-duplicate candidates over the whole corpus —
    unordered doc pairs sharing >= 2 DISTINCT winnowed fingerprints (a
    fingerprint selected at several positions counts once), fingerprints
    carried by > 64 docs excluded as non-discriminative boilerplate (the
    decontam stop-gram device; without it one universal header pairs the
    whole corpus). The fingerprint-index counterpart of minhash_dedup:
    MinHash pairs by SET similarity, winnowing pairs by shared verbatim
    RUNS at ~40% of the storage of full shingle sets. Oracle-registered
    since round 9 (_WD_DUCK); canon-compare pin in the suite as well,
    and the persisted serving probe (winnow_candidates) applies the
    identical rule against a bucketed index.

    Scale shape: candidate generation is an equality self-join on the
    capped fingerprint key — never doc x doc; the cap bounds per-key
    fan-out at 64²/2 pairs; the pair rollup is candidate-proportional.
    The distinct (doc_id, fp) relation materializes once per session as
    an index relation (r10 optimization — the minhash_dedup `_indexed`
    discipline): the one-statement form re-ran the full winnowing
    pipeline (scan → explode → arithmetic min window) THREE times, once
    per CTE reference under Spark's CTE inlining (plan-verified, 3 scan
    branches); the materialized form runs it once and the tail's three
    references scan the leaf. This is exactly the relation the persisted
    winnowing serving index stores (functions/neardup_index.py)."""
    import uuid

    from .llm_pipeline import _indexed, _register_docs

    _register_docs(spark, sf_dir)
    # uuid-suffixed view, dropped after sql() resolves the plan (the
    # tokenizer_stats pattern): a fixed session-global view name raced
    # under the driver's parallel gate workers — two concurrent builds for
    # DIFFERENT sf_dirs could interleave createOrReplaceTempView/sql and
    # resolve against the other corpus's fingerprint relation.
    view = f"_wd_uf_{uuid.uuid4().hex[:12]}"
    _indexed(
        spark,
        f"wd_uf|{sf_dir}",
        f"WITH fp AS ({_winnowing_sql(_SPARK_D)}) "
        "SELECT DISTINCT doc_id, fp FROM fp",
    ).createOrReplaceTempView(view)
    df = spark.sql("WITH " + _winnow_dup_tail(view))
    spark.catalog.dropTempView(view)  # plan resolved at sql() time
    return df
