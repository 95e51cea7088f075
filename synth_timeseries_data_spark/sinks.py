"""Sinks (G16 CSV, G17 edge-list parquet, G18 structure sidecar) and the
partitioned dataset layout.

The reference persists one CSV + npy tensors + a structure txt per config
into a `family/noise/vars/lag` directory tree (Codes/a1.py:237-306). The
engine's equivalents: CSV with header and empty-string nulls (pandas
to_csv compatible), edge lists as parquet (the relational tensor form), a
JSON-lines structure sidecar (rendered in Python from the generation
kernels' equation compile and written from the driver as one file, no
Spark job), and `partitionBy(family, noise, n_vars, max_lag)` for the
tree — which at 100 TB doubles as partition pruning for any per-config
read.
"""

from __future__ import annotations

import itertools
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dsl.registry import equations
from .generation.kernel import structure_edges
from .queries.dsl import _parsed_edges


def write_series_csv(df: DataFrame, path: str) -> None:
    """G16: wide series table → CSV, header on, NULL → empty string (the
    pandas NaN→'' convention the reference's CSVs use, a1.py:242-243)."""
    df.write.mode("overwrite").option("header", True).option("nullValue", "").csv(path)


def read_series_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    return (
        spark.read.option("header", True)
        .option("nullValue", "")
        .schema(schema)
        .csv(path)
    )


def write_edge_list(spark: SparkSession, path: str) -> None:
    """G17: ground-truth edge lists for every registry config as parquet —
    the engine's answer to the reference's .npy tensors (a1.py:269-270)."""
    _parsed_edges(spark).write.mode("overwrite").parquet(path)


def _link_str(source: str, lag: int, target: str, coef: float) -> str:
    return f"({source}, {lag}, {target}) => {coef!r}"


def _structure_lines(families):
    """One JSON line per declared edge of every registry config of each
    family, in the field order and number text of a Spark ``df.write.json``
    over the same nine columns."""
    for family in families:
        for n_vars, max_lag in itertools.product((4, 6, 8), (2, 3, 4)):
            for src, tgt, lag, func, coef in structure_edges(family, n_vars, max_lag):
                yield json.dumps({
                    "family": family, "n_vars": n_vars, "max_lag": max_lag,
                    "source": src, "target": tgt, "lag": lag, "func": func,
                    "coef": coef, "link_str": _link_str(src, lag, tgt, coef),
                }, separators=(",", ":")) + "\n"


def write_structure_json(
    spark: SparkSession, path: str, families=("a1", "b2", "c1")
) -> None:
    """G18: structure sidecar as JSON lines — one record per declared edge
    of ``families`` (default: the three the relational ``parse_edges``
    covers) with its ``(source, lag, target) => coef`` text, replacing the
    reference's free-text files (a1.py:296-306).

    The lines are rendered in Python from the kernels' own compile
    (generation.kernel.structure_edges), so they declare the edges each
    family's grammar reads — U edges have source "U", a2c has none — and
    are written from the driver through the path's Hadoop FileSystem: one
    `part-00000.json` plus `_SUCCESS`, replacing whatever the path held.
    No Spark job runs; the write reaches any URI the series write does."""
    data = "".join(_structure_lines(families)).encode("utf-8")
    jvm = spark.sparkContext._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    out = Path(path)
    fs = out.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    fs.delete(out, True)
    stream = fs.create(Path(out, "part-00000.json"), True)
    try:
        stream.write(data)
    finally:
        stream.close()
    fs.create(Path(out, "_SUCCESS"), True).close()


def write_structure_txt(family: str, n_vars: int, max_lag: int, path: str) -> None:
    """Driver-side text twin of the reference's structure file format
    (a1.py:298-306) for single-config interop: the declared edges as
    ``(source, lag, target) => coefficient`` lines, then the equations."""
    links = [_link_str(src, lag, tgt, coef)
             for src, tgt, lag, _, coef in structure_edges(family, n_vars, max_lag)]
    with open(path, "w") as f:
        f.write(f"True Causal Structure ({family}):\n")
        f.write("Format: (source, lag, target) => coefficient\n\n")
        for line in links + ["", "Equations:"] + equations(family, n_vars, max_lag):
            f.write(f"{line}\n")


def write_partitioned_dataset(df: DataFrame, path: str, *cols: str) -> None:
    """Partitioned layout (default family/noise/n_vars/max_lag — the
    Datasets/ tree, SURVEY.md §0) with partition pruning for free."""
    keys = list(cols) or ["family", "noise", "n_vars", "max_lag"]
    df.write.mode("overwrite").partitionBy(*keys).parquet(path)


def _decomposition_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-point series + fitted trend — the data behind the reference's
    decomposition panels (c1.py:391-411: plot series, overlay the degree-1
    np.polyfit line). The fit comes from trend_fit's exact-bigint-sum OLS;
    joining it back is a series-keyed equi join (per-series fit rows are
    tiny relative to points at any scale, and the join key matches the
    series partitioning every window op already uses)."""
    from .queries import _SPARK_D
    from .queries.relational import _T0_US, _trend_fit_sql
    from .sources import load

    load(spark, sf_dir, "events").createOrReplaceTempView("events")
    td = f"(CAST({_SPARK_D['tus']} - {_T0_US} AS DOUBLE) / 86400000000.0)"
    return spark.sql(
        f"""
        WITH fit AS ({_trend_fit_sql(_SPARK_D)}),
        pts AS (SELECT user_id, event_id, {td} AS x_day, value FROM events)
        SELECT p.user_id, p.event_id, p.x_day, p.value,
               f.intercept + f.slope * p.x_day AS trend
        FROM pts p JOIN fit f ON f.user_id = p.user_id
        """
    )


def write_plot_bundle(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """G19 end-to-end: ONE invocation materializes the three plot-data
    frames the reference renders per run — decomposition series+trend
    (c1.py:391-411), sampling-interval histogram (c2.py:332-341), and
    missing-pattern heatmap cells (d1.py:327-337) — as one hive-partitioned
    dataset: ``out/frame=<name>/``. A plotting client reads exactly the
    frame it needs via partition pruning. Returns a (frame, n_rows)
    summary built from the written files' parquet footers (driver-side
    metadata read — verifies the write landed without a re-scan)."""
    from concurrent.futures import ThreadPoolExecutor

    from .queries.events_ext import missing_pattern
    from .queries.relational import sampling_hist
    from .session import fast_commit
    from .sources import parquet_rows

    fast_commit(spark)
    frames = {
        "decomposition": _decomposition_frame(spark, sf_dir),
        "sampling_hist": sampling_hist(spark, sf_dir),
        "missing_pattern": missing_pattern(spark, sf_dir),
    }

    def _write(item):
        # Spark job submission is thread-safe; the three writes are
        # independent jobs, so submitting them concurrently lets the
        # scheduler interleave their stages instead of serializing three
        # write-job latencies (bundle wall time ≈ the slowest frame).
        name, df = item
        path = os.path.join(out, f"frame={name}")
        df.write.mode("overwrite").parquet(path)
        return name, parquet_rows(path)

    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        counts = list(pool.map(_write, frames.items()))
    return spark.createDataFrame(counts, "frame string, n_rows long")


def curate_decisions_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation workflow's per-document decisions audit table — one row
    per input document carrying every gate's verdict and the final
    ``keep``. This is THE builder `write_curated_corpus` persists (the
    registry's oracle-checked `curate_decisions` entry returns it
    directly, so the driver's value-hash gate covers the exact plan the
    workflow writes — not a lookalike).

    Columns: doc_id, source, lang, n_tokens, keep_quality, keep_dedup,
    gopher_keep, logw_nats, more_target_like, keep — with
    keep = keep_quality AND keep_dedup, dedup survivor = min-doc_id
    QUALITY-PASSING member per near-dup cluster (plain min when no member
    passes). LEFT joins throughout: a doc with NULL text still gets its
    audit row (NULL signals, keep follows the coalesced gates)."""
    from .queries.corpus_ext import gopher_rules
    from .queries import _SPARK_D
    from .queries.llm_pipeline import (
        _doc_quality_gate_sql,
        _spark_docs,
        dedup_clusters,
        dsir_weights,
    )
    from .sources import table_rows

    base = _spark_docs(
        spark,
        sf_dir,
        f"""WITH g AS ({_doc_quality_gate_sql(_SPARK_D)})
            SELECT doc_id, source, lang,
                   lang_ok = 1 AND q_ok = 1 AS keep_quality
            FROM g""",
    )
    gopher = gopher_rules(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_keep")
    )
    dsir = dsir_weights(spark, sf_dir).select(
        "doc_id", "n_tokens", "logw_nats", "more_target_like"
    )
    clusters = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    return _keep_decisions(
        base.join(gopher, "doc_id", "left").join(dsir, "doc_id", "left"),
        base,
        clusters,
        table_rows(sf_dir, "documents") * 32,
    )


def _keep_decisions(
    signals: DataFrame, quality: DataFrame, clusters: DataFrame, doc_bytes: int
) -> DataFrame:
    """The curation keep rule, shared by the one-shot and incremental
    paths: the ten-column decisions projection of ``signals`` (one row per
    document with doc_id, source, lang, n_tokens, keep_quality,
    gopher_keep, logw_nats, more_target_like) and keep = keep_quality AND
    dedup survivor. The survivor of a near-dup cluster (``clusters``:
    doc_id, cluster_rep) is its min-doc_id member whose ``quality``
    keep_quality holds, or the plain cluster_rep when none does.
    ``doc_bytes`` gates the broadcast of the near-dup-sized flags."""
    from .functions.scale import broadcast_if_small

    # r10 optimization: the survivor pick is ONE window over the
    # (near-dup-sized) member×quality relation — qrep as
    # MIN(CASE WHEN keep_quality THEN doc_id END) OVER cluster_rep — so
    # memberq has a single consumer and needs neither the groupBy+join
    # pair nor the blocking localCheckpoint the two-consumer form
    # required (that checkpoint ran the corpus quality scan as its own
    # job at build time; the window form folds everything into the main
    # decisions job — A/B'd row-equal, 1.64 -> 1.43 s min-of-4 at sf0.1).
    # The window partition is cluster-sized (skew bound = largest
    # near-dup cluster), same as the groupBy it replaces.
    memberq = clusters.join(
        quality.select("doc_id", "keep_quality"), "doc_id", "left"
    )
    qrep_w = F.min(F.when(F.col("keep_quality"), F.col("doc_id"))).over(
        Window.partitionBy("cluster_rep")
    )
    member_flags = memberq.select(
        "doc_id",
        (F.col("doc_id") != F.coalesce(qrep_w, F.col("cluster_rep"))).alias(
            "is_dup"
        ),
    )
    return (
        signals.join(broadcast_if_small(member_flags, doc_bytes), "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            F.coalesce("keep_quality", F.lit(False)).alias("keep_quality"),
            (~F.coalesce("is_dup", F.lit(False))).alias("keep_dedup"),
            "gopher_keep",
            "logw_nats",
            "more_target_like",
            (
                F.coalesce("keep_quality", F.lit(False))
                & ~F.coalesce("is_dup", F.lit(False))
            ).alias("keep"),
        )
    )


def write_curated_corpus(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """LLM-EXT end-to-end: ONE invocation runs the curation pipeline the
    individual queries are the evidence trail for — the shared per-doc
    quality gate (lang allowlist + quality_score composite, the SAME
    `_doc_quality_gate_sql` corpus_filter's funnel is built from), MinHash
    near-dup dedup, and the Gopher verdict + DSIR target-domain weight as
    recorded signals — and ships two datasets:

    - ``out/decisions/``: one row per input document (LEFT joins — a doc
      with NULL text still gets its audit row, with NULL signals and
      keep=false) carrying every gate's verdict and the final ``keep``;
    - ``out/corpus/``: the kept documents (text included), partitioned by
      source — the corpus a training run actually reads.

    keep = quality AND dedup-survivor. The dedup rule is QUALITY-AWARE:
    the survivor of a near-dup cluster is its min-doc_id quality-PASSING
    member, so a quality-failing representative can never shadow a
    keep-worthy duplicate out of the corpus (same composition rule as
    corpus_filter, whose dedup ranks eligible docs only; a cluster with no
    passing member keeps the plain min rule for audit readability — every
    member fails the quality gate anyway). The Gopher verdict is RECORDED,
    not gated on: its English-stopword rule rejects the entire synthetic
    fixture, and the audit table should show that, not silently ship an
    empty corpus. The DSIR weight likewise rides along as the sampling
    signal for the downstream resampler (selection pressure is a SAMPLING
    decision, Xie et al. 2023 §3).

    Scale shape: the quality-gate projection runs exactly twice — once
    under the near-dup member×quality window (its single consumer since
    the r10 window rewrite; both scans live in the same job) and once as
    the decisions base; gopher/dsir end doc-clustered on the same spread
    partitioning, so their joins add no extra full-corpus exchange; the
    cluster relation is near-dup-proportional and its joins are size-gated
    broadcasts; the KEPT doc-id set is corpus-proportional, so its join is
    gated too (force-broadcasting it at a billion docs is the
    driver-maxResultSize failure the sf100 ladder caught). `docs_in` comes
    from the source table's parquet footers — the summary row count is
    checked against the INPUT, not against the table being audited.
    Returns a (stage, n) summary frame with footer-verified written
    counts."""
    from .functions.scale import broadcast_if_small
    from .session import fast_commit
    from .sources import parquet_rows, table_rows

    from pyspark.sql import Observation

    fast_commit(spark)
    decisions = curate_decisions_frame(spark, sf_dir)
    doc_bytes = table_rows(sf_dir, "documents") * 32
    dec_path = os.path.join(out, "decisions")
    # r10 optimization: the summary aggregates ride the decisions WRITE
    # job itself via the Observation API (computed per-partition during
    # the write, merged on the driver) instead of a third read of the
    # written files — one full aggregation job removed, values identical
    # (same rows, and every metric below is either an integer sum or the
    # XOR fingerprint, both order- and partition-independent).
    obs = Observation("curate_summary")
    decisions.observe(
        obs,
        F.sum(F.when(~F.col("keep_quality"), 1).otherwise(0)).alias("n_fail_quality"),
        F.sum(F.when(~F.col("keep_dedup"), 1).otherwise(0)).alias("n_dup_dropped"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_kept"),
        F.sum(
            F.when(F.col("keep"), F.coalesce("n_tokens", F.lit(0))).otherwise(0)
        ).alias("n_tokens_kept"),
        # Order-independent fingerprint of the full decision set (XOR of
        # per-row hashes — commutative, overflow-free, partition-count
        # invariant): two runs over the same input MUST emit the same
        # value, and a change to ANY column of ANY row — hard verdicts
        # and recorded signals alike — changes it. The reproducibility
        # receipt a curation run ships with its corpus.
        F.expr(
            "bit_xor(xxhash64(doc_id, source, lang, n_tokens,"
            " keep_quality, keep_dedup, gopher_keep, logw_nats,"
            " more_target_like, keep))"
        ).alias("fingerprint"),
    ).write.mode("overwrite").parquet(dec_path)
    agg = obs.get
    corpus_path = os.path.join(out, "corpus")
    kept = spark.read.parquet(dec_path).where("keep").select("doc_id")
    from .sources import load

    load(spark, sf_dir, "documents").join(
        broadcast_if_small(kept, doc_bytes), "doc_id"
    ).write.mode("overwrite").partitionBy("source").parquet(corpus_path)
    rows = [
        # `or 0`: every aggregate is NULL over an empty decisions table
        # (degenerate zero-doc input) — the summary must still come back.
        ("docs_in", table_rows(sf_dir, "documents")),
        ("fail_quality", int(agg["n_fail_quality"] or 0)),
        ("dup_dropped", int(agg["n_dup_dropped"] or 0)),
        ("kept", int(agg["n_kept"] or 0)),
        ("tokens_kept", int(agg["n_tokens_kept"] or 0)),
        ("decisions_rows_written", parquet_rows(dec_path)),
        ("corpus_rows_written", parquet_rows(corpus_path)),
        ("decisions_fingerprint", int(agg["fingerprint"] or 0)),
    ]
    return spark.createDataFrame(rows, "stage string, n long")


def write_curated_corpus_incremental(
    spark: SparkSession,
    sf_dir: str,
    out: str,
    batch_where: str,
    publish_root: "str | None" = None,
) -> DataFrame:
    """Incremental curation (round 9, VERDICT r08 item 5): ingest ONE batch
    of documents (``batch_where`` — a predicate over the documents table
    selecting docs not yet processed), dedup it against the accumulated
    state at DELTA-proportional cost, and emit a fresh full decisions/
    corpus snapshot — atomically promoted as the next version when
    ``publish_root`` is set. Unifies the delta primitives the serving
    layer already ships (minhash_delta_pairs' bucketed probe, the
    append-only membership index, the versioned pointer-swap publish).

    Correctness contract — N batch runs over a partition of the corpus
    produce EXACTLY the one-shot ``write_curated_corpus`` kept set (CLI
    test pins two-batch == one-shot): per batch only the NEW docs are
    shingled/min-hashed/probed, but the discovered near-dup edges
    accumulate, so the keep decision is re-derived each batch from the
    FULL edge set with the identical cluster + quality-aware-survivor
    rule. A later batch can therefore retract an earlier keep (a bridge
    doc can merge two previously separate clusters) — which is precisely
    why each batch publishes a full SNAPSHOT version instead of appending
    to a live corpus: readers move from v{n} to v{n+1} atomically and
    never see the retraction applied in place.

    State under ``out/state/`` (all append-only parquet):
    ``docagg`` (minhash windows + shingle arrays for exact-Jaccard
    verify), ``members`` (band, sig, doc_id — the LSH membership probed
    by the next batch), ``edges`` (verified near-dup pairs — near-dup-
    proportional, the small relation everything is re-derived from),
    ``signals`` (per-doc gate verdicts + recorded gopher/DSIR signals).

    Scale shape: the per-batch heavy work (shingle, hash, bucket probe
    with the batch side broadcast) is batch-proportional; the cross-batch
    recompute touches only edges (≪ docs) plus one edge-set cc
    (_cc_labels, unmemoized: the edge set grows every batch) and the
    shared keep rule (_keep_decisions) with its broadcast-gated flags
    join.
    Gopher is doc-local and batch-filtered; the DSIR signal is corpus-
    normalized by definition, so it reads the full table (recorded
    signal, not a gate — at real scale a pipeline would snapshot its raw
    unigram stats in state rather than rescan; the gate columns this
    function's keep derives from are batch-bounded)."""
    import uuid

    from pyspark.sql import functions as F

    from .functions.neardup_index import _mh_shingles_cte, minhash_delta_pairs
    from .functions.scale import broadcast_if_small
    from .queries import _SPARK_D
    from .queries import llm_pipeline as lp
    from .queries.corpus_ext import gopher_rules
    from .queries.llm_pipeline import (
        _cc_labels,
        _doc_quality_gate_sql,
        _spark_docs,
        dsir_weights,
    )
    from .session import fast_commit
    from .sources import load, parquet_rows, table_rows

    fast_commit(spark)
    d = _SPARK_D
    lp._register_docs(spark, sf_dir)
    state = os.path.join(out, "state")
    paths = {
        n: os.path.join(state, n)
        for n in ("docagg", "members", "edges", "signals")
    }
    have_state = os.path.exists(paths["signals"])
    tag = uuid.uuid4().hex[:12]

    # --- index views for the delta probe: accumulated state, or the
    # schema-exact EMPTY relation on the first batch (WHERE FALSE keeps
    # every column/type identical to the real aggregate without a
    # hand-maintained schema string)
    dagg_v, mem_v = f"_inc_dagg_{tag}", f"_inc_mem_{tag}"
    if have_state:
        spark.read.parquet(paths["docagg"]).createOrReplaceTempView(dagg_v)
        spark.read.parquet(paths["members"]).createOrReplaceTempView(mem_v)
    else:
        # "doc_id < 0" (never true) instead of FALSE: Spark folds a
        # literal-FALSE subquery to a one-column dummy relation and the
        # shingle CTE's 5-column alias stops resolving
        spark.sql(
            _mh_shingles_cte("doc_id < 0") + lp._mh_docagg_sql(d)
        ).createOrReplaceTempView(dagg_v)
        spark.sql(
            f"SELECT doc_id, band, sig FROM ({lp._mh_sigs_sql(d, dagg_v)})"
        ).createOrReplaceTempView(mem_v)

    # --- delta-proportional dedup: new edges with >= 1 end in the batch
    # (localCheckpoint: the relation is near-dup-tiny and is consumed by
    # both the count and the state append — without it the whole probe
    # re-executes per consumer)
    new_edges = (
        minhash_delta_pairs(spark, sf_dir, dagg_v, mem_v, batch_where)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    n_new_edges = new_edges.count()

    # --- batch-proportional state append
    batch_dagg = spark.sql(
        _mh_shingles_cte(batch_where) + lp._mh_docagg_sql(d)
    ).localCheckpoint()
    bd_v = f"_inc_bd_{tag}"
    batch_dagg.createOrReplaceTempView(bd_v)
    batch_dagg.write.mode("append").parquet(paths["docagg"])
    spark.sql(
        f"SELECT doc_id, band, sig FROM ({lp._mh_sigs_sql(d, bd_v)})"
    ).write.mode("append").parquet(paths["members"])
    new_edges.write.mode("append").parquet(paths["edges"])

    base = _spark_docs(
        spark,
        sf_dir,
        f"""WITH g AS ({_doc_quality_gate_sql(d)})
            SELECT doc_id, source, lang,
                   lang_ok = 1 AND q_ok = 1 AS keep_quality
            FROM g""",
    ).where(batch_where)
    # gopher is doc-local — the batch filter pushes through its projection
    # to the scan, keeping the gate batch-proportional like base (dsir is
    # corpus-normalized by definition and stays a full pass, as documented)
    gopher = (
        gopher_rules(spark, sf_dir)
        .where(batch_where)
        .select("doc_id", F.col("keep").alias("gopher_keep"))
    )
    dsir = dsir_weights(spark, sf_dir).select(
        "doc_id", "n_tokens", "logw_nats", "more_target_like"
    )
    (
        base.join(gopher, "doc_id", "left").join(dsir, "doc_id", "left")
    ).write.mode("append").parquet(paths["signals"])

    # --- full-snapshot decision recompute from the accumulated SMALL
    # relations (edges + per-doc signal rows) through _keep_decisions, the
    # rule curate_decisions_frame applies one-shot
    # dropDuplicates(doc_id): makes an accidentally re-submitted batch
    # harmless for the DECISION path (duplicate edge/member/docagg state
    # rows are already absorbed by DISTINCT/cc downstream, but duplicate
    # signal rows would duplicate decisions rows and MULTIPLY corpus rows
    # through the kept-set join)
    sig_all = spark.read.parquet(paths["signals"]).dropDuplicates(["doc_id"])
    # no memo: the edge set grows every batch
    labels = _cc_labels(spark, sf_dir, spark.read.parquet(paths["edges"]))
    clusters = labels.select(
        F.col("v").alias("doc_id"), F.col("label").alias("cluster_rep")
    )
    doc_bytes = table_rows(sf_dir, "documents") * 32
    decisions = _keep_decisions(sig_all, sig_all, clusters, doc_bytes)
    dec_path = os.path.join(out, "decisions")
    decisions.write.mode("overwrite").parquet(dec_path)
    corpus_path = os.path.join(out, "corpus")
    kept = spark.read.parquet(dec_path).where("keep").select("doc_id")
    corpus = load(spark, sf_dir, "documents").join(
        broadcast_if_small(kept, doc_bytes), "doc_id"
    )
    corpus.write.mode("overwrite").partitionBy("source").parquet(corpus_path)

    n_kept = spark.read.parquet(dec_path).where("keep").count()
    version = None
    if publish_root is not None:
        if n_kept:
            version = publish_version(
                spark,
                spark.read.parquet(corpus_path),
                publish_root,
                partition_by=("source",),
            )
        # an all-dropped snapshot writes no partitioned part files — there
        # is nothing to promote and the prior version must stay committed
        # (the one-shot CLI path's guard, applied here so a degenerate
        # batch can't crash the stream and force a state-duplicating
        # replay)

    for v in (dagg_v, mem_v, bd_v):
        spark.catalog.dropTempView(v)
    rows = [
        ("docs_processed_total", parquet_rows(paths["signals"])),
        ("batch_new_edges", n_new_edges),
        ("edges_total", parquet_rows(paths["edges"])),
        ("kept", n_kept),
        ("decisions_rows_written", parquet_rows(dec_path)),
        ("corpus_rows_written", parquet_rows(corpus_path)),
        ("published_version", -1 if version is None else version),
    ]
    return spark.createDataFrame(rows, "stage string, n long")


def curate_ingest_stream(
    spark: SparkSession,
    sf_dir: str,
    manifest_dir: str,
    out: str,
    checkpoint: str,
    publish_root: "str | None" = None,
):
    """Streaming incremental curation: a file-source stream over
    ``manifest_dir`` where each arriving parquet file is a crawl-increment
    MANIFEST of doc_id ranges ``(lo, hi)`` — the contract a crawl
    pipeline's increment registry naturally provides (ranges, not id
    lists, so a manifest row stays O(1) regardless of increment size).
    Each micro-batch runs :func:`write_curated_corpus_incremental` for
    the union of its ranges: delta-cost dedup against the accumulated
    state, full decisions/corpus snapshot refresh, and (with
    ``publish_root``) one atomically-promoted version per increment.
    availableNow-triggered, the ingest-stream replay discipline of
    lsh_ingest_stream: a replay over N manifest files reproduces the
    N-batch CLI run — and therefore the ONE-SHOT kept corpus — exactly
    (pinned in tests/test_streaming.py). Delivery is at-least-once per
    batch; the incremental state appends are NOT idempotent under an
    unclean restart (duplicate state rows), so recover by rebuilding
    from scratch (the same caveat every ingest stream here carries).
    Returns the started StreamingQuery."""

    def _curate_batch(batch: DataFrame, _epoch_id: int) -> None:
        ranges = sorted(
            (int(r.lo), int(r.hi)) for r in batch.collect()
        )  # manifest rows — tiny by contract
        if not ranges:
            return
        where = " OR ".join(
            f"(doc_id BETWEEN {lo} AND {hi})" for lo, hi in ranges
        )
        write_curated_corpus_incremental(
            batch.sparkSession, sf_dir, out, where, publish_root=publish_root
        )

    return (
        spark.readStream.schema("lo long, hi long")
        .option("maxFilesPerTrigger", 1)
        .parquet(manifest_dir)
        .writeStream.foreachBatch(_curate_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# --------------------------------------------------------------------------
# Versioned atomic publish (round 7): readers NEVER see a partial dataset.
# --------------------------------------------------------------------------

_LATEST = "LATEST"


def publish_version(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    partition_by: "tuple[str, ...]" = (),
) -> int:
    """Publish ``df`` as the next version of the dataset at ``root`` and
    atomically promote it: write parquet into an UNADVERTISED staging
    directory (`_tmp_v{n}_{pid}` — a crash mid-write leaves only garbage
    no reader resolves), rename it to `v{n}`, then swap the one-file
    `LATEST` pointer with os.replace (atomic on POSIX). Readers that
    resolved the pointer before the swap keep reading the prior version's
    directory, which is never modified or deleted here — the property
    that matters at 100 TB, where "overwrite the dataset in place" means
    hours of window during which every reader sees a torn table. On an
    object store without atomic rename the same discipline holds by
    keying the staging path as the final path (writes are invisible until
    the pointer names them) — the pointer file IS the commit, rename or
    not. Returns the published version number.

    The pointer records row count (from the written files' footers — what
    a reader will actually see, not what the writer intended) so a
    consumer can sanity-check resolution, and publishing is append-only:
    old versions remain for audit/rollback until a retention job removes
    them (out of scope here, as is cross-WRITER mutual exclusion — one
    publisher at a time, the usual curation-pipeline contract; concurrent
    READERS are the concern this sink solves).

    Crash recovery: a crash between the directory rename and the pointer
    swap leaves an UNADVERTISED v{n} directory (readers still resolve
    n-1). Version numbering therefore scans for orphaned version dirs
    too (`_next_version`), so the next publish writes v{n+1} instead of
    colliding with the orphan — the write path can never wedge; the
    orphan is garbage a retention job may remove."""
    import json

    from .session import fast_commit
    from .sources import parquet_rows

    os.makedirs(root, exist_ok=True)
    version = _next_version(root)
    staging = os.path.join(root, f"_tmp_v{version}_{os.getpid()}")
    final = os.path.join(root, f"v{version}")
    fast_commit(spark)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    os.rename(staging, final)
    _fsync_dir(root)  # version rename durable BEFORE the pointer names it
    pointer = {
        "version": version,
        "path": f"v{version}",
        "n_rows": parquet_rows(final),
    }
    tmp_ptr = os.path.join(root, f"_tmp_{_LATEST}_{os.getpid()}")
    with open(tmp_ptr, "w") as f:
        f.write(json.dumps(pointer))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_ptr, os.path.join(root, _LATEST))
    _fsync_dir(root)
    return version


def _fsync_dir(path: str) -> None:
    """fsync a DIRECTORY fd — POSIX durability for the renames inside it.
    Without this, a pointer rename can survive power loss while the
    version-directory rename it advertises does not (both live in the
    same dirent table, but the kernel may flush them independently).
    Best-effort on platforms whose directories reject O_RDONLY fsync."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def _next_version(root: str) -> int:
    """The version number a new publish must use: one past BOTH the
    committed pointer and any orphaned v{n} directory a crashed publisher
    left behind (writers must never collide with an existing directory;
    readers still resolve only the pointer)."""
    import re

    on_disk = 0
    for name in os.listdir(root):
        m = re.fullmatch(r"v(\d+)", name)
        if m and os.path.isdir(os.path.join(root, name)):
            on_disk = max(on_disk, int(m.group(1)))
    return max(latest_version(root), on_disk) + 1


def published_info(root: str) -> dict:
    """The committed pointer at ``root`` — {version, path, n_rows}. The
    row count comes from the written files' footers at publish time, so a
    consumer can log/verify resolution without scanning the dataset.
    Raises FileNotFoundError when nothing is published."""
    import json

    with open(os.path.join(root, _LATEST)) as f:
        return json.loads(f.read())


def latest_version(root: str) -> int:
    """The committed version at ``root`` (0 when nothing is published).
    Resolution reads ONLY the pointer — never directory listings, which
    would race staging/rename windows."""
    import json

    try:
        with open(os.path.join(root, _LATEST)) as f:
            return int(json.loads(f.read())["version"])
    except FileNotFoundError:
        return 0


def read_published(spark: SparkSession, root: str) -> DataFrame:
    """Read the committed version of the dataset at ``root`` (pointer →
    version directory). Raises FileNotFoundError when nothing has been
    published."""
    return spark.read.parquet(
        os.path.join(root, published_info(root)["path"])
    )


def rollback(root: str, version: int) -> None:
    """Atomically re-point ``root`` at an EXISTING prior version — the
    incident lever versioning exists for (a bad curation run shipped;
    readers must see v{n-1} again NOW, with no data movement). Same
    pointer-swap discipline as publish; refuses a version whose directory
    is missing. The abandoned newer versions stay on disk for forensics
    until pruned."""
    import json

    target = os.path.join(root, f"v{version}")
    if not os.path.isdir(target):
        raise FileNotFoundError(f"no published version directory {target}")
    from .sources import parquet_rows

    pointer = {
        "version": version,
        "path": f"v{version}",
        "n_rows": parquet_rows(target),
    }
    tmp_ptr = os.path.join(root, f"_tmp_{_LATEST}_{os.getpid()}")
    with open(tmp_ptr, "w") as f:
        f.write(json.dumps(pointer))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_ptr, os.path.join(root, _LATEST))
    _fsync_dir(root)


def prune_versions(
    root: str, keep_last: int = 2, tmp_age_s: float = 3600.0
) -> list:
    """Retention, anchored at the COMMITTED version: keep the committed
    version plus the ``keep_last - 1`` versions immediately below it
    (the rollback margin), delete everything else — including versions
    ABOVE the committed one, which only exist when a rollback abandoned
    them (the bad ship; prune is when their forensics window ends).
    ``keep_last=0`` keeps only the committed version. Anchoring at the
    pointer rather than the newest directory means a rollback never
    causes retention to destroy the remaining GOOD history while
    preserving the known-bad tip. Also removes crashed-publish staging
    litter (`_tmp_*`) — but only entries older than ``tmp_age_s``
    (default 1 h), so a retention job racing a LIVE publish/rollback
    cannot delete its in-flight staging dir or tmp pointer; like publish,
    prune assumes one WRITER at a time, and the age guard is the safety
    net for a scheduler that breaks that contract. The same age guard
    protects a LIVE publish caught between its directory rename and its
    pointer swap: a v{n} ABOVE the committed version younger than
    ``tmp_age_s`` may be about to be advertised, so it is skipped —
    deleting it would let the imminent pointer swap name a missing
    directory. Returns the removed names. Readers racing a prune of an
    old version were already off the committed path — the one directory
    a correct reader can be inside is protected."""
    import re
    import shutil
    import time

    now = time.time()
    committed = latest_version(root)
    versions = sorted(
        int(m.group(1))
        for name in os.listdir(root)
        if (m := re.fullmatch(r"v(\d+)", name))
        and os.path.isdir(os.path.join(root, name))
    )
    at_or_below = [v for v in versions if v <= committed]
    keep = set(at_or_below[-keep_last:] if keep_last > 0 else [])
    keep.add(committed)
    removed = []
    for v in versions:
        if v not in keep:
            path = os.path.join(root, f"v{v}")
            if v > committed and now - os.path.getmtime(path) < tmp_age_s:
                continue  # possibly a live publish mid-promotion; leave it
            shutil.rmtree(path)
            removed.append(f"v{v}")
    for name in os.listdir(root):
        if name.startswith("_tmp_"):
            path = os.path.join(root, name)
            if now - os.path.getmtime(path) < tmp_age_s:
                continue  # possibly a live publish; leave it
            (shutil.rmtree if os.path.isdir(path) else os.remove)(path)
            removed.append(name)
    return removed


# --------------------------------------------------------------------------
# Corpus health report (round 8): the profiling bundle for the LLM side —
# plot_bundle's analog over documents instead of series.
# --------------------------------------------------------------------------


def write_corpus_report(spark: SparkSession, sf_dir: str, out: str) -> DataFrame:
    """ONE invocation writes the corpus-health datasets a data-quality
    review reads before any curation decision is made:

    - ``out/doc_audit/``: one row per (non-NULL-text) document joining the
      Gopher shape gates (gopher_rules), the repetition table
      (gopher_repetition) and the n-gram novelty signals (ngram_novelty),
      with ``clean`` = shape AND repetition keep — every column an
      independently oracle-checked query's output;
    - ``out/lang_profile/``: per-language tokenizer statistics
      (tokenizer_stats);
    - ``out/length_profile/``: per-source length percentiles
      (length_percentiles).

    Returns the (stage, n) summary with footer-verified written counts
    and an order-independent XOR fingerprint of the audit rows (the
    curated-corpus reproducibility-receipt device).

    Scale shape: each component is its own one-corpus-pass plan; the
    audit joins are doc-keyed equalities over doc-clustered relations
    (novelty's rollup excludes <8-token docs — LEFT join, NULL signals
    preserved); the profiles are language/source-cardinality-bounded."""
    from .queries.corpus_ext import length_percentiles, ngram_novelty
    from .queries.corpus_mining import gopher_repetition, tokenizer_stats
    from .queries.corpus_ext import gopher_rules
    from .session import fast_commit
    from .sources import parquet_rows, table_rows

    fast_commit(spark)
    shapes = gopher_rules(spark, sf_dir).select(
        "doc_id", "source", "lang", "n_words",
        F.col("keep").alias("shape_keep"),
    )
    rep = gopher_repetition(spark, sf_dir).select(
        "doc_id", "dup_line_frac", "top2_char_frac", "dup10_tok_frac",
        F.col("keep").alias("repetition_keep"),
    )
    nov = ngram_novelty(spark, sf_dir).select(
        "doc_id", "n_runs", "n_novel", "novelty_micro"
    )
    audit = (
        shapes.join(rep, "doc_id")
        .join(nov, "doc_id", "left")
        .withColumn("clean", F.col("shape_keep") & F.col("repetition_keep"))
    )
    audit_path = os.path.join(out, "doc_audit")
    audit.write.mode("overwrite").parquet(audit_path)
    lang_path = os.path.join(out, "lang_profile")
    tokenizer_stats(spark, sf_dir).write.mode("overwrite").parquet(lang_path)
    len_path = os.path.join(out, "length_profile")
    length_percentiles(spark, sf_dir).write.mode("overwrite").parquet(len_path)

    a = spark.read.parquet(audit_path)
    agg = a.agg(
        F.sum(F.when(F.col("clean"), 1).otherwise(0)).alias("n_clean"),
        F.sum(F.when(~F.col("shape_keep"), 1).otherwise(0)).alias("n_shape_fail"),
        F.sum(F.when(~F.col("repetition_keep"), 1).otherwise(0)).alias(
            "n_repetition_fail"
        ),
        F.sum(F.coalesce("n_novel", F.lit(0))).alias("novel_runs"),
        F.expr(
            "bit_xor(xxhash64(doc_id, source, lang, n_words, shape_keep,"
            " repetition_keep, novelty_micro, clean))"
        ).alias("fingerprint"),
    ).collect()[0]
    rows = [
        ("docs_in", table_rows(sf_dir, "documents")),
        ("docs_audited", parquet_rows(audit_path)),
        ("clean", int(agg["n_clean"] or 0)),
        ("shape_fail", int(agg["n_shape_fail"] or 0)),
        ("repetition_fail", int(agg["n_repetition_fail"] or 0)),
        ("novel_runs", int(agg["novel_runs"] or 0)),
        ("lang_rows_written", parquet_rows(lang_path)),
        ("length_rows_written", parquet_rows(len_path)),
        ("audit_fingerprint", int(agg["fingerprint"] or 0)),
    ]
    return spark.createDataFrame(rows, "stage string, n long")
