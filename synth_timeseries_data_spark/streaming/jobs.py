"""Structured-Streaming jobs over the event stream.

`readStream` file source replaying the events parquet → watermarked
windowed aggregations / session windows / stateful dedup. Each job's
aggregation semantics must equal its batch analog in
queries/streaming_analog.py — asserted by tests/test_streaming.py using the
availableNow trigger (process-everything-then-stop), which makes streaming
output comparable to batch output.

The engine's canonical events.ts is an epoch-ns BIGINT (sources/tables.py
normalizes whatever the fixture physically stores), so jobs first
materialize a real TIMESTAMP column — watermarks and window() need
event-time typing.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _ts_physical_unit(events_dir: str) -> str:
    """Sniff the parquet footer for events.ts's physical encoding.

    The fixture has shipped BOTH INT64 TIMESTAMP(NANOS) and timestamp[us]
    across driver generations (see sources/tables.py::load, which handles
    this for batch); a streaming reader's explicit schema must match the
    footer or every job fails at read. Returns "ns" or "us".
    """
    import pyarrow.parquet as pq

    path = events_dir
    if os.path.isdir(path):
        for entry in sorted(os.listdir(path)):
            if entry.endswith(".parquet"):
                path = os.path.join(path, entry)
                break
    ts_type = pq.read_schema(path).field("ts").type
    # timestamp[ns]/timestamp[us] expose .unit; a plain INT64 (no logical
    # type) is already epoch-ns in this fixture lineage → treat as "ns"
    return getattr(ts_type, "unit", "ns")


def stream_events(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream of events with a proper event-time column.

    The explicit readStream schema is chosen by sniffing the parquet footer
    (same dual-encoding handling as the batch loader): TIMESTAMP(NANOS)
    reads as bigint nanos under `nanosAsLong`, timestamp[us] reads as
    TIMESTAMP_NTZ and is normalized with timezone-free arithmetic.
    `maxFilesPerTrigger=1` keeps micro-batches small; `ts` is normalized to
    the canonical nanosecond BIGINT and ts_event to TIMESTAMP via
    microseconds, so every downstream job sees the same shapes as batch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    unit = _ts_physical_unit(events_dir)
    ts_sql_type = "long" if unit == "ns" else "timestamp_ntz"
    schema = (
        f"event_id long, ts {ts_sql_type}, user_id long, event_type string, "
        "value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    if unit != "ns":
        raw = raw.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            )
            * F.lit(1000).cast("bigint"),
        )
    return raw.withColumn("ts_event", F.timestamp_micros(F.expr("ts div 1000")))


def tumbling_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked 1-hour tumbling aggregation — the streaming twin of the
    tumbling_agg query; late rows beyond the watermark are dropped."""
    return (
        events.withWatermark("ts_event", watermark)
        .groupBy(F.window("ts_event", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint")).cast(
                    "double"
                )
                / 1000000.0
            ).alias("sum_value"),
        )
        .select(
            (F.unix_micros("window.start") / 3_600_000_000)
            .cast("bigint")
            .alias("hour_bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_stream(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Watermarked 1-hour windows sliding every 15 min — the streaming twin
    of the sliding_agg batch analog. The engine's window operator maintains
    4 overlapping window states per key; its partial aggregation is exactly
    the two-level bucket rollup the batch form spells out. Sums mirror the
    batch FLOOR-micro bigint accumulation so results compare bit-exactly."""
    return (
        events.withWatermark("ts_event", watermark)
        .groupBy(F.window("ts_event", "1 hour", "15 minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.floor(F.col("value") * 1000000.0).cast("bigint")).cast(
                    "double"
                )
                / 1000000.0
            ).alias("sum_value"),
        )
        .select(
            F.floor(F.unix_micros("window.start") / 900_000_000)
            .cast("double")
            .alias("win_start_qtr"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionized_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with an inactivity gap — the streaming form of the
    reference's burst semantics (G14) and of the session_agg analog."""
    return (
        events.withWatermark("ts_event", "10 minutes")
        .groupBy(F.session_window("ts_event", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start_us"),
            F.unix_micros("session_window.end").alias("session_end_us"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful exact dedup on event_id within the watermark horizon —
    `dropDuplicates` with event-time bound so state is reclaimable."""
    return events.withWatermark("ts_event", watermark).dropDuplicates(
        ["event_id", "ts_event"]
    )


def lagged_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: the streaming
    twin of the flagship lag_features query. Per user, the last two observed
    values persist in state across micro-batches; each arriving event emits
    its (value_lag1, value_lag2, value_diff1) exactly as the batch window
    form computes them. State is two doubles per key — bounded, no timeline
    kept — which is the shape that scales to millions of keys.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, event_id bigint, ts_us bigint, value double, "
        "value_lag1 double, value_lag2 double, value_diff1 double"
    )
    state_schema = "lag1 double, lag2 double"

    def step(key, pdfs, state: GroupState):
        (user_id,) = key
        lag1, lag2 = state.get if state.exists else (None, None)
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_event", "event_id"])
            for r in pdf.itertuples(index=False):
                v = float(r.value) if r.value == r.value else None
                rows.append(
                    (
                        int(user_id),
                        int(r.event_id),
                        int(r.ts) // 1000,
                        v,
                        lag1,
                        lag2,
                        None if (v is None or lag1 is None) else v - lag1,
                    )
                )
                lag1, lag2 = v, lag1
        state.update((lag1, lag2))
        yield pd.DataFrame(
            rows,
            columns=[
                "user_id", "event_id", "ts_us", "value",
                "value_lag1", "value_lag2", "value_diff1",
            ],
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            step,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


_DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_FP_EXPR = (
    "md5(CONCAT(element_at(split(text, ' '), 1), ' ', "
    "element_at(split(text, ' '), 2), ' ', element_at(split(text, ' '), 3)))"
)
_SPLIT_BUCKET = (
    "CAST(CONV(SUBSTR(md5(CONCAT('split|', CAST(doc_id AS STRING))), 1, 15), "
    "16, 10) AS BIGINT) % 100"
)


def stream_documents(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream of documents (the arriving-corpus side of
    streaming curation jobs)."""
    return (
        spark.readStream.schema(_DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def train_fingerprints(spark: SparkSession, docs_dir: str) -> DataFrame:
    """STATIC side for contamination_stream: leading-3-shingle fingerprints
    of the train split, built batch-side from the reference corpus. At
    cluster scale this is the artifact you persist once (write_bucketed on
    the fingerprint) and rescan per stream; here it is a small DataFrame
    the planner broadcasts into every micro-batch."""
    return (
        spark.read.schema(_DOCS_SCHEMA)
        .parquet(docs_dir)
        .where(f"size(split(text, ' ')) >= 3 AND {_SPLIT_BUCKET} < 80")
        .selectExpr("doc_id AS train_doc", f"{_FP_EXPR} AS fingerprint")
    )


_PACK_BUCKET = (
    "CAST(CAST(CONV(SUBSTR(md5(CONCAT('pack|', CAST(doc_id AS STRING))), 1, 15), "
    "16, 10) AS BIGINT) % 64 AS INT)"
)


def packing_stream(docs: DataFrame) -> DataFrame:
    """Streaming sequence packer — the stateful-ingestion twin of the batch
    `pack_sequences` query (queries/corpus_ext.py). Per md5 bucket, the
    running token count persists in state across micro-batches (ONE bigint
    per bucket — bounded forever, no timeline kept); each arriving document
    is assigned the 2048-token context window its first token lands in and
    emitted immediately. Streaming packing is arrival-order by definition;
    the batch twin packs in (bucket, doc_id) order, so an ordered replay of
    the corpus produces the identical per-window manifest (asserted in
    tests/test_streaming.py). At scale this is the shape of a continuous
    ingestion packer: 64-way keyed state, no shuffle beyond the bucket
    exchange, emit-on-arrival."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "bucket int, doc_id long, n_tokens long, seq_id long"
    state_schema = "cum long"

    def step(key, pdfs, state: GroupState):
        (bucket,) = key
        cum = state.get[0] if state.exists else 0
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values("doc_id")
            for r in pdf.itertuples(index=False):
                n = int(r.n)
                rows.append((int(bucket), int(r.doc_id), n, cum // 2048))
                cum += n
        state.update((cum,))
        yield pd.DataFrame(
            rows, columns=["bucket", "doc_id", "n_tokens", "seq_id"]
        )

    pre = docs.selectExpr(
        f"{_PACK_BUCKET} AS bucket",
        "doc_id",
        "size(split(text, ' ')) AS n",
    )
    return pre.groupBy("bucket").applyInPandasWithState(
        step,
        out_schema,
        state_schema,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def contamination_stream(docs: DataFrame, train_fps: DataFrame) -> DataFrame:
    """Streaming train/test leakage check: fingerprint each ARRIVING
    test-split document and stream-static inner-join against the train
    fingerprint relation — the streaming twin of the batch
    `contamination_check` query (queries/llm_pipeline.py). Stateless (no
    watermark needed: the static side is bounded and the join emits on
    arrival), so state never grows with the stream; the static side
    broadcasts per micro-batch. Same semantics as batch asserted in
    tests/test_streaming.py."""
    test_fp = docs.where(
        f"size(split(text, ' ')) >= 3 AND {_SPLIT_BUCKET} >= 90"
    ).selectExpr("doc_id AS test_doc", f"{_FP_EXPR} AS fingerprint")
    return test_fp.join(train_fps, "fingerprint").select(
        "test_doc", "train_doc", "fingerprint"
    )


def mix_stream(docs: DataFrame) -> DataFrame:
    """Running source-mixture statistics — the streaming twin of the batch
    `domain_mix` query (queries/corpus_ext.py). A continuously-ingesting
    curation pipeline needs the per-source doc/token tallies LIVE (they
    drive the sampler's mixture weights); this maintains exactly that:
    groupBy(source) with count + exact BIGINT token sums, state bounded by
    source cardinality forever (one row per source — no watermark needed,
    nothing ever evicts). The temperature-weight arithmetic stays a
    finalization over this tiny relation (batch-side, same SQL as
    domain_mix's window tail) — recomputing weights per micro-batch would
    put a global normalization inside the stream for no benefit.
    Completeness vs batch asserted in tests/test_streaming.py."""
    pre = docs.selectExpr("source", "size(split(text, ' ')) AS n")
    return pre.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("bigint").alias("n_tokens"),
    )


def docdedup_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup of the arriving corpus — the streaming twin
    of the batch `dedup_firstseen` query: every arriving document is kept
    iff its text fingerprint has not been seen before. State is one
    fingerprint per DISTINCT document — that is the dedup index itself
    (exact dedup at any scale carries exactly this state; at 100 TB it is
    the RocksDB-backed keyed store, or a bloom-with-false-positive
    variant when approximate suppression is acceptable). No watermark on
    purpose: content dedup has no event-time horizon — a duplicate a
    month later is still a duplicate.

    SURVIVOR NONDETERMINISM (by design): dropDuplicates keeps the FIRST
    ARRIVAL per fingerprint, while the batch twin keeps min(doc_id). The
    kept doc_id sets coincide only when duplicates arrive in doc_id order
    (e.g. ordered single-partition replay, the test's setup); a
    multi-file or multi-partition source may keep a different — equally
    valid — representative per group. This is inherent to append-mode
    streaming, not an implementation shortcut: once a representative is
    emitted, a later lower-id duplicate cannot retract it, so min(doc_id)
    parity is impossible without buffering every group forever (complete
    mode over unbounded state). Downstream consumers must treat the
    survivor as an arbitrary group representative; only the kept
    FINGERPRINT set is deterministic. Kept-set equality vs the batch
    query under ordered replay is asserted in tests/test_streaming.py."""
    fp = docs.selectExpr("doc_id", "md5(text) AS fp", "source")
    return fp.dropDuplicates(["fp"])


def hll_ingest_stream(
    spark: SparkSession,
    docs_dir: str,
    registers_table: str,
    out_dir: str,
    checkpoint: str,
):
    """Streaming HyperLogLog maintenance: a file-source stream over
    ``docs_dir`` (each arriving parquet file = one micro-batch of
    documents) computes the batch's (source, bucket, mj) registers with
    the SAME fragment the registry's hll_distinct query uses and APPENDS
    them to ``registers_table`` — no rewrite, no read-modify-write: HLL
    registers merge by MAX, so overlapping appended partials are merged
    on read, and after replaying a corpus in ANY batch split the merged
    registers are bit-identical to the one-shot sketch (pinned in
    tests/test_streaming.py). After each append, the per-source estimate
    over everything ingested so far goes to ``out_dir`` with the batch
    id — the vocabulary-growth monitoring feed a crawl operator watches.

    This is the sketch whose merge story the operator exists for: at
    100 TB the register append is a few KB per batch per source, the
    estimate read scans register partials only (never the corpus), and
    an unclean restart needs NO rebuild — re-appended batch registers
    are idempotent under MAX-merge (at-least-once delivery is exactly
    absorbed, unlike count-based state). The estimate feed is idempotent
    too (ADVICE r9): each batch's rows land in a batch_id=N partition
    via dynamic-partition OVERWRITE, so a replayed batch replaces its
    own partition instead of appending a duplicate row set — consumers
    see exactly one estimate per batch id, and a late replay refreshes
    it from the (monotone-richer) register state rather than leaving a
    stale duplicate. availableNow-triggered; returns the started
    StreamingQuery."""
    import uuid

    from ..queries import _SPARK_D as d
    from ..queries import llm_pipeline as lp

    stream_tag = uuid.uuid4().hex[:12]
    docs = stream_documents(spark, docs_dir)

    def _append_and_estimate(batch: DataFrame, epoch_id: int) -> None:
        s = batch.sparkSession
        view = f"_hll_ingest_batch_{stream_tag}"
        batch.createOrReplaceTempView(view)
        regs = s.sql(lp._hll_registers_sql(d, view))
        regs.write.mode("append").parquet(registers_table)
        _hll_publish_estimate(s, registers_table, out_dir, epoch_id)

    return (
        docs.writeStream.foreachBatch(_append_and_estimate)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def _hll_publish_estimate(
    spark: SparkSession, registers_table: str, out_dir: str, epoch_id: int
) -> None:
    """Publish the per-source HLL estimate over everything ingested so far
    into ``out_dir``, keyed by batch: one ``batch_id=N`` partition per
    micro-batch, written with dynamic-partition overwrite so re-running
    the same epoch (at-least-once replay after an unclean restart)
    REPLACES that batch's rows instead of appending duplicates. Module-
    level so tests can drive the replay path directly."""
    import os

    from ..queries import llm_pipeline as lp

    est = spark.sql(
        lp._hll_estimate_sql(f"parquet.`{os.path.abspath(registers_table)}`")
    ).selectExpr("*", f"CAST({epoch_id} AS BIGINT) AS batch_id")
    (
        est.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out_dir)
    )


def read_hll_estimate_feed(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the estimate feed with its batch_id contract normalized.

    The feed is hive-partitioned by ``batch_id`` (the replay-idempotence
    device above), and Spark's partition-column TYPE INFERENCE would
    otherwise surface batch_id as INT — a silent narrowing vs the BIGINT
    epoch ids the writer casts. Consumers should read through this
    helper (or cast themselves); mixing a pre-partitioned flat feed dir
    with this layout is not supported — use a fresh out_dir."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(out_dir)
    return df.withColumn("batch_id", F.col("batch_id").cast("bigint"))
