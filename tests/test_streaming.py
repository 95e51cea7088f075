"""Streaming behavior tests: each streaming job, run to completion with the
availableNow trigger, must produce the same aggregation results as its
batch analog (the oracle-checked streaming_analog queries)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from synth_timeseries_data_spark.streaming import (
    stream_events,
    streaming_dedup,
    tumbling_stream,
)


@pytest.fixture(scope="module")
def events_dir(smoke_sf_dir):
    # The file-stream source requires a DIRECTORY; the fixture is one file.
    d = tempfile.mkdtemp(prefix="stream_events_")
    shutil.copy(
        os.path.join(smoke_sf_dir, "events.parquet"),
        os.path.join(d, "part-0.parquet"),
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete" if df.isStreaming else "append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_tumbling_stream_matches_batch(spark, events_dir, smoke_sf_dir):
    from synth_timeseries_data_spark.queries import all_queries

    stream = tumbling_stream(stream_events(spark, events_dir))
    q = _run_to_memory(stream, "tumbling_t")
    try:
        got = (
            spark.sql("SELECT * FROM tumbling_t")
            .toPandas()
            .sort_values(["hour_bucket", "event_type"])
            .reset_index(drop=True)
        )
        batch = (
            all_queries()["tumbling_agg"]
            .build(spark, smoke_sf_dir)
            .toPandas()
            .sort_values(["hour_bucket", "event_type"])
            .reset_index(drop=True)
        )
        assert got[["hour_bucket", "event_type", "n_events", "sum_value"]].equals(
            batch[["hour_bucket", "event_type", "n_events", "sum_value"]]
        )
    finally:
        q.stop()


def test_streaming_dedup_keeps_all_unique(spark, events_dir):
    """event_id is unique in the fixture, so watermarked dedup must be a
    row-preserving pass-through (state bounded by the watermark)."""
    ded = streaming_dedup(stream_events(spark, events_dir))
    out_dir = tempfile.mkdtemp(prefix="stream_dedup_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        q = (
            ded.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n_stream = spark.read.parquet(out_dir).count()
        n_batch = spark.read.parquet(events_dir).count()
        assert n_stream == n_batch
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_lagged_stream_matches_batch_flagship(spark, events_dir, smoke_sf_dir):
    """The custom stateful operator (applyInPandasWithState) must reproduce
    the batch flagship lag_features exactly: per-user last-two-values state,
    LAG-with-NULLs semantics, (ts, event_id) ordering."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import lagged_stream, stream_events

    q = _run_to_memory_append(
        lagged_stream(stream_events(spark, events_dir)), "lagged_t"
    )
    try:
        cols = ["user_id", "event_id", "ts_us", "value",
                "value_lag1", "value_lag2", "value_diff1"]
        got = (
            spark.sql("SELECT * FROM lagged_t")
            .toPandas()
            .sort_values(["user_id", "event_id"])
            .reset_index(drop=True)[cols]
        )
        batch = (
            all_queries()["lag_features"]
            .build(spark, smoke_sf_dir)
            .toPandas()
            .sort_values(["user_id", "event_id"])
            .reset_index(drop=True)[cols]
        )
        assert len(got) == len(batch) > 0
        import pandas.testing as pdt

        pdt.assert_frame_equal(got, batch, check_dtype=False)
    finally:
        q.stop()


def _run_to_memory_append(df, name: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


_GAP_US = 1_800_000_000  # 30 min, same gap as the session_agg analog


def test_sessionized_stream_matches_batch(spark, events_dir, smoke_sf_dir):
    """session_window sessions must be the same (user, start, last-event,
    count) tuples as the batch gaps-and-islands analog. Spark's
    session_window end is last-event-time + gap, the batch analog's
    session_end_us is the last event itself — subtract the gap to compare."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import sessionized_stream

    q = _run_to_memory(
        sessionized_stream(stream_events(spark, events_dir)), "session_t"
    )
    try:
        got = (
            spark.sql(
                "SELECT user_id, session_start_us, "
                f"session_end_us - {_GAP_US} AS last_event_us, n_events "
                "FROM session_t"
            )
            .toPandas()
            .sort_values(["user_id", "session_start_us"])
            .reset_index(drop=True)
        )
        batch = (
            all_queries()["session_agg"]
            .build(spark, smoke_sf_dir)
            .selectExpr(
                "user_id",
                "session_start_us",
                "session_end_us AS last_event_us",
                "n_events",
            )
            .toPandas()
            .sort_values(["user_id", "session_start_us"])
            .reset_index(drop=True)
        )
        assert len(got) == len(batch) > 0
        import pandas.testing as pdt

        pdt.assert_frame_equal(got, batch, check_dtype=False)
    finally:
        q.stop()


def test_tumbling_watermark_drops_late_rows(spark, tmp_path):
    """A row older than the checkpointed watermark must be excluded from its
    (already finalized) window. Run 1 processes on-time data and checkpoints
    a watermark near hour 10; run 2 resumes the checkpoint and feeds one
    very-late hour-1 row — the emitted hour-1 window must count only the
    on-time event."""
    import pyspark.sql.functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    hour_ns = 3_600_000_000_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def write_file(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        # file source wants files appearing inside src
        import glob
        import shutil as sh

        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        sh.copy(part, os.path.join(src, f"{name}.parquet"))

    def run_once(tag):
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts_event", F.timestamp_micros(F.expr("ts div 1000")))
        )
        from synth_timeseries_data_spark.streaming import tumbling_stream

        q = (
            tumbling_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # Run 1: one event in each of hours 1..10 — watermark lands at ~10h-10min.
    write_file(
        [(i, i * hour_ns + hour_ns // 2, 1, "a", 1.0, None) for i in range(1, 11)],
        "batch1",
    )
    run_once("r1")

    # Run 2: a single very-late hour-1 row, far behind the watermark.
    write_file([(99, hour_ns + hour_ns // 4, 1, "a", 1.0, None)], "batch2")
    run_once("r2")

    emitted = {
        int(r["hour_bucket"]): int(r["n_events"])
        for r in spark.read.parquet(out).collect()
    }
    # The hour-1 window must have been finalized and emitted with ONLY the
    # on-time event; the late row was dropped by the watermark.
    assert emitted.get(1) == 1


def test_sliding_stream_matches_batch(spark, events_dir, smoke_sf_dir):
    """The 4-overlapping-windows streaming operator must equal the batch
    two-level bucket rollup (same FLOOR-micro sums, same window set)."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import sliding_stream, stream_events

    stream = sliding_stream(stream_events(spark, events_dir))
    q = _run_to_memory(stream, "sliding_t")
    try:
        cols = ["win_start_qtr", "event_type", "n_events", "sum_value"]
        got = (
            spark.sql("SELECT * FROM sliding_t")
            .toPandas()
            .sort_values(["win_start_qtr", "event_type"])
            .reset_index(drop=True)
        )
        batch = (
            all_queries()["sliding_agg"]
            .build(spark, smoke_sf_dir)
            .toPandas()
            .sort_values(["win_start_qtr", "event_type"])
            .reset_index(drop=True)
        )
        assert got[cols].equals(batch[cols])
    finally:
        q.stop()


def test_watermark_evicts_state_under_processing_time_trigger(spark):
    """100 TB posture: windowed-agg state must be SIZE-BOUNDED, which is the
    watermark's job. The availableNow replays above can't show eviction (one
    final watermark), so this runs a REAL processing-time trigger on a rate
    source whose synthetic event time advances ~100 event-seconds per wall
    second: 10s windows + 5s watermark means every micro-batch closes ~10
    windows and must REMOVE their state rows. Asserts via stateOperators
    metrics that (a) rows are removed, and (b) live state stays bounded far
    below the total number of windows ever created."""
    import time

    import pyspark.sql.functions as F

    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .option("numPartitions", 2)
        .load()
    )
    windowed = (
        rate.select(F.timestamp_seconds(F.col("value")).alias("etime"), "value")
        .withWatermark("etime", "5 seconds")
        .groupBy(F.window("etime", "10 seconds"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        windowed.writeStream.format("memory")
        .queryName("wm_evict_t")
        .outputMode("append")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        removed, max_live = 0, 0
        deadline = time.time() + 60
        while time.time() < deadline:
            time.sleep(1.0)
            for p in q.recentProgress:
                for op in p.get("stateOperators", []):
                    removed = max(removed, op.get("numRowsRemoved") or 0)
                    max_live = max(max_live, op.get("numRowsTotal") or 0)
            if removed > 0:
                break
        assert removed > 0, "watermark never evicted any state rows"
        # ~10 windows/s of event time are created; live state must stay in
        # the same ballpark as (watermark lag + trigger latency) windows,
        # not accumulate every window ever opened
        n_closed = spark.sql("SELECT COUNT(*) FROM wm_evict_t").collect()[0][0]
        assert max_live < max(50, 5 * max(n_closed, 1)), (
            f"state grew to {max_live} rows while only {n_closed} windows "
            "closed — watermark is not bounding state"
        )
    finally:
        q.stop()


def test_contamination_stream_matches_batch(spark, smoke_sf_dir):
    """Stream-static join twin: streaming test-split docs joined against
    the static train-fingerprint relation must emit exactly the pairs the
    batch contamination_check query reports."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import (
        contamination_stream,
        stream_documents,
        train_fingerprints,
    )

    docs_dir = tempfile.mkdtemp(prefix="stream_docs_")
    try:
        shutil.copy(
            os.path.join(smoke_sf_dir, "documents.parquet"),
            os.path.join(docs_dir, "part-0.parquet"),
        )
        static = train_fingerprints(spark, docs_dir)
        stream = contamination_stream(stream_documents(spark, docs_dir), static)
        q = (
            stream.writeStream.format("memory")
            .queryName("contam_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.test_doc, r.train_doc)
            for r in spark.sql("SELECT * FROM contam_stream").collect()
        }
        expected = {
            (r.test_doc, r.train_doc)
            for r in all_queries()["contamination_check"]
            .build(spark, smoke_sf_dir)
            .collect()
        }
        assert got == expected and len(expected) > 0
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)


def test_packing_stream_matches_batch_manifest(spark, smoke_sf_dir):
    """Stateful packer twin: the streaming per-doc window assignments,
    rolled up to (bucket, seq_id) manifests, must equal the batch
    pack_sequences manifest exactly when the corpus is replayed in order
    (streaming packing is arrival-order by definition; the batch twin packs
    in (bucket, doc_id) order)."""
    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import (
        packing_stream,
        stream_documents,
    )

    docs_dir = tempfile.mkdtemp(prefix="stream_pack_")
    try:
        shutil.copy(
            os.path.join(smoke_sf_dir, "documents.parquet"),
            os.path.join(docs_dir, "part-0.parquet"),
        )
        stream = packing_stream(stream_documents(spark, docs_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName("pack_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.bucket, r.seq_id): (r.n_docs, r.n_tokens)
            for r in spark.sql(
                "SELECT bucket, seq_id, COUNT(*) AS n_docs, "
                "CAST(SUM(n_tokens) AS BIGINT) AS n_tokens "
                "FROM pack_stream GROUP BY bucket, seq_id"
            ).collect()
        }
        expected = {
            (r.bucket, r.seq_id): (r.n_docs, r.n_tokens)
            for r in all_queries()["pack_sequences"]
            .build(spark, smoke_sf_dir)
            .collect()
        }
        assert got == expected and len(expected) > 0
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)


def test_mix_stream_matches_batch_domain_mix(spark, smoke_sf_dir):
    """Running-mixture twin: after the whole corpus replays (availableNow,
    complete mode — state is one row per source), the per-source doc and
    token tallies must equal the batch domain_mix columns exactly; the
    weight columns are a deterministic finalization of these tallies, so
    tally equality IS weight equality."""
    import os
    import shutil
    import tempfile

    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import mix_stream, stream_documents

    docs_dir = tempfile.mkdtemp(prefix="stream_mix_")
    try:
        shutil.copy(
            os.path.join(smoke_sf_dir, "documents.parquet"),
            os.path.join(docs_dir, "part-0.parquet"),
        )
        stream = mix_stream(stream_documents(spark, docs_dir))
        q = (
            stream.writeStream.format("memory")
            .queryName("mix_stream_t")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.source: (r.n_docs, r.n_tokens)
            for r in spark.sql("SELECT * FROM mix_stream_t").collect()
        }
        expected = {
            r.source: (r.n_docs, r.n_tokens)
            for r in all_queries()["domain_mix"].build(spark, smoke_sf_dir).collect()
        }
        assert got == expected and len(expected) > 0
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)


def test_docdedup_stream_matches_batch_firstseen(spark, smoke_sf_dir):
    """Streaming exact dedup twin: under ordered replay (file source
    streams rows in doc_id order), the kept set must equal batch
    dedup_firstseen's keep-lowest-doc_id-per-md5(text) exactly."""
    import os
    import shutil
    import tempfile

    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.streaming import docdedup_stream, stream_documents

    docs_dir = tempfile.mkdtemp(prefix="stream_dd_")
    try:
        shutil.copy(
            os.path.join(smoke_sf_dir, "documents.parquet"),
            os.path.join(docs_dir, "part-0.parquet"),
        )
        q = (
            docdedup_stream(stream_documents(spark, docs_dir))
            .writeStream.format("memory")
            .queryName("dd_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {r.doc_id for r in spark.sql("SELECT doc_id FROM dd_stream").collect()}
        expected = {
            r.doc_id
            for r in all_queries()["dedup_firstseen"].build(spark, smoke_sf_dir).collect()
        }
        assert got == expected and len(expected) > 0
    finally:
        shutil.rmtree(docs_dir, ignore_errors=True)


def test_sliding_rollup_form_equals_one_level_form(spark, oracle_sf_dir):
    """The size-gated two-level rollup (partial per quarter → explode
    partials → re-combine) must produce exactly the one-exchange form's
    result — the gate may only ever change the plan, never the answer."""
    from synth_timeseries_data_spark.queries import _SPARK_D
    from synth_timeseries_data_spark.queries.streaming_analog import (
        _sliding_rollup_sql,
        _sliding_sql,
    )
    from synth_timeseries_data_spark.sources import load

    load(spark, oracle_sf_dir, "events").createOrReplaceTempView("events")
    one = spark.sql(_sliding_sql(_SPARK_D))
    two = spark.sql(_sliding_rollup_sql(_SPARK_D))
    key = lambda r: (r["win_start_qtr"], r["event_type"])  # noqa: E731
    a = sorted(one.collect(), key=key)
    b = sorted(two.collect(), key=key)
    assert a == b and len(a) > 0


def test_dedup_exactly_once_across_checkpoint_restart(spark, tmp_path):
    """Restart-from-checkpoint must not re-emit already-emitted keys: run 1
    processes a batch of unique events; run 2 resumes the SAME checkpoint
    and feeds duplicates of run-1 keys (inside the watermark horizon) plus
    new keys. The parquet sink must hold every key exactly once."""
    import glob
    import shutil as sh

    import pyspark.sql.functions as F

    from synth_timeseries_data_spark.streaming import streaming_dedup

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    minute_ns = 60_000_000_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def write_file(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        sh.copy(part, os.path.join(src, f"{name}.parquet"))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts_event", F.timestamp_micros(F.expr("ts div 1000")))
        )
        q = (
            streaming_dedup(stream)
            .select("event_id", "ts")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    # Run 1: 10 unique events a minute apart.
    batch1 = [(i, i * minute_ns, 1, "a", 1.0, None) for i in range(1, 11)]
    write_file(batch1, "batch1")
    run_once()

    # Run 2 (resumed checkpoint): exact duplicates of keys 8..10 — well
    # inside the 1 h watermark horizon, so only dedup STATE can drop them —
    # plus new keys 11..13.
    batch2 = [(i, i * minute_ns, 1, "a", 1.0, None) for i in range(8, 14)]
    write_file(batch2, "batch2")
    run_once()

    ids = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert ids == list(range(1, 14)), ids  # every key exactly once


def test_lagged_stream_state_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState state must round-trip through the checkpoint:
    after run 1 processes values 1.0 and 2.0 for a user, a resumed run 2
    event must see value_lag1=2.0 / value_lag2=1.0 from the RESTORED state,
    not start cold."""
    import glob
    import shutil as sh

    import pyspark.sql.functions as F

    from synth_timeseries_data_spark.streaming import lagged_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    minute_ns = 60_000_000_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )

    def write_file(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        sh.copy(part, os.path.join(src, f"{name}.parquet"))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts_event", F.timestamp_micros(F.expr("ts div 1000")))
        )
        q = (
            lagged_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    write_file(
        [(1, 1 * minute_ns, 7, "a", 1.0, None),
         (2, 2 * minute_ns, 7, "a", 2.0, None)],
        "batch1",
    )
    run_once()
    write_file([(3, 3 * minute_ns, 7, "a", 5.0, None)], "batch2")
    run_once()

    rows = {r["event_id"]: r for r in spark.read.parquet(out).collect()}
    assert rows[3]["value_lag1"] == 2.0
    assert rows[3]["value_lag2"] == 1.0
    assert rows[3]["value_diff1"] == 3.0


def test_curate_ingest_stream_replays_to_one_shot(spark, smoke_sf_dir, tmp_path):
    """Streaming incremental curation: two manifest files (doc_id ranges)
    replayed availableNow must publish one version per increment and end
    with EXACTLY the one-shot kept corpus — the streaming twin of the CLI
    two-batch test."""
    import os

    from synth_timeseries_data_spark.sinks import (
        curate_ingest_stream,
        published_info,
        write_curated_corpus,
    )

    man = tmp_path / "manifests"
    man.mkdir()
    spark.createDataFrame([(0, 249)], "lo long, hi long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(man / "b1"))
    spark.createDataFrame([(250, 10_000_000)], "lo long, hi long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(man / "b2"))
    # the stream reads a flat dir of manifest files (one file = one
    # increment under maxFilesPerTrigger=1)
    flat = tmp_path / "flat"
    flat.mkdir()
    import glob
    import shutil

    for i, sub in enumerate(("b1", "b2")):
        src = glob.glob(str(man / sub / "part-*.parquet"))[0]
        shutil.copy(src, str(flat / f"{i}.parquet"))

    out = str(tmp_path / "inc")
    pub = str(tmp_path / "pub")
    q = curate_ingest_stream(
        spark,
        smoke_sf_dir,
        str(flat),
        out,
        checkpoint=str(tmp_path / "ck"),
        publish_root=pub,
    )
    q.awaitTermination(300)
    assert published_info(pub)["version"] == 2

    ref = str(tmp_path / "oneshot")
    write_curated_corpus(spark, smoke_sf_dir, ref)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(pub, "v2"))
            .select("doc_id", "source", "text")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(ref, "corpus"))
            .select("doc_id", "source", "text")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_hll_ingest_stream_replays_to_one_shot(spark, smoke_sf_dir, tmp_path):
    """Streaming HLL maintenance: replaying the corpus as two arbitrary
    batches and MAX-merging the appended register partials must produce
    BIT-IDENTICAL per-source estimates to the one-shot hll_distinct
    query — the mergeability the sketch exists for. Also pins
    at-least-once absorption: re-appending one batch's registers (a
    duplicate delivery) must not move the estimate."""
    import glob
    import shutil

    from synth_timeseries_data_spark.queries import all_queries
    from synth_timeseries_data_spark.queries import llm_pipeline as lp
    from synth_timeseries_data_spark.streaming.jobs import hll_ingest_stream

    docs = spark.read.parquet(f"{smoke_sf_dir}/documents.parquet")
    flat = tmp_path / "arrivals"
    flat.mkdir()
    for i, pred in enumerate(("doc_id % 2 = 0", "doc_id % 2 = 1")):
        sub = tmp_path / f"b{i}"
        docs.where(pred).coalesce(1).write.mode("overwrite").parquet(str(sub))
        shutil.copy(
            glob.glob(str(sub / "part-*.parquet"))[0],
            str(flat / f"{i}.parquet"),
        )

    regs = str(tmp_path / "registers")
    feed = str(tmp_path / "feed")
    q = hll_ingest_stream(
        spark, str(flat), regs, feed, checkpoint=str(tmp_path / "ck")
    )
    q.awaitTermination(300)

    est = {
        r.source: (r.n_registers_hit, r.hll_raw, r.distinct_estimate)
        for r in spark.sql(lp._hll_estimate_sql(f"parquet.`{regs}`")).collect()
    }
    one_shot = {
        r.source: (r.n_registers_hit, r.hll_raw, r.distinct_estimate)
        for r in all_queries()["hll_distinct"].build(spark, smoke_sf_dir).collect()
    }
    assert est == one_shot and len(est) > 0

    # the monitoring feed carries one row set per batch, and the read
    # helper restores the writer's BIGINT batch_id contract (partition
    # type inference would narrow it to INT)
    from synth_timeseries_data_spark.streaming.jobs import (
        read_hll_estimate_feed,
    )

    feed_rows = read_hll_estimate_feed(spark, feed)
    assert feed_rows.select("batch_id").distinct().count() == 2
    assert dict(feed_rows.dtypes)["batch_id"] == "bigint"

    # duplicate delivery: re-append batch 0's registers; MAX-merge absorbs it
    b0 = spark.read.parquet(str(tmp_path / "b0"))
    b0.createOrReplaceTempView("_hll_dup_batch")
    spark.sql(
        lp._hll_registers_sql(lp._SPARK_D, "_hll_dup_batch")
    ).write.mode("append").parquet(regs)
    est2 = {
        r.source: (r.n_registers_hit, r.hll_raw, r.distinct_estimate)
        for r in spark.sql(lp._hll_estimate_sql(f"parquet.`{regs}`")).collect()
    }
    assert est2 == one_shot

    # feed idempotency (ADVICE r9): replaying an epoch's estimate publish
    # must REPLACE its batch_id partition, not append a duplicate row set —
    # per-batch row counts and the batch_id set are unchanged after replay.
    from synth_timeseries_data_spark.streaming.jobs import (
        _hll_publish_estimate,
    )

    before = sorted(
        map(
            tuple,
            spark.read.parquet(feed)
            .groupBy("batch_id").count().collect(),
        )
    )
    _hll_publish_estimate(spark, regs, feed, epoch_id=1)  # replayed delivery
    after_rows = spark.read.parquet(feed)
    after = sorted(map(tuple, after_rows.groupBy("batch_id").count().collect()))
    assert after == before
    # and the replayed partition holds exactly one row per source
    per_source = (
        after_rows.where("batch_id = 1").groupBy("source").count().collect()
    )
    assert per_source and all(r["count"] == 1 for r in per_source)
