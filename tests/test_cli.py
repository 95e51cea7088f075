"""CLI surface (__main__.py): the reference's per-family script workflow
as one distributed entrypoint — list / query / generate drive the same
registry and sweep machinery the driver contract uses."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from synth_timeseries_data_spark.__main__ import main


def test_cli_list_prints_registry(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "asof_lag" in out and "[oracle]" in out
    assert "scm_generate" in out and "rows-only" in out


def test_cli_query_writes_parquet(spark, oracle_sf_dir):
    out = tempfile.mkdtemp(prefix="cli_q_")
    try:
        assert main(["query", "summary_stats", "--sf-dir", oracle_sf_dir, "--out", out]) == 0
        got = spark.read.parquet(out)
        assert got.count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_query_unknown_name_fails(spark, oracle_sf_dir):
    assert main(["query", "no_such_query", "--sf-dir", oracle_sf_dir]) == 2


def test_cli_generate_single_family_tree(spark):
    """A pure-family subset is the case that once leaked DECIMAL literals
    into the kernels (see the float cast of the sweep's VALUES literal in
    queries/generation.py); the tree must land partitioned by (family,
    config_id) with real float values, plus the structure sidecar."""
    out = tempfile.mkdtemp(prefix="cli_g_")
    try:
        assert main(["generate", "--families", "c1", "--out", out, "--format", "parquet"]) == 0
        tree = spark.read.parquet(os.path.join(out, "complete"))
        assert tree.where("family = 'c1'").count() > 0
        assert dict(tree.dtypes)["value"] == "double"
        # one directory per config — the reference's tree shape
        fam_dir = os.path.join(out, "complete", "family=c1")
        assert any(e.startswith("config_id=") for e in os.listdir(fam_dir))
        assert os.path.isdir(os.path.join(out, "structure"))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_generate_runs_one_job_per_umbrella(spark):
    """A one-umbrella `generate` runs exactly one Spark job: the series
    write. The structure sidecar is rendered in Python and written from the
    driver."""
    out = tempfile.mkdtemp(prefix="cli_gj_")
    argv = ["generate", "--families", "c2", "--out", out, "--format", "parquet"]
    sc = spark.sparkContext
    try:
        sc.setJobGroup("cli_generate_jobs", "generate --families c2")
        try:
            assert main(argv) == 0
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert len(sc.statusTracker().getJobIdsForGroup("cli_generate_jobs")) == 1
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_generate_sidecar_holds_the_written_families(spark):
    """The sidecar declares the edges of the families written and of no
    other; a2c's grammar drops every equation, so it adds no row."""
    out = tempfile.mkdtemp(prefix="cli_gs_")
    try:
        argv = ["generate", "--families", "c2,a2c", "--out", out,
                "--format", "parquet"]
        assert main(argv) == 0
        side = spark.read.json(os.path.join(out, "structure"))
        got = side.groupBy("family").count().collect()
        assert [(r["family"], r["count"] > 0) for r in got] == [("c2", True)]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_generate_unknown_family_fails(spark):
    out = tempfile.mkdtemp(prefix="cli_gf_")
    try:
        assert main(["generate", "--families", "zz9", "--out", out]) == 2
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_generate_writes_each_umbrella_once(spark):
    """One call over both twins of two umbrellas: each umbrella directory
    is written once, so every family is read back with its grid's config
    count."""
    out = tempfile.mkdtemp(prefix="cli_gu_")
    try:
        argv = ["generate", "--families", "c2,c2c,d1,d1c", "--out", out,
                "--format", "parquet"]
        assert main(argv) == 0
        got = {}
        for umbrella in ("complete", "masked"):
            tree = spark.read.parquet(os.path.join(out, umbrella))
            for r in tree.groupBy("family").agg(
                F.countDistinct("config_id").alias("n")
            ).collect():
                got[r["family"]] = r["n"]
        assert got == {"c2": 16, "c2c": 16, "d1": 24, "d1c": 24}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_generate_checks_families_before_writing(spark):
    out = tempfile.mkdtemp(prefix="cli_gk_")
    try:
        argv = ["generate", "--families", "c2,zz9", "--out", out,
                "--format", "parquet"]
        assert main(argv) == 2
        assert not os.path.exists(os.path.join(out, "complete"))
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_plot_bundle_writes_partitioned_frames(spark, smoke_sf_dir, capsys):
    out = tempfile.mkdtemp(prefix="cli_pb_")
    try:
        assert main(["plot-bundle", "--sf-dir", smoke_sf_dir, "--out", out]) == 0
        printed = capsys.readouterr().out
        for frame in ("decomposition", "sampling_hist", "missing_pattern"):
            assert os.path.isdir(os.path.join(out, f"frame={frame}"))
            assert f"frame={frame}" in printed
        deco = spark.read.parquet(os.path.join(out, "frame=decomposition"))
        assert deco.count() > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_curate_pipeline_consistent_with_components(spark, smoke_sf_dir, capsys):
    """The curate workflow's decisions table must agree row-for-row with
    the component queries it composes (gopher_rules verdicts, dsir_weights
    values, the quality-aware survivor rule recomputed from
    dedup_clusters + the shared quality gate), and the written corpus must
    be exactly the keep=true slice."""
    out = tempfile.mkdtemp(prefix="cli_cur_")
    try:
        assert main(["curate", "--sf-dir", smoke_sf_dir, "--out", out]) == 0
        printed = capsys.readouterr().out
        assert "kept" in printed and "curated corpus" in printed
        dec = spark.read.parquet(os.path.join(out, "decisions"))
        corpus = spark.read.parquet(os.path.join(out, "corpus"))
        from synth_timeseries_data_spark.queries import all_queries
        from synth_timeseries_data_spark.sources import load

        qs = all_queries()
        n_docs = load(spark, smoke_sf_dir, "documents").count()
        assert dec.count() == n_docs
        kept_ids = {r.doc_id for r in dec.where("keep").select("doc_id").collect()}
        assert {r.doc_id for r in corpus.select("doc_id").collect()} == kept_ids
        assert 0 < len(kept_ids) < n_docs  # both gates actually bite

        gopher = {r.doc_id: r.keep
                  for r in qs["gopher_rules"].build(spark, smoke_sf_dir).collect()}
        dsir = {r.doc_id: (r.logw_nats, r.more_target_like)
                for r in qs["dsir_weights"].build(spark, smoke_sf_dir).collect()}
        quality = {r.doc_id: r.keep_quality for r in dec.collect()}
        clusters: dict[int, list[int]] = {}
        for r in qs["dedup_clusters"].build(spark, smoke_sf_dir).collect():
            clusters.setdefault(r.cluster_rep, []).append(r.doc_id)
        drops = set()
        for rep, members in clusters.items():
            passing = [d for d in members if quality[d]]
            survivor = min(passing) if passing else rep
            drops |= set(members) - {survivor}
        for r in dec.collect():
            assert r.gopher_keep == gopher[r.doc_id]
            assert (r.logw_nats, r.more_target_like) == dsir[r.doc_id]
            assert r.keep_dedup == (r.doc_id not in drops)
            assert r.keep == (r.keep_quality and r.keep_dedup)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_curate_all_duplicates_keep_one_survivor(spark, tmp_path):
    """Adversarial composition fixture: ten IDENTICAL docs form one
    MinHash cluster whose min-doc_id REPRESENTATIVE fails the quality gate
    (disallowed lang) — the quality-aware survivor rule must keep the
    min-doc_id PASSING member instead of letting the failing rep shadow
    the content out of the corpus. Plus three low-quality docs (dropped
    regardless of dedup) and a NULL-text doc, which must still get its
    decisions audit row (LEFT-join contract) with keep=false."""
    good = " ".join(
        f"the w{i}" if i % 2 == 0 else f"of v{i}" for i in range(50)
    )  # 100 words, 50% stopword-adjacent, unique-heavy: composite >= 0.55
    docs = [(0, good, "xx", "srcA", len(good))]  # cluster rep, fails lang gate
    docs += [(i, good, "en", "srcA", len(good)) for i in range(1, 10)]
    docs += [(100 + i, "zz yy", "en", "srcB", 5) for i in range(3)]
    docs += [(300, None, "en", "srcB", 0)]  # NULL text
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        docs, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="cli_cur_adv_")
    try:
        assert main(["curate", "--sf-dir", sf, "--out", out]) == 0
        dec = {r.doc_id: r for r in
               spark.read.parquet(os.path.join(out, "decisions")).collect()}
        assert len(dec) == 14  # every input doc audited, incl. NULL text
        kept = {d for d, r in dec.items() if r.keep}
        assert kept == {1}  # min quality-PASSING member, not the failing rep
        assert not dec[0].keep_quality
        for i in range(2, 10):
            assert dec[i].keep_quality and not dec[i].keep_dedup
        for i in (100, 101, 102):
            assert not dec[i].keep_quality
        assert not dec[300].keep and not dec[300].keep_quality
        assert dec[300].logw_nats is None and dec[300].gopher_keep is None
        corpus = spark.read.parquet(os.path.join(out, "corpus"))
        assert [r.doc_id for r in corpus.collect()] == [1]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_curate_decisions_fingerprint_reproducible(spark, smoke_sf_dir):
    """The decision-set fingerprint (XOR of per-row xxhash64) must be
    identical across two runs over the same input — the reproducibility
    receipt — and must CHANGE when any verdict flips (simulated by
    re-hashing with one doc's keep inverted)."""
    from synth_timeseries_data_spark.sinks import write_curated_corpus

    outs = []
    for run in range(2):
        out = tempfile.mkdtemp(prefix=f"cli_cur_fp{run}_")
        try:
            summary = {r.stage: r.n for r in
                       write_curated_corpus(spark, smoke_sf_dir, out).collect()}
            outs.append(summary["decisions_fingerprint"])
            if run == 0:
                dec = spark.read.parquet(os.path.join(out, "decisions"))
                flipped = dec.selectExpr(
                    "bit_xor(xxhash64(doc_id, source, lang, n_tokens,"
                    " keep_quality, keep_dedup, gopher_keep, logw_nats,"
                    " more_target_like,"
                    " CASE WHEN doc_id = 0 THEN NOT keep ELSE keep END)) AS fp"
                ).collect()[0].fp
                assert flipped != summary["decisions_fingerprint"]
        finally:
            shutil.rmtree(out, ignore_errors=True)
    assert outs[0] == outs[1]


def test_curate_empty_input_returns_zero_summary(spark, tmp_path):
    """A zero-document input must produce an empty decisions/corpus pair
    and a zero summary — not a TypeError from NULL aggregates (the
    empty-relation guard on the summary row)."""
    from synth_timeseries_data_spark.sinks import write_curated_corpus

    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(
        [], "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = tempfile.mkdtemp(prefix="cli_cur_empty_")
    try:
        summary = {r.stage: r.n for r in
                   write_curated_corpus(spark, sf, out).collect()}
        assert summary["docs_in"] == 0 and summary["kept"] == 0
        assert summary["decisions_rows_written"] == 0
        assert summary["corpus_rows_written"] == 0
        assert summary["decisions_fingerprint"] == 0
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_curate_publish_promotes_kept_corpus(spark, smoke_sf_dir, capsys):
    """--publish promotes the kept corpus through the versioned atomic
    sink: the published dataset equals corpus/ exactly, the pointer
    resolves it, and a second run publishes v2 while v1's directory stays
    intact."""
    import shutil

    from synth_timeseries_data_spark.sinks import latest_version, read_published

    out = tempfile.mkdtemp(prefix="cli_curp_")
    pub = os.path.join(out, "published")
    try:
        for expected_version in (1, 2):
            assert (
                main([
                    "curate", "--sf-dir", smoke_sf_dir,
                    "--out", os.path.join(out, "run"),
                    "--publish", pub,
                ])
                == 0
            )
            assert latest_version(pub) == expected_version
            assert f"published v{expected_version}" in capsys.readouterr().out
        corpus = spark.read.parquet(os.path.join(out, "run", "corpus"))
        got = read_published(spark, pub)
        assert sorted(r.doc_id for r in got.select("doc_id").collect()) == sorted(
            r.doc_id for r in corpus.select("doc_id").collect()
        )
        # v1 is untouched by the v2 publish
        v1 = spark.read.parquet(os.path.join(pub, "v1"))
        assert v1.count() == got.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_cli_index_builds_serving_tables(spark, smoke_sf_dir, tmp_path, capsys):
    """The index subcommand builds the requested bucketed serving tables
    and reports their row counts; the winnowing table must equal the
    registry relation's cardinality."""
    from synth_timeseries_data_spark.queries import all_queries

    assert (
        main(
            [
                "index",
                "--sf-dir", smoke_sf_dir,
                "--location", str(tmp_path / "svc"),
                "--db", "svccli",
                "--kind", "winnow",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "table=svccli.wn_fp_b" in out
    n = all_queries()["winnowing"].build(spark, smoke_sf_dir).count()
    assert f"rows={n}" in out
    spark.sql("DROP DATABASE IF EXISTS svccli CASCADE")


def test_cli_corpus_report_consistent_with_components(
    spark, oracle_sf_dir, tmp_path, capsys
):
    """The report's audit rows must equal the component queries' values
    row-for-row, and the summary counts must be recomputable from the
    written audit."""
    from synth_timeseries_data_spark.queries import all_queries

    out = str(tmp_path / "report")
    assert main(["corpus-report", "--sf-dir", oracle_sf_dir, "--out", out]) == 0
    txt = capsys.readouterr().out
    summary = dict(
        line.split("=") for line in txt.strip().splitlines() if "=" in line
    )
    audit = {r.doc_id: r for r in spark.read.parquet(out + "/doc_audit").collect()}
    shapes = {
        r.doc_id: r.keep
        for r in all_queries()["gopher_rules"].build(spark, oracle_sf_dir).collect()
    }
    reps = {
        r.doc_id: r.keep
        for r in all_queries()["gopher_repetition"]
        .build(spark, oracle_sf_dir)
        .collect()
    }
    novs = {
        r.doc_id: r.novelty_micro
        for r in all_queries()["ngram_novelty"].build(spark, oracle_sf_dir).collect()
    }
    assert set(audit) == set(shapes)
    for d, r in audit.items():
        assert r.shape_keep == shapes[d]
        assert r.repetition_keep == reps[d]
        assert r.novelty_micro == novs.get(d)
        assert r.clean == (shapes[d] and reps[d])
    assert int(summary["docs_audited"]) == len(audit)
    assert int(summary["clean"]) == sum(1 for r in audit.values() if r.clean)
    assert int(summary["lang_rows_written"]) > 0
    assert int(summary["length_rows_written"]) > 0


def test_cli_curate_incremental_two_batches_equal_one_shot(
    spark, smoke_sf_dir, tmp_path, capsys
):
    """VERDICT r08 item 5 done-condition: two incremental batch runs over
    a doc_id partition of the corpus must (a) bump one published version
    per batch and (b) end with EXACTLY the one-shot run's kept corpus —
    the accumulated-edges recompute replays the identical cluster +
    quality-aware-survivor rule, so the equality is structural, retraction
    cases included."""
    inc_out = str(tmp_path / "inc")
    pub = str(tmp_path / "pub")
    ref_out = str(tmp_path / "oneshot")
    for pred in ("doc_id < 250", "doc_id >= 250"):
        assert (
            main(
                [
                    "curate",
                    "--sf-dir", smoke_sf_dir,
                    "--out", inc_out,
                    "--publish", pub,
                    "--batch-where", pred,
                ]
            )
            == 0
        )
    capsys.readouterr()
    from synth_timeseries_data_spark.sinks import published_info

    info = published_info(pub)
    assert info["version"] == 2  # one bump per batch
    assert os.path.isdir(os.path.join(pub, "v1"))

    assert main(["curate", "--sf-dir", smoke_sf_dir, "--out", ref_out]) == 0
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
            spark.read.parquet(os.path.join(ref_out, "corpus"))
            .select("doc_id", "source", "text")
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    # decisions snapshot covers every processed doc with the one-shot
    # decision on all ten columns (both paths share one keep rule)
    dec = spark.read.parquet(os.path.join(inc_out, "decisions"))
    ref_dec = spark.read.parquet(os.path.join(ref_out, "decisions"))
    assert len(ref_dec.columns) == 10
    assert sorted(
        map(tuple, dec.select(*ref_dec.columns).collect())
    ) == sorted(map(tuple, ref_dec.collect()))


def test_cli_curate_incremental_resubmitted_batch_is_harmless(
    spark, smoke_sf_dir, tmp_path
):
    """At-least-once hardening: re-submitting the SAME batch (the crash-
    between-append-and-checkpoint replay case) must not corrupt the
    decisions/corpus snapshot — duplicate signal rows are deduped at
    decision time, duplicate edges/members are absorbed by DISTINCT/cc."""
    inc = str(tmp_path / "inc")
    for pred in ("doc_id < 250", "doc_id < 250", "doc_id >= 250"):
        assert (
            main(
                ["curate", "--sf-dir", smoke_sf_dir, "--out", inc,
                 "--batch-where", pred]
            )
            == 0
        )
    ref = str(tmp_path / "oneshot")
    assert main(["curate", "--sf-dir", smoke_sf_dir, "--out", ref]) == 0
    got = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(inc, "corpus"))
            .select("doc_id", "source")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            spark.read.parquet(os.path.join(ref, "corpus"))
            .select("doc_id", "source")
            .collect(),
        )
    )
    assert got == want and len(got) > 0
