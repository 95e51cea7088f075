"""Sink round-trips: CSV, edge-list parquet, structure sidecars, and the
partitioned layout with partition pruning."""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from synth_timeseries_data_spark import sinks
from synth_timeseries_data_spark.queries.dsl import _parsed_edges


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="sinks_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_edge_list_parquet_roundtrip(spark, tmpdir_):
    path = os.path.join(tmpdir_, "edges")
    sinks.write_edge_list(spark, path)
    back = spark.read.parquet(path)
    assert back.count() == _parsed_edges(spark).count()
    assert set(back.columns) == {
        "family", "n_vars", "max_lag", "target", "source", "lag", "func", "coef",
    }


def _json_lines(path):
    lines = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, "rb") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def test_structure_json_sidecar(spark, tmpdir_):
    path = os.path.join(tmpdir_, "structure")
    sinks.write_structure_json(spark, path)
    back = spark.read.json(path)
    assert back.count() == 184
    row = back.where(
        "family = 'a1' AND n_vars = 4 AND max_lag = 2 AND target = 'X3'"
    ).collect()[0]
    assert row.link_str == "(X4, 0, X3) => 0.35"


def test_structure_json_matches_spark_json_write(spark, tmpdir_):
    """The Python-rendered lines read back through Spark's JSON reader as
    exactly the relational parse's a1/b2/c1 edges, with the link text
    Spark would render for them."""
    path = os.path.join(tmpdir_, "structure")
    sinks.write_structure_json(spark, path, ["a1", "b2", "c1"])
    assert len(_json_lines(path)) == 184
    cols = ["family", "n_vars", "max_lag", "source", "target", "lag", "func", "coef"]
    back = spark.read.json(path)
    want = _parsed_edges(spark).select(*cols).withColumn(
        "link_str",
        F.concat(
            F.lit("("), "source", F.lit(", "), F.col("lag").cast("string"),
            F.lit(", "), "target", F.lit(") => "), F.col("coef").cast("string"),
        ),
    )
    got = back.select(*[F.col(c).cast(t) for c, t in want.dtypes])
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_structure_json_holds_only_the_given_families(spark, tmpdir_):
    path = os.path.join(tmpdir_, "structure")
    sinks.write_structure_json(spark, path, ["c2c", "a2c"])
    back = spark.read.json(path)
    assert {r.family for r in back.select("family").distinct().collect()} == {"c2c"}
    # U edges: source "U", lag 0, linear under the c2c grammar's quirk
    u = back.where("source = 'U'").collect()
    assert u and {(r.lag, r.func) for r in u} == {(0, "linear")}


def test_structure_json_layout_replaces_stale_files(spark, tmpdir_):
    path = os.path.join(tmpdir_, "structure")
    os.makedirs(path)
    with open(os.path.join(path, "part-00009.json"), "w") as f:
        f.write('{"family": "stale"}\n')
    # a URI, not a bare path: the write goes through Hadoop's FileSystem
    sinks.write_structure_json(spark, "file://" + path)
    names = set(os.listdir(path))
    assert {n for n in names if not n.endswith(".crc")} == {
        "part-00000.json", "_SUCCESS",
    }
    assert names - {"part-00000.json", "_SUCCESS"} <= {
        ".part-00000.json.crc", "._SUCCESS.crc",
    }
    assert spark.read.json(path).where("family = 'stale'").count() == 0


def test_structure_txt(tmpdir_):
    path = os.path.join(tmpdir_, "structure.txt")
    sinks.write_structure_txt("a1", 4, 2, path)
    text = open(path).read()
    assert "X4[t] = 0.25 * X1[t-2] + e4" in text
    assert "(X1, 2, X4) => 0.25\n" in text
    assert text.startswith("True Causal Structure")


def test_partitioned_layout_prunes(spark, tmpdir_):
    path = os.path.join(tmpdir_, "dataset")
    edges = _parsed_edges(spark)
    sinks.write_partitioned_dataset(edges, path, "family", "n_vars")
    assert os.path.isdir(os.path.join(path, "family=a1", "n_vars=4"))
    pruned = spark.read.parquet(path).where("family = 'a1' AND n_vars = 4")
    explained = pruned._jdf.queryExecution().executedPlan().toString()
    # partition pruning: the filter must reach PartitionFilters, not a scan+filter
    assert "PartitionFilters" in explained and "family" in explained
    assert pruned.count() == _parsed_edges(spark).where(
        "family = 'a1' AND n_vars = 4"
    ).count()


def test_series_csv_null_roundtrip(spark, tmpdir_):
    path = os.path.join(tmpdir_, "series_csv")
    df = spark.createDataFrame(
        [(0, 1.5), (1, None), (2, -0.25)], "t int, x1 double"
    )
    sinks.write_series_csv(df, path)
    raw = ""
    for f in glob.glob(os.path.join(path, "*.csv")):
        raw += open(f).read()
    assert ",\n" in raw or raw.rstrip().endswith(",")  # NULL wrote as empty
    back = sinks.read_series_csv(spark, path, "t int, x1 double")
    rows = {r.t: r.x1 for r in back.collect()}
    assert rows == {0: 1.5, 1: None, 2: -0.25}


def test_plot_bundle(spark, tmpdir_, smoke_sf_dir):
    """G19 end-to-end: one call writes the three plot-data frames as a
    hive-partitioned bundle; the summary counts must equal each frame's
    direct query count, and the decomposition trend must equal the OLS fit
    applied at each point."""
    out = os.path.join(tmpdir_, "bundle")
    summary = {
        r["frame"]: r["n_rows"]
        for r in sinks.write_plot_bundle(spark, smoke_sf_dir, out).collect()
    }
    assert set(summary) == {"decomposition", "sampling_hist", "missing_pattern"}

    from synth_timeseries_data_spark.queries.events_ext import missing_pattern
    from synth_timeseries_data_spark.queries.relational import sampling_hist

    assert summary["sampling_hist"] == sampling_hist(spark, smoke_sf_dir).count()
    assert summary["missing_pattern"] == missing_pattern(spark, smoke_sf_dir).count()

    deco = spark.read.parquet(os.path.join(out, "frame=decomposition"))
    assert summary["decomposition"] == deco.count()
    assert set(deco.columns) == {"user_id", "event_id", "x_day", "value", "trend"}
    # trend is the per-series OLS line evaluated at x_day
    from synth_timeseries_data_spark.queries.relational import trend_fit

    fits = {r["user_id"]: r for r in trend_fit(spark, smoke_sf_dir).collect()}
    for r in deco.limit(200).collect():
        f = fits[r["user_id"]]
        assert r["trend"] == f["intercept"] + f["slope"] * r["x_day"]


def test_publish_version_atomic_promotion(spark, oracle_sf_dir, tmp_path):
    """Versioned publish: v1 then v2, each readable; a reader that resolved
    v1 before the v2 swap still reads v1's untouched directory; a crashed
    publish (staging dir present, pointer never swapped) is invisible to
    resolution; row counts in the pointer match what a reader sees."""
    import json
    import os

    from synth_timeseries_data_spark.sinks import (
        latest_version,
        publish_version,
        read_published,
    )
    from synth_timeseries_data_spark.sources import load

    root = str(tmp_path / "pub")
    docs = load(spark, oracle_sf_dir, "documents")
    assert latest_version(root) == 0
    v1 = publish_version(spark, docs.where("doc_id < 100"), root)
    assert v1 == 1 and latest_version(root) == 1
    assert read_published(spark, root).count() == 100

    # pin a reader's resolution of v1, then publish v2 over it
    with open(os.path.join(root, "LATEST")) as f:
        v1_pointer = json.loads(f.read())
    v2 = publish_version(
        spark, docs.where("doc_id < 250"), root, partition_by=("lang",)
    )
    assert v2 == 2
    assert read_published(spark, root).count() == 250
    # the pre-swap reader's directory is intact and still reads 100 rows
    old = spark.read.parquet(os.path.join(root, v1_pointer["path"]))
    assert old.count() == 100 and v1_pointer["n_rows"] == 100

    # simulated crash: staging written, pointer never swapped
    stale = os.path.join(root, "_tmp_v3_99999")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-crashed.parquet"), "wb") as f:
        f.write(b"torn")
    assert latest_version(root) == 2
    assert read_published(spark, root).count() == 250
    # the next publish is version 3 regardless of the stale staging dir
    v3 = publish_version(spark, docs.where("doc_id < 10"), root)
    assert v3 == 3 and read_published(spark, root).count() == 10


def test_publish_version_survives_orphaned_version_dir(spark, oracle_sf_dir, tmp_path):
    """Crash AFTER the rename but BEFORE the pointer swap: v{n} exists on
    disk while the pointer still says n-1. The next publish must step to
    n+1 (never collide with the orphan), readers must keep resolving the
    committed version throughout, and the orphan stays as unadvertised
    garbage."""
    import os

    from synth_timeseries_data_spark.sinks import (
        latest_version,
        publish_version,
        read_published,
    )
    from synth_timeseries_data_spark.sources import load

    root = str(tmp_path / "pub")
    docs = load(spark, oracle_sf_dir, "documents")
    assert publish_version(spark, docs.where("doc_id < 50"), root) == 1

    # simulate the wedge: a fully-written v2 that never got the pointer
    orphan = os.path.join(root, "v2")
    docs.where("doc_id < 5").write.parquet(orphan)
    assert latest_version(root) == 1
    assert read_published(spark, root).count() == 50

    v = publish_version(spark, docs.where("doc_id < 200"), root)
    assert v == 3 and latest_version(root) == 3
    assert read_published(spark, root).count() == 200
    # the orphan is untouched garbage
    assert spark.read.parquet(orphan).count() == 5


def test_rollback_and_prune_lifecycle(spark, oracle_sf_dir, tmp_path):
    """Publish v1..v4, roll back to v2 (readers see v2 instantly, no data
    movement), then prune keep_last=1: the committed v2 survives no
    matter its age, staging litter goes, and the newest version dir is
    kept."""
    import os

    from synth_timeseries_data_spark.sinks import (
        latest_version,
        prune_versions,
        publish_version,
        read_published,
        rollback,
    )
    from synth_timeseries_data_spark.sources import load

    root = str(tmp_path / "pub")
    docs = load(spark, oracle_sf_dir, "documents")
    for n in (10, 20, 30, 40):
        publish_version(spark, docs.where(f"doc_id < {n}"), root)
    assert latest_version(root) == 4

    rollback(root, 2)
    assert latest_version(root) == 2
    assert read_published(spark, root).count() == 20
    import pytest

    with pytest.raises(FileNotFoundError):
        rollback(root, 9)

    stale = os.path.join(root, "_tmp_v9_123")
    os.makedirs(stale)
    os.utime(stale, (1, 1))  # old enough for the live-publish age guard
    fresh = os.path.join(root, "_tmp_v8_456")
    os.makedirs(fresh)  # recent mtime: a possibly-live publish, spared
    # v3/v4 sit ABOVE the committed v2 with fresh mtimes — exactly the
    # shape of a LIVE publish caught between its directory rename and
    # its pointer swap, so the age guard must spare them too (deleting
    # a live one would let the imminent pointer swap advertise a
    # missing directory).
    removed = prune_versions(root, keep_last=2)
    assert removed == ["_tmp_v9_123"]
    assert os.path.isdir(os.path.join(root, "v3"))
    # Once their forensics window ends (aged past tmp_age_s) the
    # rollback-abandoned v3/v4 go; retention anchors at the COMMITTED
    # v2: keep v2 + the rollback margin below it (v1).
    os.utime(os.path.join(root, "v3"), (1, 1))
    os.utime(os.path.join(root, "v4"), (1, 1))
    removed = prune_versions(root, keep_last=2)
    assert sorted(removed) == ["v3", "v4"]
    assert read_published(spark, root).count() == 20
    assert os.path.isdir(os.path.join(root, "v1"))
    assert os.path.isdir(fresh)
    # keep_last=0 keeps only the committed version
    assert prune_versions(root, keep_last=0) == ["v1"]
    assert read_published(spark, root).count() == 20
    # a later publish continues past every version ever seen on disk
    assert publish_version(spark, docs.where("doc_id < 5"), root) == 3
