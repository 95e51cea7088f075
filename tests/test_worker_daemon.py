"""The engine's Python-worker daemon: its zip-directory guard, and that the
engine's sessions run their Python workers under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, value: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        zf.writestr("zd_probe_pkg/__init__.py", "")
        zf.writestr("zd_probe_pkg/mod.py", f"VALUE = {value!r}\n")
    os.replace(tmp, path)


def _import_probe():
    for name in ("zd_probe_pkg", "zd_probe_pkg.mod"):
        sys.modules.pop(name, None)
    return importlib.import_module("zd_probe_pkg.mod").VALUE


def test_guard_rereads_only_changed_archives(tmp_path, monkeypatch):
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, "old")
    monkeypatch.syspath_prepend(archive)
    # the package's own zipimporter reads the same archive as the root one,
    # as each package imported from pyspark.zip does
    assert _import_probe() == "old"
    assert sum(
        isinstance(f, zipimport.zipimporter) and f.archive == archive
        for f in sys.path_importer_cache.values()
    ) == 2

    # restored on teardown, so the guard stays out of the rest of the suite
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    from synth_timeseries_data_spark import worker_daemon

    worker_daemon.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, "new value")
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [archive]
    assert _import_probe() == "new value"
    assert reads == [archive]


def test_workers_run_under_engine_daemon(spark):
    def probe(batches):
        for b in batches:
            yield pd.DataFrame({
                "guard": [zipimport.zipimporter.invalidate_caches.__module__] * len(b),
                "path": [os.environ.get("PYTHONPATH", "")] * len(b),
            })

    rows = (
        spark.range(0, 4, 1, 2)
        .mapInPandas(probe, "guard string, path string")
        .distinct()
        .collect()
    )
    assert [r.guard for r in rows] == ["synth_timeseries_data_spark.worker_daemon"]
    assert REPO_ROOT in rows[0].path.split(os.pathsep)
