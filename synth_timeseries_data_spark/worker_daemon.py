"""Python-worker daemon for the engine's sessions (``spark.python.daemon.module``).

Every Python-worker task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its archive's
whole directory: one per package imported from ``pyspark.zip``, each a full
read of its 1,328 entries, ~0.3 s per task in all. Importing this module
wraps ``zipimporter.invalidate_caches`` so an archive is re-read only when
its ``(st_ino, st_size, st_mtime_ns)`` stamp changed since its last read (a
missing archive always re-reads). Run as ``__main__`` it is PySpark's
daemon, whose forked workers inherit the wrapper.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, "tuple[int, int, int] | None"] = {}


def _stamp(archive: str) -> "tuple[int, int, int] | None":
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Take the archives read so far as current and wrap the importer."""
    for archive in zipimport._zip_directory_cache:
        _stamps.setdefault(archive, _stamp(archive))
    zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # import under the package name, so the wrapper is installed once
    from synth_timeseries_data_spark import worker_daemon  # noqa: F401
    from pyspark import daemon

    daemon.manager()
else:
    install()
