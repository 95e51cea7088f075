"""The session memos (``functions/materialize.py``) build each key under its
own lock: builds of different keys overlap, and one key is built once however
many threads ask for it. No Spark: the memos only call ``localCheckpoint`` /
``persist`` on what the build returns and key on the session's identity."""

from __future__ import annotations

import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

from synth_timeseries_data_spark.functions.materialize import (
    materialized,
    persisted,
)


class _Rel:
    def localCheckpoint(self):
        return self

    def persist(self):
        return self


@pytest.mark.parametrize("memo", [materialized, persisted])
def test_different_keys_build_concurrently(memo):
    """Each build waits until the other has started: under one lock for
    every key the second never starts and the barrier times out."""
    session = object()
    both = threading.Barrier(2, timeout=10)

    def build():
        both.wait()
        return _Rel()

    with ThreadPoolExecutor(2) as pool:
        futs = [pool.submit(memo, session, key, build) for key in ("a", "b")]
        rels = [f.result(timeout=30) for f in futs]
    assert rels[0] is not rels[1]


@pytest.mark.parametrize("memo", [materialized, persisted])
def test_one_key_builds_once_under_contention(memo):
    session = object()
    builds = []

    def build():
        builds.append(threading.get_ident())
        time.sleep(0.2)
        return _Rel()

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futs = [pool.submit(memo, session, "k", build) for _ in range(16)]
            rels = [f.result(timeout=30) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    assert all(r is rels[0] for r in rels)


def test_nested_build_reenters_and_other_key_waits_for_neither():
    """A build that materializes its input in the same thread re-enters; a
    thread asking for an unrelated key meanwhile is not held up."""
    session = object()
    inner_started, release = threading.Event(), threading.Event()

    def inner():
        inner_started.set()
        assert release.wait(10)
        return _Rel()

    def outer():
        materialized(session, "inner", inner)
        return _Rel()

    with ThreadPoolExecutor(2) as pool:
        nested = pool.submit(materialized, session, "outer", outer)
        assert inner_started.wait(10)
        other = materialized(session, "other", _Rel)
        release.set()
        assert nested.result(timeout=30) is not other
    assert materialized(session, "inner", _Rel) is not None
