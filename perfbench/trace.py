"""Traced-run tooling: spans, engine wrappers and the event-log parser.

A traced run records three kinds of evidence:

- *spans* — wall-time intervals at the engine's module boundaries (an op,
  its ``Query.build``, the ``sources.load`` and ``materialize`` calls inside
  it, the exec/write that follows). Spans are kept in memory, name their
  parent, and are written out once at the end; self time is a span's wall
  time minus its children's;
- *counts* at the same boundaries (memo hits and builds, load calls, posture
  changes, configs swept);
- Spark's own *event log*, whose jobs carry the op's job group
  (``pb|p<pass>|<op>|<phase>``), so every task's run/CPU/GC time, shuffle
  and spill bytes, Python-worker time and written files are attributed to
  one op and phase by a plain JSON-lines parser.

The wrappers replace module attributes, so they must be installed before
``synth_timeseries_data_spark.queries`` (or ``sinks``) is imported: several
query modules bind ``load``, ``materialized`` and ``persisted`` at import.
"""

from __future__ import annotations

import collections
import contextlib
import glob
import json
import os
import sys
import time

from pyspark.sql.readwriter import DataFrameWriter

# The harness's own noop write must never count as an engine write.
NOOP_SAVE = DataFrameWriter.save
_WRITER_METHODS = ("parquet", "csv", "json", "text", "orc", "save", "saveAsTable", "insertInto")

GROUP_PREFIX = "pb|"


def job_group(pass_no: int, op: str, phase: str) -> str:
    return f"{GROUP_PREFIX}p{pass_no}|{op}|{phase}"


def split_group(group: str):
    """``pb|p3|asof_lag|build`` -> (3, 'asof_lag', 'build'); None otherwise."""
    if not group or not group.startswith(GROUP_PREFIX):
        return None
    try:
        p, op, phase = group[len(GROUP_PREFIX):].split("|")
        return int(p[1:]), op, phase
    except ValueError:
        return None


class Tracer:
    """Span and count recorder. ``active`` is toggled per pass so a traced
    run can interleave uninstrumented passes (the overhead reference)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: collections.Counter = collections.Counter()
        self.active = False
        self.pass_no: object = "setup"
        self.op: str | None = None
        self._stack: list[int] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, kind: str, name: str = ""):
        if not self.active:
            yield None
            return
        rec = {
            "id": self._next_id,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no,
            "op": self.op,
            "kind": kind,
            "name": name,
        }
        self._next_id += 1
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["secs"] = time.perf_counter() - rec["start"]
            self._stack.pop()
            self.spans.append(rec)

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counts[(self.pass_no, key)] += n

    # -- engine wrappers -------------------------------------------------

    def install(self) -> None:
        if "synth_timeseries_data_spark.queries" in sys.modules:
            raise RuntimeError("install the wrappers before importing the queries")
        import synth_timeseries_data_spark.functions.materialize as mat
        import synth_timeseries_data_spark.session as ses
        import synth_timeseries_data_spark.sources as src
        import synth_timeseries_data_spark.sources.tables as tables

        tracer = self

        get_session = ses.get_session

        def traced_get_session(*a, **k):
            with tracer.span("session.get_session"):
                return get_session(*a, **k)

        ses.get_session = traced_get_session

        tune = ses.tune_for_input

        def traced_tune(spark, sf_dir):
            before = ses._applied.get(spark)
            tune(spark, sf_dir)
            tracer.count("session.tune_calls")
            if ses._applied.get(spark) != before:
                tracer.count("session.posture_changes")

        ses.tune_for_input = traced_tune

        load = tables.load

        def traced_load(spark, sf_dir, name):
            tracer.count("sources.load_calls")
            with tracer.span("sources.load", name):
                return load(spark, sf_dir, name)

        tables.load = src.load = traced_load

        table_rows = tables.table_rows

        def traced_table_rows(sf_dir, name):
            tracer.count("sources.table_rows_calls")
            return table_rows(sf_dir, name)

        tables.table_rows = src.table_rows = traced_table_rows

        def memo(fn):
            def traced(spark, key, build):
                built = []

                def counted_build():
                    built.append(True)
                    return build()

                tracer.count("materialize.calls")
                with tracer.span("materialize", key) as rec:
                    df = fn(spark, key, counted_build)
                if built:
                    tracer.count("materialize.builds")
                    if rec is not None:
                        rec["built"] = True
                return df

            return traced

        mat.materialized = memo(mat.materialized)
        mat.persisted = memo(mat.persisted)

        # generation imports materialize helpers itself, so it is imported
        # only now that they are wrapped
        import synth_timeseries_data_spark.queries.generation as gen

        sweep = gen._sweep

        def traced_sweep(spark, rows, group_fn, schema):
            tracer.count("generation.configs", len(rows))
            with tracer.span("generation.plan"):
                return sweep(spark, rows, group_fn, schema)

        gen._sweep = traced_sweep

        for name in _WRITER_METHODS:
            orig = getattr(DataFrameWriter, name)

            def traced_write(writer, *a, _orig=orig, _name=name, **k):
                with tracer.span("sinks.write", _name):
                    return _orig(writer, *a, **k)

            setattr(DataFrameWriter, name, traced_write)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> wall time minus the wall time of its direct children."""
    child = collections.defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["secs"]
    return {s["id"]: s["secs"] - child[s["id"]] for s in spans}


def catalyst_ms(df) -> float:
    """Force optimization and physical planning of ``df``'s own
    QueryExecution and return parsing+analysis+optimization+planning in ms.
    The noop write then plans a new QueryExecution, so this planning is
    paid twice in a traced pass — part of the reported trace overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for ph in ("parsing", "analysis", "optimization", "planning"):
        opt = phases.get(ph)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


# -- event log -------------------------------------------------------------

_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_ROWS = "number of output rows"
_FILES = "number of written files"
_BYTES = "written output"


def _plan_metrics(info: dict, out: dict) -> None:
    """Walk a sparkPlanInfo tree: accumulator id -> (metric, type, is_python_node)."""
    names = {m["name"] for m in info.get("metrics", [])}
    python_node = _PY_TIME in names
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (m["name"], m.get("metricType"), python_node)
    for c in info.get("children", []):
        _plan_metrics(c, out)


def _timing_secs(value: float, mtype: str | None) -> float:
    return value / 1e9 if mtype == "nsTiming" else value / 1e3


def event_log_files(log_dir: str) -> list[str]:
    files = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        base = os.path.basename(path)
        if os.path.isfile(path) and not base.startswith("appstatus") and not base.startswith("."):
            files.append(path)
    return files


def parse_event_log(paths: list[str]) -> dict[str, collections.Counter]:
    """Job group -> Counter of scheduler/task/Python/write metrics.

    Keys: jobs, stages, tasks, run_s, cpu_s, gc_s, shuffle_bytes,
    spill_bytes, failed_attempts, python_s, python_rows, arrow_bytes,
    files_written, bytes_written. Jobs outside any job group land under ''.
    """
    acc: dict[int, tuple] = {}
    job_group_of: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    driver_updates: list[tuple[int, int, float]] = []
    out: dict[str, collections.Counter] = collections.defaultdict(collections.Counter)

    def group_of_stage(sid):
        return stage_group.get(sid, "")

    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc)
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for m in ev.get("sqlPlanMetrics", []):
                        acc.setdefault(m["accumulatorId"], (m["name"], m.get("metricType"), False))
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    job_group_of[ev["Job ID"]] = group
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[group_of_stage(sid)]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = out[group_of_stage(ev["Stage ID"])]
                    g["tasks"] += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        g["failed_attempts"] += 1
                    tm = ev.get("Task Metrics") or {}
                    g["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    g["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    g["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                        meta = acc.get(a.get("ID"))
                        if meta is None:
                            continue
                        name, mtype, python_node = meta
                        upd = float(a.get("Update") or 0)
                        if name == _PY_TIME:
                            g["python_s"] += _timing_secs(upd, mtype)
                        elif name in (_PY_SENT, _PY_RETURNED):
                            g["arrow_bytes"] += upd
                        elif name == _ROWS and python_node:
                            g["python_rows"] += upd
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for aid, value in ev.get("accumUpdates", []):
                        driver_updates.append((ev["executionId"], aid, value))

    # Write-command metrics arrive as driver-side accumulator updates of a
    # SQL execution; the execution's jobs carry the group.
    for eid, aid, value in driver_updates:
        meta = acc.get(aid)
        if meta is None:
            continue
        g = out[exec_group.get(eid, "")]
        if meta[0] == _FILES:
            g["files_written"] += value
        elif meta[0] == _BYTES:
            g["bytes_written"] += value
    return out
