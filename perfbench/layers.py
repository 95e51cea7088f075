"""Per-layer metrics of a traced run, from its spans, counts and event log.

Every metric is given for the steady passes — a mean per traced steady
pass (warm-up passes are left out) — under its plain name, and for the cold first pass under
``first.<name>``. ``session.get_session_s`` happens once, before pass 1.
Times ending in ``_s`` are self times (a span's wall time minus its
children's), so the layers of one op add up instead of double counting.
"""

from __future__ import annotations

import collections
import statistics

from perfbench.trace import self_times, split_group

# span kind -> layer metric (summed self time)
SPAN_METRICS = {
    "sources.load": "sources.load_s",
    "build": "queries.build_s",
    "exec": "queries.exec_s",
    "sinks.write": "sinks.write_s",
}
# tracer count -> layer metric
COUNT_METRICS = {
    "session.tune_calls": "session.tune_calls",
    "session.posture_changes": "session.posture_changes",
    "sources.load_calls": "sources.load_calls",
    "sources.table_rows_calls": "sources.table_rows_calls",
    "materialize.calls": "materialize.calls",
    "materialize.builds": "materialize.builds",
    "generation.configs": "generation.configs",
    "catalyst.plan_ms": "catalyst.plan_ms",
}
# event-log key -> layer metric
EVENT_METRICS = {
    "jobs": "scheduler.jobs",
    "stages": "scheduler.stages",
    "tasks": "scheduler.tasks",
    "run_s": "tasks.run_s",
    "cpu_s": "tasks.cpu_s",
    "gc_s": "tasks.gc_s",
    "shuffle_bytes": "tasks.shuffle_bytes",
    "spill_bytes": "tasks.spill_bytes",
    "failed_attempts": "tasks.failed_attempts",
    "python_s": "generation.python_s",
    "python_rows": "generation.rows_out",
    "arrow_bytes": "generation.arrow_bytes",
    "files_written": "sinks.files_written",
    "bytes_written": "sinks.bytes_written",
}
PER_PASS = sorted(
    set(SPAN_METRICS.values())
    | set(COUNT_METRICS.values())
    | set(EVENT_METRICS.values())
    | {"queries.build_jobs", "materialize.build_s", "materialize.hit_ratio"}
)
TRACE_METRICS = ("trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s")
NAMES = ("session.get_session_s",) + tuple(PER_PASS) + tuple(
    f"first.{n}" for n in PER_PASS
) + TRACE_METRICS


def per_pass_totals(spans, counts, groups) -> dict[int, collections.Counter]:
    """pass number -> Counter of every per-pass layer metric (hit ratio not
    yet derived)."""
    tot: dict[int, collections.Counter] = collections.defaultdict(collections.Counter)
    selfs = self_times(spans)
    for s in spans:
        if not isinstance(s["pass"], int):
            continue
        metric = SPAN_METRICS.get(s["kind"])
        if metric:
            tot[s["pass"]][metric] += selfs[s["id"]]
        elif s["kind"] == "materialize" and s.get("built"):
            tot[s["pass"]]["materialize.build_s"] += selfs[s["id"]]
    for (p, key), n in counts.items():
        if isinstance(p, int) and key in COUNT_METRICS:
            tot[p][COUNT_METRICS[key]] += n
    for group, c in groups.items():
        parsed = split_group(group)
        if parsed is None or parsed[2] == "untraced":
            continue
        p, _op, phase = parsed
        for key, metric in EVENT_METRICS.items():
            tot[p][metric] += c.get(key, 0)
        if phase == "build":
            tot[p]["queries.build_jobs"] += c.get("jobs", 0)
    return tot


def layer_metrics(tracer, groups, passes) -> dict[str, float]:
    tot = per_pass_totals(tracer.spans, tracer.counts, groups)
    for c in tot.values():
        calls = c["materialize.calls"]
        c["materialize.hit_ratio"] = (calls - c["materialize.builds"]) / calls if calls else 0.0
    steady = [p["pass"] for p in passes if p["kind"] == "steady" and p["traced"]]
    out: dict[str, float] = {}
    setup = [
        s["secs"]
        for s in tracer.spans
        if s["kind"] == "session.get_session" and s["pass"] == "setup"
    ]
    out["session.get_session_s"] = sum(setup)
    for name in PER_PASS:
        out[name] = sum(tot[p][name] for p in steady) / len(steady) if steady else 0.0
        out[f"first.{name}"] = tot[0][name]
    traced = [p["secs"] for p in passes if p["kind"] == "steady" and p["traced"]]
    plain = [p["secs"] for p in passes if p["kind"] == "steady" and not p["traced"]]
    out["trace.pass_s"] = statistics.median(traced) if traced else 0.0
    out["trace.untraced_pass_s"] = statistics.median(plain) if plain else 0.0
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out
