"""Benchmark entry point.

    python3 perfbench/run.py --workload {sweep,queries} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. One run:

1. makes a fresh work directory under ``.perfbench/`` (Spark local dirs,
   temp files, inputs, outputs, event log) and, for ``queries``, writes the
   seeded input tables into it;
2. sizes the engine to the host from outside (``SPARK_GRAFT_CPUS`` from the
   CPU count, ``SPARK_DRIVER_MEM`` from ``/proc/meminfo``, ``PYTHONPATH``
   to the checkout so Spark's Python workers find the engine);
3. waits for a quiet CPU, then runs the workload in a fresh process
   (``perfbench/worker.py``): pass 1 cold, an untimed warm-up pass, then
   steady passes for ``--seconds``, then the output checks;
4. prints a readable summary, then one JSON line with ``correct``,
   ``attempted``, ``failed`` and ``metrics`` (end-to-end metrics untraced,
   per-layer metrics traced), and removes the work directory. The full
   record (and, traced, the spans) stays under ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

WORKLOADS = ("sweep", "queries")
# with the quiet-CPU wait and the session kill, a run ends within 180 s
WORKER_TIMEOUT_S = 150

END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}


def host() -> dict:
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"cpus": cpus, "mem_mb": mem_kb // 1024, "python": sys.version.split()[0]}


def engine_env(h: dict, work: str, trace: bool) -> dict:
    env = dict(os.environ)
    # an eighth of the host's memory, between 1 and 4 GiB: the session's
    # own default (48g) assumes a large dedicated host
    mem_mb = max(1024, min(4096, h["mem_mb"] // 8))
    # temp files of the JVM (native libraries it unpacks, artifact dirs)
    # and of PySpark's gateway stay in the work directory, which is removed
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env.update(
        SPARK_GRAFT_CPUS=str(h["cpus"]),
        SPARK_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    env.pop("SPARK_GRAFT_FORCE_PATH", None)
    # A fixed, pre-touched driver heap: left to grow on demand, the JVM's
    # peak RSS varied by a third between identical runs, and pass times
    # with it. No hsperfdata file, here or for spark-submit's launcher JVM:
    # HotSpot writes it to /tmp whatever java.io.tmpdir says.
    confs = [
        f"spark.driver.extraJavaOptions=-Xms{mem_mb}m -XX:+AlwaysPreTouch"
        f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        env["PERFBENCH_EVENT_LOG"] = log_dir
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f'--conf "{c}"' for c in confs) + " pyspark-shell"
    return env


def wait_for_quiet_cpu(max_wait_s: float = 10.0, busy_frac: float = 0.15) -> None:
    """Block until /proc/stat shows the CPU mostly idle over 0.5 s, or until
    ``max_wait_s``: a run started while a previous JVM is still exiting
    measures that JVM's shutdown."""

    def counters():
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]

    deadline = time.time() + max_wait_s
    while time.time() < deadline:
        t0, i0 = counters()
        time.sleep(0.5)
        t1, i1 = counters()
        if t1 == t0 or 1.0 - (i1 - i0) / (t1 - t0) < busy_frac:
            return


def run_worker(args: list[str], env: dict, cwd: str) -> dict:
    """Run ``python3 -m perfbench.worker`` and return its JSON record. The
    child's stdout (engine prints) goes to our stderr, never our stdout."""
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", "--work", cwd, *args],
        cwd=cwd,
        env=env,
        stdout=sys.stderr,
        stderr=sys.stderr,
        start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"worker timed out after {WORKER_TIMEOUT_S} s")
    finally:
        _kill_session(proc)
    if rc != 0:
        raise RuntimeError(f"worker exited {rc}")
    with open(os.path.join(cwd, "result.json")) as fh:
        return json.load(fh)


def _kill_session(proc) -> None:
    """SIGKILL every process left in the worker's session — its JVM, and
    PySpark's worker daemon, which moves to a process group of its own —
    and wait until all have exited."""
    deadline = time.time() + 10
    while time.time() < deadline:
        pids = _session_pids(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
    proc.wait()


def _session_pids(sid: int) -> list[int]:
    """Processes of session ``sid`` that have not exited (a zombie has: it
    only waits for its parent to reap it)."""
    pids = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(pid))
    return pids


def steady_ops(rec: dict) -> dict[str, list[float]]:
    """op name -> its latencies in the steady passes."""
    by_op: dict[str, list[float]] = {}
    for p in rec["passes"]:
        if p["kind"] == "steady":
            for name, secs in p["ops"]:
                by_op.setdefault(name, []).append(secs)
    return by_op


def end_to_end(rec: dict) -> tuple[dict, dict]:
    """(metric -> value, metric -> sample count) for an untraced record."""
    steady = [p for p in rec["passes"] if p["kind"] == "steady"]
    pass_s = statistics.median(p["secs"] for p in steady)
    values = {
        "setup_s": rec["setup_s"],
        "first_pass_s": rec["passes"][0]["secs"],
        "pass_s": pass_s,
        # every pass produces the same rows, so rows per median pass
        "rows_per_s": rec["rows_per_pass"] / pass_s,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    counts = {
        "setup_s": 1,
        "first_pass_s": 1,
        "pass_s": len(steady),
        "rows_per_s": len(steady),
        "peak_rss_mb": 1,
    }
    return values, counts


def summary_lines(rec: dict, values: dict, counts: dict, units: dict) -> list[str]:
    lines = [
        f"workload={rec['workload']} seed={rec['seed']} trace={rec['trace']}"
        f" cpus={rec['host']['cpus']} mem_mb={rec['host']['mem_mb']}"
        f" spark={rec['spark']} python={rec['host']['python']}"
    ]
    for name, value in values.items():
        n = f" n={counts[name]}" if name in counts else ""
        lines.append(f"  {name:32s} {value:14.6g} {units[name]}{n}")
    if not rec["trace"]:
        by_op = steady_ops(rec)
        lines.append(
            "  op median s: "
            + ", ".join(f"{n}={statistics.median(v):.3f}" for n, v in by_op.items())
            + f" (n={len(next(iter(by_op.values())))} each)"
        )
        ops = [secs for v in by_op.values() for secs in v]
        q = stats.supported_percentile(len(ops))
        tail = (
            f"op_p{round(q * 100)}_s {stats.percentile(ops, q):.4f} s n={len(ops)}"
            if q
            else f"op tail unsupported: n={len(ops)} < {2 * stats.TAIL_SAMPLES}"
        )
        lines.append(f"  {tail}")
    frac = rec["failed"] / rec["attempted"] if rec["attempted"] else 1.0
    lines.append(
        f"  fail_frac {frac:.4f} ratio ({rec['failed']}/{rec['attempted']} ops);"
        f" checks: {', '.join(f'{k}={v}' for k, v in rec['checks'].items())}"
    )
    lines.extend(f"  error: {e}" for e in rec["errors"])
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the worker's process group is
    # killed and the work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "synth_timeseries_data_spark", "__init__.py")):
        print("engine package synth_timeseries_data_spark not found", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "local"))
    stages: dict[str, float] = {}

    def stage(name, fn, *a):
        t = time.perf_counter()
        out = fn(*a)
        stages[name] = time.perf_counter() - t
        return out

    try:
        h = host()
        env = engine_env(h, work, bool(args.trace))
        if args.workload != "sweep":
            from perfbench.datagen import write_tables

            stage("inputs", write_tables, os.path.join(work, "data"), args.seed)
        child = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
        stage("quiet_wait", wait_for_quiet_cpu)
        rec = stage("worker", run_worker, child, env, work)
        rec["host"] = h
        rec["stages"] = stages
        if args.trace:
            from perfbench.layers import NAMES

            values = {n: rec["layers"][n] for n in NAMES}
            counts = {}
            units = {n: _layer_unit(n) for n in NAMES}
        else:
            values, counts = end_to_end(rec)
            units = END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)

    records = os.path.join(base, "records")
    os.makedirs(records, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(records, stem + ".json"), "w") as fh:
        json.dump(rec, fh, indent=1)

    for line in summary_lines(rec, values, counts, units):
        print(line)
    result = {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _layer_unit(name: str) -> str:
    base = name.removeprefix("first.")
    if base.endswith("_s"):
        return "s"
    if base.endswith("_ms"):
        return "ms"
    if "bytes" in base:
        return "bytes"
    if base.endswith("hit_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
