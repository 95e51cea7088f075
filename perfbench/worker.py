"""One benchmark process: set up a session, run a workload in passes, check
the outputs, and write a result record.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.worker`` in a
fresh interpreter, so pass 1 is truly cold. The result goes to
``<work>/result.json``; the engine's own prints go to this process's
stdout, which run.py routes to its stderr.
"""

import time

T0 = time.perf_counter()  # set-up is timed from here, before any import

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

# Registry queries of the ``queries`` workload: every operator that still
# has a second Spark form (the pacf fold, k-means, connected components via
# dedup_clusters, the tfidf broadcast twin) and the eager-build query
# quality_classifier, whose training loop runs its jobs inside build().
QUERY_MIX = (
    "pacf",
    "dedup_clusters",
    "tfidf_topterms",
    "kmeans_embed",
    "quality_classifier",
)
# ``generate`` calls of the ``sweep`` workload: one per family umbrella
# (complete, confounded, masked, masked-confounded), each to its own
# output directory.
FAMILY_SETS = ("c2", "c2c", "d1", "d1c")
# After the cold pass, warm-up passes run untimed: while the JIT compiles
# the engine's hot paths, every ``queries`` op gets faster pass after pass,
# and the third pass after the cold one still ran ~15% slower than the
# plateau; ``sweep`` passes are flat after the first. Then steady passes
# run until --seconds have elapsed, and at least MIN_STEADY_PASSES of them.
# A traced run alternates traced and untraced steady passes.
WARMUP_PASSES = {"sweep": 1, "queries": 3}
MIN_STEADY_PASSES = 3


class Ctx:
    """What an op needs: the session, the tracer (or None), the work dir."""

    def __init__(self, spark, tracer, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.pass_no = 0

    def span(self, kind: str, name: str = ""):
        return self.tracer.span(kind, name) if self.tracer else contextlib.nullcontext()

    def group(self, op: str, phase: str) -> None:
        if self.tracer is not None and self.tracer.active:
            from perfbench.trace import job_group

            self.spark.sparkContext.setJobGroup(
                job_group(self.pass_no, op, phase), "", False
            )

    def out_dir(self, op: str) -> str:
        return os.path.join(self.work, "out", f"{op}-p{self.pass_no}")


class QueryOp:
    """One registry query: ``Query.build`` plus a noop write of its result.
    In the cold pass the result is collected instead (what a one-shot user
    of the query sees); those rows are what the output check compares, so
    the check re-executes nothing."""

    def __init__(self, query) -> None:
        self.name = query.name
        self.query = query
        self.rows = 0
        self.result = None

    def run(self, ctx: Ctx) -> None:
        from perfbench.trace import NOOP_SAVE, catalyst_ms

        ctx.group(self.name, "build")
        with ctx.span("build", self.name):
            df = self.query.build(ctx.spark, ctx.data_dir)
        if ctx.tracer is not None and ctx.tracer.active:
            with ctx.span("trace.plan", self.name):
                ctx.tracer.count("catalyst.plan_ms", catalyst_ms(df))
        ctx.group(self.name, "exec")
        with ctx.span("exec", self.name):
            if ctx.pass_no == 0:
                self.result = (df.columns, [tuple(r) for r in df.collect()])
            else:
                NOOP_SAVE(df.write.format("noop").mode("overwrite"))

    def check(self, ctx: Ctx, con) -> str | None:
        from perfbench.checks import check_query

        cols, rows = self.result
        self.rows = len(rows)
        return check_query(con, self.query.oracle, cols, rows)


class SweepOp:
    """The CLI's ``generate --format parquet`` for one family set."""

    def __init__(self, families: str) -> None:
        self.name = families
        self.rows = 0
        self.last_out = None

    def run(self, ctx: Ctx) -> None:
        from synth_timeseries_data_spark.__main__ import main as cli

        out = ctx.out_dir(self.name)
        ctx.group(self.name, "op")
        rc = cli(["generate", "--families", self.name, "--out", out, "--format", "parquet"])
        if rc != 0:
            raise RuntimeError(f"generate --families {self.name} exited {rc}")
        _replace_last(self, out)

    def check(self, ctx: Ctx, con) -> str | None:
        from perfbench.checks import check_sweep, sweep_digest

        self.rows = sweep_digest(self.last_out)[0]
        return check_sweep(self.name, self.last_out)


def _replace_last(op, out: str) -> None:
    """Keep only the newest output of an op (the one the check reads)."""
    if op.last_out and op.last_out != out:
        shutil.rmtree(op.last_out, ignore_errors=True)
    op.last_out = out


def make_ops(workload: str):
    if workload == "sweep":
        return [SweepOp(f) for f in FAMILY_SETS]
    from synth_timeseries_data_spark.queries import all_queries

    qs = all_queries()
    return [QueryOp(qs[n]) for n in QUERY_MIX]


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def run(args) -> dict:
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.active = True
        tracer.install()
    from synth_timeseries_data_spark import session

    spark = session.get_session("perfbench")
    spark.range(1).count()
    setup_s = time.perf_counter() - T0

    ctx = Ctx(spark, tracer, args.work)
    ops = make_ops(args.workload)
    rng = random.Random(args.seed)
    attempted = failed = 0
    errors: list[str] = []
    raised: set[str] = set()
    passes: list[dict] = []

    def run_pass(p: int, kind: str, traced: bool) -> dict:
        nonlocal attempted, failed
        ctx.pass_no = p
        order = ops[:]
        rng.shuffle(order)
        if tracer is not None:
            tracer.active = traced
            tracer.pass_no = p
            if not traced:
                from perfbench.trace import job_group

                spark.sparkContext.setJobGroup(job_group(p, "-", "untraced"), "", False)
        lat: list[tuple[str, float]] = []
        t = time.perf_counter()
        for op in order:
            if tracer is not None:
                tracer.op = op.name
            t_op = time.perf_counter()
            attempted += 1
            try:
                with ctx.span("op", op.name):
                    op.run(ctx)
            except Exception as exc:  # a raising op is a counted failure
                failed += 1
                raised.add(op.name)
                errors.append(f"pass {p} {op.name}: {type(exc).__name__}: {exc}"[:500])
                traceback.print_exc()
            lat.append((op.name, time.perf_counter() - t_op))
        return {"pass": p, "kind": kind, "secs": time.perf_counter() - t,
                "traced": traced, "ops": lat}

    passes.append(run_pass(0, "cold", True))
    warmup = WARMUP_PASSES[args.workload]
    for p in range(1, warmup + 1):
        passes.append(run_pass(p, "warmup", False))
    start = time.perf_counter()
    p, steady = warmup, 0
    while steady < MIN_STEADY_PASSES or time.perf_counter() - start < args.seconds:
        p += 1
        steady += 1
        passes.append(run_pass(p, "steady", steady % 2 == 1))
    steady_s = time.perf_counter() - start
    if tracer is not None:
        tracer.active = False

    # Output checks, once per op per run, outside the timed window.
    from perfbench.checks import oracle_connection

    con = oracle_connection(ctx.data_dir) if args.workload != "sweep" else None
    checks = {}
    for op in ops:
        if op.name in raised:
            checks[op.name] = "raised"
            continue
        try:
            err = op.check(ctx, con)
        except Exception as exc:
            err = f"check raised {type(exc).__name__}: {exc}"
        checks[op.name] = err or "ok"
        if err:
            failed += 1
            errors.append(f"check {op.name}: {err}"[:500])

    checks_s = time.perf_counter() - start - steady_s
    rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(
        spark._jvm.java.lang.ProcessHandle.current().pid()
    )
    spark.stop()

    import pyspark

    rec = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "setup_s": setup_s,
        "passes": passes,
        "steady_s": steady_s,
        "checks_s": checks_s,
        "rows_per_pass": sum(op.rows for op in ops),
        "rows_per_op": {op.name: op.rows for op in ops},
        "peak_rss_mb": rss_mb,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "checks": checks,
        "spark": pyspark.__version__,
    }
    if tracer is not None:
        from perfbench.layers import layer_metrics
        from perfbench.trace import event_log_files, parse_event_log

        log_dir = os.environ["PERFBENCH_EVENT_LOG"]
        groups = parse_event_log(event_log_files(log_dir))
        rec["layers"] = layer_metrics(tracer, groups, passes)
        rec["spans"] = tracer.spans
    return rec


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("sweep", "queries"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    args = ap.parse_args(argv)
    rec = run(args)
    with open(os.path.join(args.work, "result.json"), "w") as fh:
        json.dump(rec, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
