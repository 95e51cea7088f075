"""Command-line surface: the reference's `python a1.py … python d3c.py`
workflow as one distributed entrypoint.

A reference user runs per-family scripts that loop configs serially and
drop a CSV + structure-sidecar tree under Datasets/ (Codes/a1.py:237-344).
The engine's equivalent is one command that runs the SAME factorial sweeps
as a Spark job (every config a task batch — see queries/generation.py) and
writes a partition-pruned dataset tree:

    python -m synth_timeseries_data_spark list
    python -m synth_timeseries_data_spark query asof_lag --sf-dir /data/sf0.1 --out /tmp/res
    python -m synth_timeseries_data_spark generate --families a1,c1 --out /tmp/corpus --format csv

`generate` writes long-form series partitioned by (family, config_id) —
one directory per config like the reference's tree, readable back with a
partition-pruned scan — plus the ground-truth structure sidecar of the
families it wrote (sinks.write_structure_json). Each umbrella directory is
written once, by one Spark job, and holds both twins: masking families
(d1/d2/d3 and their confounded twins) land under out/masked with the
(value_complete, value_observed) pair schema, complete-data families
(a1..c2 and their confounded twins) under out/complete. The sidecar needs
no job of its own: it is rendered in Python from the kernels' equation
compile and written from the driver.
"""

from __future__ import annotations

import argparse
import os
import sys


def cmd_list(_args) -> int:
    from .queries import all_queries

    for name, q in all_queries().items():
        kind = "oracle" if q.oracle is not None else "rows-only"
        doc = " ".join((q.doc or "").split())[:88]
        print(f"{name:32s} [{kind}] {doc}")
    return 0


def cmd_query(args) -> int:
    from .queries import all_queries
    from .session import get_session

    spark = get_session()
    qs = all_queries()
    if args.name not in qs:
        print(f"unknown query: {args.name}", file=sys.stderr)
        return 2
    df = qs[args.name].build(spark, args.sf_dir)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        print(f"wrote {args.out}")
    else:
        df.show(args.limit, truncate=False)
    return 0


def cmd_generate(args) -> int:
    from .queries import generation as G
    from .session import get_session
    from .sinks import write_structure_json

    families = (
        list(G._FAMILIES) if args.families == "all"
        else args.families.split(",")
    )
    if missing := set(families) - set(G._FAMILIES):
        print(f"unknown families: {sorted(missing)}", file=sys.stderr)
        return 2
    spark = get_session()
    for umbrella in G._SCHEMA:
        rows = G.grid([f for f in families if G._FAMILIES[f][0] == umbrella])
        if not rows:
            continue
        out = os.path.join(args.out, umbrella)
        df = G.sweep(spark, rows)
        writer = df.write.mode("overwrite").partitionBy("family", "config_id")
        if args.format == "csv":
            writer.option("header", True).option("nullValue", "").csv(out)
        else:
            writer.parquet(out)
        print(f"wrote {len(rows)} configs -> {out}")
    write_structure_json(
        spark, os.path.join(args.out, "structure"),
        [f for f in G._FAMILIES if f in families],
    )
    print(f"wrote structure sidecar -> {os.path.join(args.out, 'structure')}")
    return 0


def cmd_plot_bundle(args) -> int:
    from .session import get_session
    from .sinks import write_plot_bundle

    spark = get_session()
    summary = write_plot_bundle(spark, args.sf_dir, args.out)
    for row in summary.collect():
        print(f"wrote frame={row['frame']} ({row['n_rows']} rows)")
    print(f"bundle -> {args.out}")
    if getattr(args, "render", False):
        from .functions.render import render_plot_bundle

        try:
            figures = render_plot_bundle(
                args.out, os.path.join(args.out, "figures")
            )
        except RuntimeError as exc:
            print(f"--render failed: {exc}", file=sys.stderr)
            return 2
        for path in figures:
            print(f"rendered {path}")
    return 0


def cmd_curate(args) -> int:
    from .session import get_session

    spark = get_session()
    if getattr(args, "batch_where", None):
        from .sinks import write_curated_corpus_incremental

        summary = write_curated_corpus_incremental(
            spark, args.sf_dir, args.out, args.batch_where,
            publish_root=args.publish or None,
        )
        for row in summary.collect():
            print(f"{row['stage']:24s} {row['n']}")
        print(f"curated corpus (incremental batch) -> {args.out}")
        return 0
    from .sinks import write_curated_corpus

    summary = write_curated_corpus(spark, args.sf_dir, args.out)
    for row in summary.collect():
        print(f"{row['stage']:24s} {row['n']}")
    print(f"curated corpus -> {args.out}")
    if args.publish:
        from .sinks import publish_version, published_info

        n_kept = {r["stage"]: r["n"] for r in summary.collect()}.get("kept", 0)
        if not n_kept:
            # an all-dropped corpus writes no partitioned part files —
            # there is nothing to promote, and the prior version (if any)
            # must stay the committed one
            print(f"nothing to publish (0 kept) -> {args.publish} unchanged")
            return 0
        kept = spark.read.parquet(os.path.join(args.out, "corpus"))
        version = publish_version(
            spark, kept, args.publish, partition_by=("source",)
        )
        # the pointer already carries the footer-counted rows — no scan
        n = published_info(args.publish)["n_rows"]
        print(f"published v{version} ({n} rows) -> {args.publish}")
    return 0


def cmd_benchmark(args) -> int:
    """EP1→EP3 as one invocation: generate the sweep, persist it, score
    the discovery screener against the DSL ground truth per config, and
    write the metrics rollup cube (the reference's a1.py:308-344 →
    helper_funcs scoring lifecycle)."""
    from .queries.benchmark import _SCOREABLE, run_benchmark
    from .session import get_session

    spark = get_session("benchmark")
    if getattr(args, "predictions", None):
        from .queries.benchmark import score_predictions, write_scores

        preds = spark.read.parquet(args.predictions)
        scores_dir, metrics_dir, r = write_scores(
            spark, score_predictions(spark, preds), args.out
        )
        if r is not None:
            print(f"scored {r.n_configs} configs: avg_f1={r.avg_f1:.4f} "
                  f"avg_shd={r.avg_shd:.2f}")
        print(f"scores -> {scores_dir}")
        print(f"metrics cube -> {metrics_dir}")
        return 0
    families = (
        list(_SCOREABLE) if args.families == "all"
        else args.families.split(",")
    )
    try:
        summary = run_benchmark(spark, families, args.out)
    except ValueError as exc:
        print(str(exc), file=sys.stderr)
        return 2
    print(f"generated {summary['n_configs']} configs -> {summary['corpus']}")
    print(f"scores -> {summary['scores']}")
    print(f"metrics cube -> {summary['metrics']}")
    print(f"overall avg_f1={summary['avg_f1']:.4f} "
          f"avg_shd={summary['avg_shd']:.2f}")
    return 0


def cmd_corpus_report(args) -> int:
    from .session import get_session
    from .sinks import write_corpus_report

    spark = get_session()
    summary = write_corpus_report(spark, args.sf_dir, args.out)
    for r in summary.collect():
        print(f"{r.stage}={r.n}")
    return 0


def cmd_index(args) -> int:
    """Build the persisted serving indexes (write-once bucketed tables;
    re-queries probe them with zero corpus-proportional shuffle)."""
    from .functions import neardup_index as ni
    from .session import get_session

    spark = get_session("index-build")
    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS {args.db} LOCATION '{args.location}'"
    )
    builders = {
        "minhash": lambda: ni.build_minhash_index(
            spark, args.sf_dir, prefix=f"{args.db}.mh"
        ),
        "embed": lambda: ni.build_embed_index(
            spark, args.sf_dir, prefix=f"{args.db}.nd"
        ),
        "ivf": lambda: ni.build_ivf_index(
            spark, args.sf_dir, prefix=f"{args.db}.ivf"
        ),
        "lsh": lambda: ni.build_lsh_index(
            spark, args.sf_dir, prefix=f"{args.db}.lshq"
        ),
        "pq": lambda: ni.build_pq_index(
            spark, args.sf_dir, prefix=f"{args.db}.pq"
        ),
        "runs": lambda: ni.build_runs_index(
            spark, args.sf_dir, prefix=f"{args.db}.nv"
        ),
        "winnow": lambda: ni.build_winnow_index(
            spark, args.sf_dir, prefix=f"{args.db}.wn"
        ),
    }
    kinds = (
        list(builders)
        if args.kind == "all"
        else [k.strip() for k in args.kind.split(",") if k.strip()]
    )
    unknown = [k for k in kinds if k not in builders]
    if unknown:
        print(
            f"unknown index kind(s) {unknown}; valid: "
            f"{', '.join(builders)} or 'all'"
        )
        return 2
    with ni.index_posture(spark):
        for k in kinds:
            out = builders[k]()
            names = [out] if isinstance(out, str) else [
                x for x in out if isinstance(x, str)
            ]
            for t in names:
                n = spark.table(t).count()
                print(f"index={k} table={t} rows={n}")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="synth_timeseries_data_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="print the query registry")

    q = sub.add_parser("query", help="run a registry query")
    q.add_argument("name")
    q.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    q.add_argument("--out", help="write result parquet here (default: show)")
    q.add_argument("--limit", type=int, default=20)

    g = sub.add_parser(
        "generate", help="run family sweeps and write the dataset tree"
    )
    g.add_argument("--families", default="all", help="comma list (a1,c1c,d3,…) or 'all'")
    g.add_argument("--out", required=True)
    g.add_argument("--format", choices=("csv", "parquet"), default="csv")

    p = sub.add_parser(
        "plot-bundle",
        help="write the G19 plot-data bundle (decomposition / sampling "
        "hist / missing pattern) as one partitioned dataset",
    )
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p.add_argument("--out", required=True)
    p.add_argument(
        "--render",
        action="store_true",
        help="additionally draw the reference's three PNGs into "
        "<out>/figures (requires matplotlib; the bundle data itself "
        "never does)",
    )

    c = sub.add_parser(
        "curate",
        help="run the end-to-end curation pipeline (Gopher gates + MinHash "
        "dedup + DSIR weights) and write decisions/ + corpus/",
    )
    c.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    c.add_argument("--out", required=True)
    c.add_argument(
        "--publish",
        help="also promote the kept corpus as the next version of this "
        "dataset root (atomic pointer-swap publish: readers never see a "
        "partial corpus; prior versions stay for rollback)",
    )
    c.add_argument(
        "--batch-where",
        help="incremental mode: process ONLY the documents matching this "
        "SQL predicate as a new ingest batch — dedup it against the "
        "accumulated state under OUT/state at delta cost, refresh the "
        "full decisions/corpus snapshot, and (with --publish) promote it "
        "as the next version; N batches over a partition of the corpus "
        "reproduce the one-shot kept set exactly",
    )

    cr = sub.add_parser(
        "corpus-report",
        help="write the corpus-health bundle (per-doc shape/repetition/"
        "novelty audit + language and length profiles)",
    )
    cr.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    cr.add_argument("--out", required=True)

    bm = sub.add_parser(
        "benchmark",
        help="EP1→EP3 end-to-end: generate the factorial sweep, persist "
        "it, score the discovery screener vs the DSL ground truth per "
        "config, and write the metrics rollup cube",
    )
    bm.add_argument(
        "--families", default="all",
        help="comma list of scoreable families (a1,b2,c1) or 'all'",
    )
    bm.add_argument("--out", required=True)
    bm.add_argument(
        "--predictions",
        help="skip generation/screener: score this parquet of predicted "
        "edges (family, n_vars, max_lag, i, j, k — e.g. from the "
        "tetrad_edges/tcdf_edges decoders) against the DSL ground truth",
    )

    ix = sub.add_parser(
        "index",
        help="build the persisted serving indexes (bucketed write-once "
        "tables: minhash pair, embedding near-dup, LSH/IVF/PQ ANN cells, "
        "novelty runs, winnowing fingerprints)",
    )
    ix.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ix.add_argument("--location", required=True, help="database location")
    ix.add_argument("--db", default="serving")
    ix.add_argument(
        "--kind", default="all",
        help="comma list of minhash,embed,ivf,lsh,pq,runs,winnow or 'all'",
    )

    args = ap.parse_args(argv)
    return {
        "list": cmd_list,
        "query": cmd_query,
        "generate": cmd_generate,
        "plot-bundle": cmd_plot_bundle,
        "curate": cmd_curate,
        "index": cmd_index,
        "benchmark": cmd_benchmark,
        "corpus-report": cmd_corpus_report,
    }[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
