"""Command-line entry point.

    python -m realtime_event_streaming_spark list
    python -m realtime_event_streaming_spark run <query> [--sf-dir DIR] [-n N]
    python -m realtime_event_streaming_spark audit <query> [--sf-dir DIR] [--full]
    python -m realtime_event_streaming_spark bench [--sf-dir DIR]
    python -m realtime_event_streaming_spark pipeline [--events N] [--out DIR]

``run`` executes any registered query and prints the first N rows;
``audit`` prints one JSON line of plan-quality counters for any
query (scans / shuffles / broadcasts / codegen spans / top-k /
Python boundary) from the AQE-FINAL plan — the scale-review
checklist, on demand;
``pipeline`` runs the full streaming deployment (generator -> ingest ->
raw table + exact rollup -> anomaly alerts) against a temp or given
directory — the quickest way to see the engine end-to-end.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time


def _spark():
    from .session import get_spark

    spark = get_spark("rtes-cli")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cmd_list(_args) -> int:
    from .registry import load_all

    reg = load_all()
    width = max(len(n) for n in reg)
    for name, q in sorted(reg.items()):
        tags = ",".join(q.tags)
        oracle = "oracle" if q.oracle else "rows-only"
        star = "*" if q.headline else " "
        print(f"{star} {name:<{width}}  [{tags}] ({oracle})")
    print(f"\n{len(reg)} queries; * = benchmarked headline")
    return 0


def cmd_run(args) -> int:
    from .registry import load_all

    reg = load_all()
    if args.query not in reg:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark()
    t0 = time.perf_counter()
    df = reg[args.query].spark_fn(spark, args.sf_dir)
    rows = df.limit(args.n).collect()
    dt = time.perf_counter() - t0
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(f"-- {len(rows)} row(s) shown in {dt:.2f}s", file=sys.stderr)
    if args.explain:
        df.explain("formatted")
    return 0


def cmd_bench(args) -> int:
    import os
    import subprocess
    from pathlib import Path

    env = dict(os.environ, SPARK_GRAFT_SF_DIR=args.sf_dir)
    return subprocess.call(
        [sys.executable, str(Path(__file__).resolve().parent.parent / "bench.py")],
        env=env,
    )


def cmd_pipeline(args) -> int:
    import pyspark.sql.functions as F

    from .sources.clickgen import generate_clicks, write_stream_fixture
    from .streaming.anomaly_stream import alerts
    from .streaming.deploy import start_anomaly_stage, start_pipeline

    spark = _spark()
    out = args.out or tempfile.mkdtemp(prefix="rtes_pipeline_")
    print(f"pipeline output: {out}", file=sys.stderr)
    clicks = generate_clicks(
        spark, n_events=args.events, n_users=max(args.events // 40, 10),
        rate_per_sec=args.rate,
    )
    write_stream_fixture(clicks, f"{out}/wire", n_files=8)
    pipe = start_pipeline(spark, f"{out}/wire", out)
    pipe.await_all()
    q3 = start_anomaly_stage(spark, out, sink_name="cli_scored")
    q3.awaitTermination(600)
    scored = spark.table("cli_scored")
    n_raw = spark.read.parquet(f"{out}/clicks_raw").count()
    n_agg = scored.count()  # the stage scores every rollup window once
    n_anom = scored.where(F.col("is_anomaly") == "true").count()
    print(f"raw events: {n_raw}  rollup windows: {n_agg}  anomalies: {n_anom}")
    for r in alerts(scored).limit(5).collect():
        print(r.alert)
    return 0


def cmd_audit(args) -> int:
    """Plan-quality audit for any registered query: the counters a
    scale review reads off `.explain` (scans, shuffles, broadcasts,
    codegen spans, top-k operators), printed as one JSON line — the
    CLI form of the checks tests/test_plan_properties.py pins for the
    audited queries, available for ALL of them."""
    from .registry import load_all

    reg = load_all()
    if args.query not in reg:
        print(f"unknown query {args.query!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark()
    df = reg[args.query].spark_fn(spark, args.sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    # pushdown is a static scan property: read "formatted" BEFORE
    # execution (AQE-final strings duplicate the scan sections)
    formatted = qe.explainString(mode.fromString("formatted"))
    df.collect()  # finalize the AQE plan so codegen spans and the
    # runtime-chosen join strategies are the audited reality;
    # audit only the FINAL plan section of the simple string
    plan = qe.explainString(mode.fromString("simple"))
    plan = plan.split("== Initial Plan ==")[0]
    audit = {
        "query": args.query,
        "parquet_scans": plan.count("Scan parquet"),
        "shuffle_exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange SinglePartition"),
        "broadcast_exchanges": plan.count("BroadcastExchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "codegen_spans": plan.count("*("),  # WholeStageCodegen ids in the tree
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "pushed_filters": formatted.count("PushedFilters: ["),
        "row_at_a_time_python": plan.count("BatchEvalPython"),
        "arrow_python": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
    }
    print(json.dumps(audit))
    if args.full:
        print(formatted)
    return 0


def main() -> int:
    p = argparse.ArgumentParser(prog="realtime_event_streaming_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("list")
    pr = sub.add_parser("run")
    pr.add_argument("query")
    pr.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pr.add_argument("-n", type=int, default=20)
    pr.add_argument("--explain", action="store_true")
    pa = sub.add_parser("audit")
    pa.add_argument("query")
    pa.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    pa.add_argument("--full", action="store_true")
    pb = sub.add_parser("bench")
    pb.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    pp = sub.add_parser("pipeline")
    pp.add_argument("--events", type=int, default=5000)
    pp.add_argument("--rate", type=float, default=5.0)
    pp.add_argument("--out", default=None)
    args = p.parse_args()
    return {
        "list": cmd_list,
        "run": cmd_run,
        "audit": cmd_audit,
        "bench": cmd_bench,
        "pipeline": cmd_pipeline,
    }[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
