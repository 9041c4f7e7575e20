"""One benchmark run in a fresh process with its own JVM.

Started by ``run.py``; sets up, measures the workload, checks every
output and writes one JSON result. Times are taken around the
benchmark's own calls into the program's public functions; the program
receives only generated wire files and the fixed sf0.1 tables.
"""

from __future__ import annotations

import argparse
import gc
import json
import math
import random
import statistics
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

import oracles  # noqa: E402
import tracing  # noqa: E402
import wiregen  # noqa: E402

#: The fixed sf0.1 tables of TESTDATA.md (the bench.py scale).
SF_DIR = str(Path.home() / "testdata" / "sf0.1")

#: The query_panel set: two of the seven reference queries behind the
#: Superset and Grafana panels (the flagship rollup and the batch
#: anomaly scorer), then one headliner from each other
#: module group, the cheapest that still shows the group's typical
#: shape. All 35 headliners take about 100 s cold plus 44 s warm at
#: local[4], more than a run of this benchmark can spend.
PANEL = (
    "minute_rollup",  # plans.reference_queries
    "anomaly_zscore_batch",  # plans.reference_queries
    "pricing_summary",  # plans.star_queries
    "update_rollup_incremental",  # plans.index_queries: construction-time jobs
    "pagerank_pages",  # plans.graph_queries: construction-time jobs
    "zorder_pruned_scan",  # plans.layout_queries
    "dedup_minhash_lsh",  # operators.dedup: construction-time jobs
    "ann_bruteforce",  # operators.similarity
    "mmr_diverse_topk",  # operators.retrieval
    "join_size_estimate",  # operators.sketches: construction-time jobs
    "token_stats",  # operators.textstats
    "k_anonymity_census",  # operators.curation
    "pretraining_mix_manifest",  # operators.sampling
)

#: Replay phase size: three 10k-line files, about 10 s at the measured
#: warm capacity of about 3,000 ev/s at local[4]. A small file is
#: replayed during set-up to warm the JVM and the anomaly stage's Python
#: workers; it spans 200 s of event time, so windows close and reach the
#: stage.
REPLAY_FILES = 3
REPLAY_WARM_EVENTS = 2000
REPLAY_WARM_RATE = 10
#: Live phase: the load is wiregen's LIVE_RATE. The JVM is already warm
#: from the replay; events due in the first LIVE_WARMUP_S still meet the
#: new queries' first, slow triggers and are not counted.
LIVE_WARMUP_S = 5
#: Event time of the first replayed event: 2024-01-01T00:00:00Z.
REPLAY_START_MS = 1_704_067_200_000


class Run:
    """State of one run: session, work dir, timings, checks, layers."""

    def __init__(self, args):
        self.args = args
        self.work: Path = args.work
        self.trace = args.trace
        self.tracer = tracing.Tracer()
        self.progress = tracing.ProgressLog()
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.excluded_s = 0.0  # input generation inside the set-up window
        self.first_timed_wall: float | None = None
        self.spark = None
        self.details: dict = {}  # kept in the result file, not printed
        self.panel_modules: dict[str, str] = {}  # query -> module group
        self.passes = 1

    def session(self):
        from realtime_event_streaming_spark.session import get_spark

        with self.tracer.span("session.get_spark", "run"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def start_timing(self) -> None:
        self.first_timed_wall = time.time()

    def check(self, ok: bool, problem: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(problem)

    def group(self, name: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)


def heap_after_gc_mb(spark) -> float:
    """JVM heap in use after full collections: what the session retains,
    whatever size the heap has grown to. Collections repeat, half a
    second apart, until the reading stops falling: each lets Spark's
    ContextCleaner drop what the one before freed (three or four do)."""
    jvm = spark._jvm
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    gc.collect()  # Python's references to JVM objects go first
    prev = math.inf
    for _ in range(8):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        used = mem.getHeapMemoryUsage().getUsed() / 2**20
        if prev - used < 1:
            break
        prev = used
    return used


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation (``q`` in 0..100)."""
    s = sorted(values)
    k = (len(s) - 1) * q / 100
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


# -- query_panel -----------------------------------------------------------


def query_panel(run: Run) -> None:
    from realtime_event_streaming_spark.registry import load_all

    from tests.oracle import canon_rows

    spark = run.session()
    reg = load_all()
    order = list(PANEL)
    random.Random(run.args.seed).shuffle(order)

    run.group("warmup")
    for name in order:
        with run.tracer.span("warmup", name):
            reg[name].spark_fn(spark, SF_DIR).collect()

    run.start_timing()
    walls: dict[str, list[float]] = {n: [] for n in order}
    split: dict[str, list[tuple[float, float, float]]] = {n: [] for n in order}
    results: dict[str, tuple] = {}
    t_end = time.perf_counter() + run.args.seconds
    while True:
        for name in order:
            q = reg[name]
            with run.tracer.span("query", name):
                run.group(f"{name}:construct")
                with run.tracer.span("registry.spark_fn", name) as s1:
                    df = q.spark_fn(spark, SF_DIR)
                run.group(f"{name}:collect")
                with run.tracer.span("executedPlan", name) as s2:
                    df._jdf.queryExecution().executedPlan()
                with run.tracer.span("DataFrame.collect", name) as s3:
                    rows = df.collect()
            parts = tuple(s["end"] - s["start"] for s in (s1, s2, s3))
            split[name].append(parts)
            walls[name].append(sum(parts))
            results[name] = (df, rows)
        if time.perf_counter() >= t_end:
            break
    run.group("check")
    # The last pass's DataFrames are still held, as a dashboard holds
    # its results.
    run.metrics["heap_live_mb"] = heap_after_gc_mb(spark)
    per_query = {n: statistics.median(w) for n, w in walls.items()}

    # Correctness, outside the timed region: every result against its
    # DuckDB oracle (filled before this process started) with
    # tests/oracle.py's canonical comparison.
    oracle = oracles.load(run.work / "oracles.json")
    for name in order:
        df, rows = results[name]
        want = oracle[name]
        if want is None:
            run.check(False, f"{name}: no oracle")
            continue
        cols = list(df.columns)
        if sorted(cols) != sorted(want["columns"]):
            run.check(False, f"{name}: columns {sorted(cols)} vs {sorted(want['columns'])}")
            continue
        got = [list(r) for r in canon_rows(cols, [tuple(r) for r in rows])]
        run.check(got == want["rows"], f"{name}: rows differ from the oracle")
    total = sum(per_query.values())
    run.details["queries"] = per_query
    run.metrics.update(
        throughput_per_s=len(order) / total,
        latency_ms_p50=pct(list(per_query.values()), 50) * 1000,
        latency_ms_p95=pct(list(per_query.values()), 95) * 1000,
    )
    print(f"perfbench: panel_s={total:.3f} over {len(order)} queries, "
          f"{len(walls[order[0]])} pass(es)", flush=True)

    if run.trace:
        # Per pass: times are per-query medians, counts are divided by
        # the number of passes.
        sc = spark.sparkContext
        run.passes = len(walls[order[0]])
        for name in order:
            mod = reg[name].spark_fn.__module__.split(".", 1)[1]
            run.panel_modules[name] = mod
            med = [statistics.median(p[i] for p in split[name]) for i in range(3)]
            for key, v in zip(("construct_s", "plan_s", "collect_s"), med):
                run.layers[f"{mod}.{key}"] = run.layers.get(f"{mod}.{key}", 0) + v
            for kind in ("construct", "collect"):
                key = f"{mod}.jobs_{kind}"
                jobs = tracing.jobs_in_group(sc, f"{name}:{kind}") / run.passes
                run.layers[key] = run.layers.get(key, 0) + jobs


def fold_panel_event_log(run: Run) -> None:
    totals = tracing.fold_event_log(run.work / "eventlog")
    panel = Counter()
    for group, t in totals.items():
        if group is None or ":" not in group:
            continue
        name = group.split(":")[0]
        mod = run.panel_modules[name]
        key = f"{mod}.executor_cpu_s"
        run.layers[key] = run.layers.get(key, 0) + t["cpu_s"] / run.passes
        panel.update(t)
    for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s", "tasks"):
        run.layers[f"panel.{key}"] = panel[key] / run.passes


# -- stream: replay phase, then live phase ------------------------------------


def _replay(run: Run, wire: Path, out: Path, tag: str):
    """start_pipeline then start_anomaly_stage, both availableNow."""
    from realtime_event_streaming_spark.streaming.deploy import (
        start_anomaly_stage,
        start_pipeline,
    )

    with run.tracer.span("deploy.start_pipeline", tag):
        pipe = start_pipeline(run.spark, str(wire), str(out))
        pipe.await_all()
    with run.tracer.span("deploy.start_anomaly_stage", tag):
        scored = start_anomaly_stage(run.spark, str(out), sink_name=f"scored_{tag}")
        scored.awaitTermination()
    return pipe, scored


def replay_phase(run: Run) -> None:
    """Closed loop, one client: the seeded wire files through the whole
    deployment. Sets ``throughput_per_s``."""
    import pandas as pd
    import pyspark.sql.functions as F

    from realtime_event_streaming_spark.streaming.agg import minute_rollup_batch

    t_gen = time.perf_counter()
    wire = run.work / "wire"
    events = wiregen.write_fixture(wire, run.args.seed, REPLAY_FILES, REPLAY_START_MS)
    wiregen.write_fixture(
        run.work / "wire_warm", run.args.seed + 1, 1, REPLAY_START_MS,
        REPLAY_WARM_EVENTS, REPLAY_WARM_RATE,
    )
    run.excluded_s = time.perf_counter() - t_gen
    run.layers["generator.fixture_s"] = run.excluded_s
    lines = REPLAY_FILES * wiregen.FILE_EVENTS

    spark = run.session()
    _replay(run, run.work / "wire_warm", run.work / "out_warm", "warm")

    run.start_timing()
    out = run.work / "out"
    t0 = time.perf_counter()
    pipe, scored = _replay(run, wire, out, "timed")
    wall = time.perf_counter() - t0
    run.metrics["throughput_per_s"] = lines / wall
    print(f"perfbench: replay phase, {lines} events in {wall:.2f} s", flush=True)
    for name, q in (("ingest", pipe.raw_query), ("agg", pipe.rollup_query),
                    ("anomaly_stream", scored)):
        run.progress.poll(name, q)

    # Raw sink: every well-formed event, once.
    raw_n = spark.read.parquet(str(out / "clicks_raw")).count()
    run.check(raw_n == len(events), f"raw rows {raw_n} != {len(events)} events")

    # Rollup: every emitted window equals the batch rollup of the events
    # that are not certainly late; windows past the final watermark are
    # not emitted yet.
    wm = run.progress.batches("agg")[-1]["eventTime"]["watermark"]
    pdf = pd.DataFrame(
        [(e["user_id"], e["ts"], e["page"], e["country"]) for e in events if not e["late"]],
        columns=["user_id", "ts_ms", "page", "country"],
    )
    truth = minute_rollup_batch(
        spark.createDataFrame(pdf).withColumn("ts", F.timestamp_millis("ts_ms"))
    ).where(F.col("window_end") <= F.to_timestamp(F.lit(wm)))
    key = ("window_start", "page", "country")

    def table(df):
        return {
            tuple(r[k] for k in key): (r["cnt"], r["unique_users"])
            for r in df.select(*key, "cnt", "unique_users").collect()
        }

    rollup = spark.read.parquet(str(out / "page_minute_agg"))
    got, want = table(rollup), table(truth)
    for k in set(got) | set(want):
        run.check(got.get(k) == want.get(k), f"window {k}: {got.get(k)} != {want.get(k)}")

    # Anomaly stage: every rollup row scored exactly once.
    scored_keys = Counter(
        tuple(r) for r in spark.table("scored_timed")
        .select("window_start", "page", "country").collect()
    )
    rollup_keys = [
        tuple(r) for r in rollup.select(
            F.col("window_start").cast("string"), "page", "country"
        ).collect()
    ]
    for k in rollup_keys:
        run.check(scored_keys.pop(k, 0) == 1, f"rollup row {k} not scored once")
    for k, n in scored_keys.items():
        run.check(False, f"scored row {k} x{n} matches no rollup row")

    if run.trace:
        ingest = tracing.fold_progress(run.progress.batches("ingest"), "streaming.ingest", False)
        agg = tracing.fold_progress(run.progress.batches("agg"), "streaming.agg", True)
        anom = tracing.fold_progress(
            run.progress.batches("anomaly_stream"), "streaming.anomaly_stream", True
        )
        run.layers.update(ingest)
        run.layers.update(agg)
        for key in ("rows", "trigger_ms", "addBatch_ms", "state_rows"):
            key = f"streaming.anomaly_stream.{key}"
            run.layers[key] = anom[key]
        run.layers["wire.parses_per_event"] = (
            ingest["streaming.ingest.rows"] + agg["streaming.agg.rows"]
        ) / lines


def live_phase(run: Run) -> None:
    """Open loop from a separate generator process into the wiring
    start_pipeline builds, tailing the source. Sets the latencies."""
    import pyspark.sql.functions as F

    from realtime_event_streaming_spark.streaming.agg import (
        EXACT_WATERMARK,
        minute_rollup_stream_exact,
        write_rollup,
    )
    from realtime_event_streaming_spark.streaming.ingest import (
        parse_clicks,
        read_json_file_stream,
        write_raw_events,
    )

    spark = run.spark
    wire, out = run.work / "live_wire", run.work / "live_out"
    wire.mkdir()
    trigger = {"processingTime": "0 seconds"}
    with run.tracer.span("live.start", "live"):
        stream = parse_clicks(
            read_json_file_stream(spark, str(wire), max_files_per_trigger=None),
            watermark=EXACT_WATERMARK,
        )
        raw_q = write_raw_events(
            stream, str(out / "clicks_raw"), str(out / "_ck_raw"), trigger=trigger
        )
        agg_q = write_rollup(
            minute_rollup_stream_exact(stream),
            str(out / "page_minute_agg"),
            str(out / "_ck_agg"),
            trigger=trigger,
        )
    stats_path = run.work / "generator.json"
    gen = subprocess.Popen(
        [sys.executable, str(HERE / "wiregen.py"), "live", "--dir", str(wire),
         "--seed", str(run.args.seed), "--seconds", str(LIVE_WARMUP_S + run.args.seconds),
         "--stats", str(stats_path)],
    )
    # Backlog after the warm-up: files written but not yet committed by
    # the raw query, sampled at each poll.
    backlog_from = time.time() + LIVE_WARMUP_S
    backlog_max = 0
    try:
        with run.tracer.span("live.load", "live"):
            while gen.poll() is None:
                time.sleep(1.0 if run.trace else 0.2)
                if run.trace:
                    run.progress.poll("live.ingest", raw_q)
                    run.progress.poll("live.agg", agg_q)
                    if time.time() >= backlog_from:
                        written = sum(1 for p in wire.iterdir() if p.name.startswith("live-"))
                        lines = sum(b["numInputRows"] for b in run.progress.batches("live.ingest"))
                        # One malformed line every LIVE_MALFORMED_EVERY files.
                        lines_per_file = (
                            wiregen.LIVE_FILE_EVENTS + 1 / wiregen.LIVE_MALFORMED_EVERY
                        )
                        backlog_max = max(backlog_max, written - round(lines / lines_per_file))
        # The raw sink is what the latencies and checks read: wait until
        # its query has seen the last file and gone idle.
        with run.tracer.span("live.drain", "live"):
            deadline = time.time() + 30
            idle = 0
            while idle < 2 and time.time() < deadline:
                time.sleep(0.1)
                st = raw_q.status
                busy = st["isDataAvailable"] or st["isTriggerActive"]
                idle = 0 if busy else idle + 1
    finally:
        if gen.poll() is None:
            gen.terminate()
        gen.wait()
    if run.trace:
        run.progress.poll("live.ingest", raw_q)
        run.progress.poll("live.agg", agg_q)
    raw_q.stop()
    agg_q.stop()
    # Only here: a full collection shrinks the heap G1 has grown, and one
    # between the phases would make the live phase grow it again.
    run.metrics["heap_live_mb"] = heap_after_gc_mb(spark)
    if gen.returncode != 0:
        raise SystemExit(f"generator exited with {gen.returncode}")

    stats = json.loads(stats_path.read_text())
    window_start = stats["t0"] + LIVE_WARMUP_S
    landed = spark.read.parquet(str(out / "clicks_raw")).select(
        "event_id",
        F.unix_millis("created_at").alias("created_ms"),
        ((F.unix_micros("created_at") - F.unix_micros("ts")) / 1000).alias("lat_ms"),
    ).toPandas()

    # Every well-formed event lands in the raw sink exactly once.
    expected = wiregen.live_event_ids(run.args.seed, stats["files"])
    counts = Counter(landed["event_id"])
    for eid in expected:
        run.check(counts.pop(eid, 0) == 1, f"event {eid} not landed once")
    for eid, n in counts.items():
        run.check(False, f"unexpected event {eid} x{n}")

    # Measured events: those of files due after the warm-up.
    first_file = round(LIVE_WARMUP_S / wiregen.LIVE_INTERVAL_S)
    file_no = landed["event_id"].str.split("-").str[1].astype(int)
    lat = landed[file_no >= first_file]["lat_ms"].tolist()
    run.metrics.update(latency_ms_p50=pct(lat, 50), latency_ms_p95=pct(lat, 95))
    print(f"perfbench: live phase, {len(lat)} events after warm-up", flush=True)

    if run.trace:
        for name in ("live.ingest", "live.agg"):
            batches = [
                b for b in run.progress.batches(name)
                if _epoch(b["timestamp"]) >= window_start
            ]
            totals = tracing.fold_progress(batches, name, name == "live.agg")
            n = max(len(batches), 1)
            for key in tracing.PHASE_KEYS:
                run.layers[f"{name}.{key}"] = totals[f"{name}.{key}"] / n
            run.layers[f"{name}.batches"] = len(batches)
            if name == "live.agg":
                for key in ("state_rows", "state_mb"):
                    run.layers[f"{name}.{key}"] = totals[f"{name}.{key}"]
        run.layers["generator.late_ms_p99"] = stats["late_ms_p99"]
        run.layers["generator.backlog_files_max"] = backlog_max


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def stream(run: Run) -> None:
    replay_phase(run)
    if not run.args.replay_only:
        live_phase(run)


WORKLOADS = {"stream": stream, "query_panel": query_panel}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--t0", type=float, required=True, help="wall time of spawn")
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--replay-only", action="store_true",
                    help="stream: skip the live phase")
    args = ap.parse_args()

    run = Run(args)
    WORKLOADS[args.workload](run)
    run.spark.stop()
    if args.trace and args.workload == "query_panel":
        fold_panel_event_log(run)
    if args.trace:
        run.tracer.write(args.work / "spans.jsonl")
    setup_s = run.first_timed_wall - args.t0 - run.excluded_s
    args.out.write_text(json.dumps({
        "metrics": dict(run.metrics, setup_s=setup_s),
        "layers": run.layers,
        "attempted": run.attempted,
        "failed": run.failed,
        "problems": run.problems,
        "details": run.details,
    }))


if __name__ == "__main__":
    main()
