"""Benchmark of the click-stream system: one command, two workloads.

    python3 perfbench/run.py --workload {stream,query_panel}
        --seed N --seconds S --trace {0,1}

Runs the workload in a child process with its own JVM (``child.py``),
samples the child's process tree for peak memory and the host for CPU
steal and load, and prints, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end set of BENCHMARK.json, with
``--trace 1`` the per-layer set. Exits 1 when any output check failed
and 2 when the run could not be made. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if not (ROOT / "realtime_event_streaming_spark").is_dir():
    print("perfbench: run from a checkout of the repository", file=sys.stderr)
    sys.exit(2)
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(HERE))

# bench.py imports nothing beyond the standard library at load time.
from bench import _load1, _steal_jiffies  # noqa: E402

import child as child_run  # noqa: E402
import oracles  # noqa: E402
import tracing  # noqa: E402

WORKLOADS = ("stream", "query_panel")
CHILD_TIMEOUT_S = 170
#: A traced run makes further untraced runs (reference, local[1]); each
#: starts only if one as long as the traced run still ends within this
#: many seconds of the start, so the command stays inside its 180 s on a
#: slow host. A skipped run's metric reads 0.
RUN_BUDGET_S = 175
#: Run-time files of every run, and the cached oracle results.
WORK_ROOT = HERE / ".work"


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _child_env(work: Path, cpus: int, trace: bool) -> dict:
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    submit = [
        "--driver-java-options",
        # -XX:-UsePerfData: no hsperfdata file outside the checkout.
        f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
    ]
    if trace:
        (work / "eventlog").mkdir()
        submit += tracing.event_log_confs(work / "eventlog")
    return dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(tmp),
        TZ="UTC",
        PYTHONPATH=str(ROOT),
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )


def run_child(workload: str, seed: int, seconds: float, trace: bool,
              cpus: int, replay_only: bool = False) -> dict:
    """One child run; returns its result plus peak memory and host noise."""
    work = WORK_ROOT / f"{workload}-{seed}-{os.getpid()}-{int(trace)}-{cpus}"
    shutil.rmtree(work, ignore_errors=True)
    out = work / "result.json"
    env = _child_env(work, cpus, trace)
    if workload == "query_panel":
        # Here, not in the child: the oracles' time and memory are not
        # the program's.
        oracles.fill(child_run.PANEL, child_run.SF_DIR, work / "oracles.json")
    log = open(work / "child.log", "w")
    steal0, t_mono = _steal_jiffies(), time.monotonic()
    t0 = time.time()
    child = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace)),
         "--work", str(work), "--t0", repr(t0), "--out", str(out)]
        + (["--replay-only"] if replay_only else []),
        cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    peak = 0.0
    try:
        while child.poll() is None:
            peak = max(peak, tracing.session_memory_mb(child.pid))
            if time.monotonic() - t_mono > CHILD_TIMEOUT_S:
                break
            time.sleep(0.2)
    finally:
        _stop_session(child)
        log.close()
    elapsed = time.monotonic() - t_mono
    steal = (_steal_jiffies() - steal0) / elapsed
    if child.returncode != 0 or not out.exists():
        tail = (work / "child.log").read_text()[-3000:]
        sys.stderr.write(f"child failed ({child.returncode}):\n{tail}\n")
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(2)
    res = json.loads(out.read_text())
    res["layers"]["peak_rss_mb"] = peak
    res["noise"] = {"steal_per_s": steal, "load1": _load1()}
    (WORK_ROOT / f"last-{workload}-{int(trace)}-{cpus}.json").write_text(
        json.dumps(res, indent=1)
    )
    if trace:
        shutil.copy(work / "spans.jsonl", WORK_ROOT / f"spans-{workload}.jsonl")
    with open(work / "child.log") as fh:
        sys.stderr.writelines(line for line in fh if line.startswith("perfbench:"))
    shutil.rmtree(work, ignore_errors=True)
    return res


def _stop_session(child: subprocess.Popen) -> None:
    """Kill whatever is left of the child's session and wait for it."""
    try:
        os.killpg(child.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    child.wait()
    deadline = time.monotonic() + 20
    while tracing.session_pids(child.pid) and time.monotonic() < deadline:
        time.sleep(0.1)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    spec = _spec()
    WORK_ROOT.mkdir(exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    trace = bool(args.trace)

    t_start = time.monotonic()
    res = run_child(args.workload, args.seed, args.seconds, trace, cpus)
    if trace:
        traced_s = time.monotonic() - t_start
        layers = {m["name"]: 0.0 for m in spec["per_layer"]}
        layers.update(res["layers"])

        def extra_run(name: str, cpus: int) -> dict | None:
            if time.monotonic() - t_start + traced_s > RUN_BUDGET_S:
                print(f"perfbench: no time left for {name}; it reads 0",
                      file=sys.stderr)
                return None
            # For ``stream`` only the replay phase, which alone sets
            # throughput.
            extra = run_child(args.workload, args.seed, args.seconds, False,
                              cpus, replay_only=args.workload == "stream")
            for key in ("attempted", "failed", "problems"):
                res[key] += extra[key]
            return extra

        # Against a fresh untraced run of the same seed.
        ref = extra_run("trace_overhead_pct", cpus)
        if ref:
            layers["trace_overhead_pct"] = (
                ref["metrics"]["throughput_per_s"] / res["metrics"]["throughput_per_s"] - 1
            ) * 100
        if args.workload == "stream":
            one = extra_run("streaming.replay_events_per_s_local1", 1)
            if one:
                layers["streaming.replay_events_per_s_local1"] = one["metrics"][
                    "throughput_per_s"
                ]
        layers["noise.steal_per_s"] = res["noise"]["steal_per_s"]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        chosen = layers
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        chosen = res["metrics"]
    unknown = set(chosen) - set(units)
    if unknown:
        sys.exit(f"perfbench: metrics missing from BENCHMARK.json: {sorted(unknown)}")

    for p in res["problems"]:
        print(f"check failed: {p}", file=sys.stderr)
    print(f"noise: steal {res['noise']['steal_per_s']:.1f} jiffies/s, "
          f"load1 {res['noise']['load1']:.2f}")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            n: {"value": chosen[n], "unit": units[n]} for n in units
        },
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
