"""Measurement helpers shared by the benchmark's parent and child.

Everything here observes the program from outside: spans around the
benchmark's own calls, Spark job groups read back through
``statusTracker``, streaming progress read from ``recentProgress``, and
an uncompressed event log folded after the session stops.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Spans kept in memory and written out once, at the end.

    A span has a name, start and end (seconds on the ``perf_counter``
    clock), the id of the span that encloses it and a trace id (one per
    query or run)."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "trace_id": trace_id,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: Path) -> None:
        path.write_text("\n".join(json.dumps(s) for s in self.spans) + "\n")


def jobs_in_group(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


# -- streaming progress --------------------------------------------------

PHASES = (
    "triggerExecution",
    "addBatch",
    "latestOffset",
    "getBatch",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
)
#: Metric name of each phase, in milliseconds.
PHASE_KEYS = tuple(
    "trigger_ms" if ph == "triggerExecution" else f"{ph}_ms" for ph in PHASES
)


class ProgressLog:
    """All progress records of some streaming queries, by batch id.

    ``recentProgress`` keeps only the newest 100 batches, so a long run
    must ``poll`` well within 100 batches; polls merge by batch id."""

    def __init__(self) -> None:
        self.by_query: dict[str, dict[int, dict]] = defaultdict(dict)

    def poll(self, name: str, query) -> None:
        seen = self.by_query[name]
        for p in query.recentProgress:
            rec = json.loads(p.json)
            seen.setdefault(rec["batchId"], rec)

    def batches(self, name: str) -> list[dict]:
        seen = self.by_query.get(name, {})
        return [seen[b] for b in sorted(seen)]


def fold_progress(batches: list[dict], prefix: str, state: bool) -> dict:
    """Per-layer totals of one query: rows, batches, summed trigger
    phases (ms) and, for stateful queries, peak state and late drops."""
    out = {
        f"{prefix}.rows": sum(b.get("numInputRows", 0) for b in batches),
        f"{prefix}.batches": len(batches),
    }
    for ph, key in zip(PHASES, PHASE_KEYS):
        out[f"{prefix}.{key}"] = sum(
            (b.get("durationMs") or {}).get(ph, 0) for b in batches
        )
    if state:
        ops = [b.get("stateOperators") or [] for b in batches]
        out[f"{prefix}.state_rows"] = max(
            (sum(o.get("numRowsTotal", 0) for o in b) for b in ops), default=0
        )
        out[f"{prefix}.state_mb"] = max(
            (sum(o.get("memoryUsedBytes", 0) for o in b) for b in ops),
            default=0,
        ) / 1e6
        out[f"{prefix}.late_rows_dropped"] = sum(
            o.get("numRowsDroppedByWatermark", 0) for b in ops for o in b
        )
    return out


# -- event log -----------------------------------------------------------


def event_log_confs(log_dir: Path) -> list[str]:
    """``--conf`` arguments for a single-file, uncompressed event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def fold_event_log(log_dir: Path) -> dict[str | None, dict[str, float]]:
    """Task metrics summed per job group (``None``: no group)."""
    stage_group: dict[int, str | None] = {}
    totals: dict[str | None, dict[str, float]] = defaultdict(
        lambda: defaultdict(float)
    )
    for path in sorted(log_dir.iterdir()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = totals[stage_group.get(ev.get("Stage ID"))]
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["tasks"] += 1
                    t["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    t["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / 1e6
                    t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    return totals


# -- memory of the run's processes ------------------------------------------


def session_pids(sid: int, min_age_s: float = 0.0) -> list[int]:
    """Live processes of session ``sid`` (the child started with
    ``start_new_session`` and everything it spawned) that have run for at
    least ``min_age_s``."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    ticks = os.sysconf("SC_CLK_TCK")
    pids = []
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                # Fields after the parenthesised command name: state
                # ppid pgrp session ... starttime is the 20th.
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended between listing and reading
        if (
            int(fields[3]) == sid
            and fields[0] != "Z"
            and uptime - int(fields[19]) / ticks >= min_age_s
        ):
            pids.append(int(entry.name))
    return pids


def session_memory_mb(sid: int) -> float:
    """Summed proportional set size (Pss) of session ``sid``.

    Pss splits pages shared after a fork among the sharers, so a Python
    worker forked from PySpark's daemon is not counted twice the way
    summed RSS would count it. Processes younger than a second are
    skipped: the JVM starts ``chmod`` and ``readlink`` through
    ``posix_spawn``, whose child shares the JVM's address space until it
    execs and would count the whole JVM a second time."""
    total_kb = 0
    for pid in session_pids(sid, min_age_s=1.0):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
