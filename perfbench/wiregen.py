"""Seeded click-stream load generator in the pipeline's wire format.

Each line is one JSON event with the seven fields of
``schemas.CLICK_WIRE_SCHEMA`` (``ts`` in epoch milliseconds). Pages,
countries and devices follow the reference producer's weights, imported
from ``sources.clickgen``; users are drawn uniformly from ``USERS`` ids
and each keeps a referrer chain that restarts at ``/`` with the
producer's 5% session expiry.

Two uses, one generator:

* ``write_fixture`` writes the replay phase's input during set-up:
  ``FILE_EVENTS``-line files in arrival order, event time advancing at
  ``REPLAY_EVENT_RATE`` events/s, with out-of-order, certainly-late and
  malformed lines mixed in (shares below).
* ``python perfbench/wiregen.py live ...`` is the live phase's load:
  a separate process that writes one file every ``LIVE_INTERVAL_S``
  seconds at ``LIVE_RATE`` events/s, on a fixed schedule that never
  slows down (a late file is written at once and the schedule keeps its
  original due times). Each event's ``ts`` is its file's due time, so
  ``created_at - ts`` in the raw sink counts any wait the generator
  itself suffered; how late each file was actually written is recorded
  in the stats file.

Every parameter is fixed here so that a seed alone fixes the input.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import signal
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from realtime_event_streaming_spark.sources.clickgen import (  # noqa: E402
    COUNTRIES,
    DEVICES,
    PAGES,
    SESSION_EXPIRY_PCT,
)

#: Distinct user ids: the reference producer's cap on concurrent
#: sessions (produce.py:65), so exact distinct-user state is realistic.
USERS = 5000
#: Lines per replay file; the replay reads one file per trigger, so
#: this is the micro-batch size (per-row work dominates at 10k).
FILE_EVENTS = 10_000
#: Event-time rate of the replay: the reference producer's 100 ev/s,
#: so one file spans 100 s of event time and a run covers several
#: one-minute windows.
REPLAY_EVENT_RATE = 100
#: Share of replay events moved back in time by up to ``OOO_MAX_S``:
#: out of order but inside the reference's 10 s bound, never dropped.
OOO_SHARE = 0.05
OOO_MAX_S = 10
#: Share of replay events moved back by ``LATE_SHIFT_S``. Spark drops a
#: late row against the watermark of the batch before the current one,
#: so these appear only from the third file on: a file spans 100 s,
#: which puts them at least 130 s behind that watermark, certainly
#: beyond the exact rollup's 70 s delay.
LATE_SHARE = 0.005
LATE_SHIFT_S = 400
#: Live load: 1,500 ev/s, about half the replay throughput measured at
#: local[4], at which the raw sink keeps up and no backlog grows; a file
#: every 100 ms keeps micro-batches small, so fixed per-trigger costs
#: dominate.
LIVE_RATE = 1500
LIVE_INTERVAL_S = 0.1
LIVE_FILE_EVENTS = round(LIVE_RATE * LIVE_INTERVAL_S)
#: Truncated JSON lines per replay file and per ``LIVE_MALFORMED_EVERY``
#: live files: the parser must drop them.
MALFORMED_PER_FILE = 3
LIVE_MALFORMED_EVERY = 10
MALFORMED_LINE = '{"event_id": "broken", "user_id": "u000001", "ts": 17'

_PAGE_VALUES = [p for p, _ in PAGES]
_PAGE_CUM = list(itertools.accumulate(w for _, w in PAGES))
_COUNTRY_VALUES = [c for c, _ in COUNTRIES]
_COUNTRY_CUM = list(itertools.accumulate(w for _, w in COUNTRIES))
_DEVICE_VALUES = [d for d, _ in DEVICES]
_DEVICE_CUM = list(itertools.accumulate(w for _, w in DEVICES))


class ClickSource:
    """Deterministic event factory: the same seed gives the same events."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.last_page: dict[int, str] = {}

    def event(self, event_id: str, ts_ms: int) -> dict:
        rng = self.rng
        user = rng.randrange(USERS)
        page = rng.choices(_PAGE_VALUES, cum_weights=_PAGE_CUM)[0]
        fresh = rng.randrange(100) < SESSION_EXPIRY_PCT
        referrer = "/" if fresh else self.last_page.get(user, "/")
        self.last_page[user] = page
        return {
            "event_id": event_id,
            "user_id": f"u{user:06d}",
            "ts": ts_ms,
            "page": page,
            "referrer": referrer,
            "country": rng.choices(_COUNTRY_VALUES, cum_weights=_COUNTRY_CUM)[0],
            "device": rng.choices(_DEVICE_VALUES, cum_weights=_DEVICE_CUM)[0],
        }


def _write_atomic(path: Path, lines: list[str], mtime: float | None = None):
    # A leading dot hides the partial file from Spark's file source.
    tmp = path.with_name("." + path.name + ".tmp")
    tmp.write_text("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    tmp.rename(path)


def write_fixture(
    out_dir: Path, seed: int, n_files: int, start_ms: int,
    file_events: int = FILE_EVENTS, event_rate: int = REPLAY_EVENT_RATE,
) -> list[dict]:
    """Write ``n_files`` replay files and return every well-formed event,
    each with a ``late`` flag (certainly beyond the watermark)."""
    out_dir.mkdir(parents=True)
    src = ClickSource(seed)
    rng = src.rng
    events: list[dict] = []
    step_ms = 1000 // event_rate
    # File-source replay order is modification time: stamp increasing
    # mtimes in the past so every file is visible at the first trigger.
    base_mtime = time.time() - n_files - 1
    seq = 0
    for f in range(n_files):
        lines: list[str] = []
        bad_at = set(rng.sample(range(file_events), MALFORMED_PER_FILE))
        for i in range(file_events):
            if i in bad_at:
                lines.append(MALFORMED_LINE)
                continue
            ts = start_ms + seq * step_ms
            late = f >= 2 and rng.random() < LATE_SHARE
            if late:
                ts -= LATE_SHIFT_S * 1000
            elif rng.random() < OOO_SHARE:
                ts -= rng.randrange(OOO_MAX_S * 1000)
            ev = src.event(f"r{seed}-{seq:08d}", ts)
            lines.append(json.dumps(ev))
            ev["late"] = late
            events.append(ev)
            seq += 1
        _write_atomic(out_dir / f"part-{f:05d}.json", lines, base_mtime + f)
    return events


def live_event_ids(seed: int, n_files: int) -> set[str]:
    """The well-formed event ids of a live run that wrote ``n_files``."""
    return {
        f"l{seed}-{k:06d}-{j:04d}"
        for k in range(n_files) for j in range(LIVE_FILE_EVENTS)
    }


def run_live(out_dir: Path, seed: int, seconds: float, stats_path: Path) -> None:
    """Open-loop writer: file k is due at ``t0 + k * LIVE_INTERVAL_S``."""
    stop = False

    def _stop(*_):
        nonlocal stop
        stop = True

    signal.signal(signal.SIGTERM, _stop)
    src = ClickSource(seed)
    t0 = time.time()
    late_ms: list[float] = []
    k = 0
    while not stop and k * LIVE_INTERVAL_S < seconds:
        due = t0 + k * LIVE_INTERVAL_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        ts_ms = int(due * 1000)
        lines = [
            json.dumps(src.event(f"l{seed}-{k:06d}-{j:04d}", ts_ms))
            for j in range(LIVE_FILE_EVENTS)
        ]
        if k % LIVE_MALFORMED_EVERY == LIVE_MALFORMED_EVERY - 1:
            lines.append(MALFORMED_LINE)
        _write_atomic(out_dir / f"live-{k:06d}.json", lines)
        late_ms.append((time.time() - due) * 1000)
        k += 1
    late_ms.sort()
    stats = {
        "t0": t0,
        "files": k,
        "late_ms_p99": late_ms[int(0.99 * (len(late_ms) - 1))] if late_ms else 0.0,
    }
    stats_path.write_text(json.dumps(stats))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    live = sub.add_parser("live", help="open-loop writer for the live phase")
    live.add_argument("--dir", type=Path, required=True)
    live.add_argument("--seed", type=int, required=True)
    live.add_argument("--seconds", type=float, required=True)
    live.add_argument("--stats", type=Path, required=True)
    args = ap.parse_args()
    run_live(args.dir, args.seed, args.seconds, args.stats)


if __name__ == "__main__":
    main()
