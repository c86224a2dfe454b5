"""Open-loop event generator for the `live_events` workload.

Runs as its own single-threaded process, on its own clock: file i is due at
start + i * tick and is written then, however far the streaming query has
fallen behind. Each file holds one tick of events; every event is stamped
with its creation time (the file's due time) in `ts`. A file is written
under a hidden name and renamed into place, so the file source never sees
it half-written. At exit a manifest records, per file, its due time and
the time it became visible. The rate, tick and user space are fixed below;
live.py starts this script with the per-run arguments only.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from datagen import EVENT_TYPES

RATE = 100  # events/s, about a quarter of the job's measured catch-up rate
TICK_MS = 200  # one file per tick
# User ids are drawn from this many ids. About 24k events from a space of
# 20k ids leave about 14k distinct users, the state size measured for the
# is_new job at 200 events/s over 120 s. A run's 5.5k events then hold about
# 700 returning events (is_new = 0), while new users keep arriving.
USERS = 20_000


def make_events(rng: np.random.Generator, first_id: int, n: int, created_s: float) -> pa.Table:
    """`n` events with consecutive ids from `first_id`, all created at `created_s`."""
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(np.full(n, int(created_s * 1e6), dtype=np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, USERS, n),
        "event_type": np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)],
    })


def publish(table: pa.Table, directory: str, name: str) -> float:
    """Write `table` as `directory/name` atomically; return when it became visible."""
    hidden = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, hidden)
    os.rename(hidden, os.path.join(directory, name))
    return time.time()


def file_name(index: int) -> str:
    return f"live-{index:06d}.parquet"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-event-id", type=int, required=True)
    a = ap.parse_args()

    rng = np.random.default_rng([a.seed, 1])
    tick = TICK_MS / 1000.0
    per_tick = RATE * TICK_MS // 1000
    n_ticks = int(a.seconds / tick)
    files = []
    # one untimed write first, so library start-up is not charged to file 0
    warm = os.path.join(a.dir, ".warmup.tmp")
    pq.write_table(make_events(rng, 0, per_tick, time.time()), warm)
    os.remove(warm)
    wall0, mono0 = time.time(), time.monotonic()
    for i in range(n_ticks):
        delay = mono0 + i * tick - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        due = wall0 + i * tick
        first = a.first_event_id + i * per_tick
        visible = publish(make_events(rng, first, per_tick, due), a.dir, file_name(i))
        files.append({"name": file_name(i), "first_event_id": first, "events": per_tick,
                      "due": due, "visible": visible})
    tmp = a.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"files": files}, f)
    os.rename(tmp, a.manifest)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
