"""Open-loop order-event generator for the ``orders_stream`` workload.

Runs as its own single-threaded process. It builds the whole schedule
from the seed, writes every file into a staging directory first, then
moves each file into the watched directory at its due time with an
atomic rename, whether or not the engine keeps up. Traffic (where each
figure comes from: the constants below and perfbench/README.md,
"Traffic shape"):

- the package's five event types in equal shares, as in its fixture
  ``events`` table; ``click``/``purchase`` events are the placed and
  fulfilled events of orders, the other three are ignored by the join;
- orders placed by users drawn with skewed (Zipf-like) weights; each is
  fulfilled 0.05-4 s later, a few are never fulfilled and as many lose
  their placed event;
- one file per ``PERIOD_S``; an event is stamped with its creation time
  inside the file's interval, so event time runs at most one period
  behind the due time (in-order jitter far inside the watermark);
- after the steady phase the upstream stalls: the traffic created during
  the stall (``--burst-events`` events at the steady rate) is held back
  and released at once, as a single file, when the stall ends; steady
  traffic then goes on through the tail phase. The stall keeps the
  traffic's per-user density, so the backlog is as skewed as the steady
  traffic and not denser.

Event time is epoch time from ``t0``. The due clock starts at ``t0``, or
when staging ends if writing the files took longer than ``LEAD_S``
(event time then runs behind the due times by that much): until the
stall the due time of file k is ``start + (k + 1) * PERIOD_S``. The
feeder skips the stall's wall time, so from the burst on, event time
runs ahead of the due times by the stall's length. The schedule log
records, per file, its due time, the time the rename happened, and its
event-id range.

Run: python3 perfbench/feeder.py --watch DIR --stage DIR --log FILE
     --seed N --rate EV_PER_S --warmup-s S --steady-s S --tail-s S
     --burst-events N
The first line on stdout is ``t0 <epoch seconds>``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PERIOD_S = 0.25
#: the package's event types; the fixture ``events`` table (FIXTURES.md
#: section B) holds each in equal shares (19.8-20.3 % at the sf0.1 tier)
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
#: the pair join's placed and fulfilled types (the package's defaults)
PLACED, FULFILLED = "click", "purchase"
NOISE = tuple(t for t in EVENT_TYPES if t not in (PLACED, FULFILLED))
# Assumptions without a measured source (README, "Traffic shape"):
#: size and Zipf exponent of the user domain the pairing key is drawn from
USERS = 200_000
USER_SKEW = 0.6
#: share of orders never fulfilled, and the same share whose placed event
#: is lost (the reference's two one-sided cases), keeping clicks and
#: purchases in the fixture's equal shares
ONE_SIDED = 0.05
#: longest fulfilment delay; inside the benchmark's 5 s join window
MAX_DELAY_S = 4.0
#: seconds between the start of pre-writing and t0
LEAD_S = 3.0


#: user id of each popularity rank. Part of the traffic shape, the same
#: for every seed: which users are hot decides which state partitions
#: the heaviest keys land on, and so the batch time.
_USER_OF_RANK = np.random.default_rng(USERS).permutation(USERS).astype(np.int64)


def _users(rng: np.random.Generator, n: int) -> np.ndarray:
    w = np.arange(1, USERS + 1, dtype=np.float64) ** -USER_SKEW
    return _USER_OF_RANK[rng.choice(USERS, size=n, p=w / w.sum())]


def _traffic(rng: np.random.Generator, n: int, lo: float, hi: float, max_delay: float):
    """(offset_s, user, type) of about n events created in [lo, hi): each
    event type a fifth of them. Orders are placed before ``hi - max_delay``
    and fulfilled at most ``max_delay`` later."""
    n_orders = int(n / len(EVENT_TYPES) / (1.0 - ONE_SIDED))
    placed_at = rng.uniform(lo, hi - max_delay, n_orders)
    users = _users(rng, n_orders)
    delay = rng.uniform(0.05, max_delay, n_orders)
    shape = rng.random(n_orders)
    has_placed = shape >= ONE_SIDED
    has_fulfilled = shape < 1.0 - ONE_SIDED
    n_noise = n * len(NOISE) // len(EVENT_TYPES)
    offs = np.concatenate([placed_at[has_placed], (placed_at + delay)[has_fulfilled], rng.uniform(lo, hi, n_noise)])
    user = np.concatenate([users[has_placed], users[has_fulfilled], _users(rng, n_noise)])
    kind = np.concatenate([
        np.full(has_placed.sum(), PLACED),
        np.full(has_fulfilled.sum(), FULFILLED),
        np.array(NOISE)[rng.integers(0, len(NOISE), n_noise)],
    ])
    return offs, user, kind


def schedule(seed: int, rate: float, warmup_s: float, steady_s: float, tail_s: float, burst_events: int):
    """Deterministic schedule: a list of (due_offset_s, event columns)
    where event ``ts_offset`` is seconds after t0. Events are numbered
    in due order, so every file holds one contiguous id range."""
    rng = np.random.default_rng([seed, 11])
    burst_at = warmup_s + steady_s
    stall_s = round(burst_events / rate / PERIOD_S) * PERIOD_S
    total_s = burst_at + stall_s + tail_s
    offs, user, kind = _traffic(rng, int(rate * total_s), 0.0, total_s, MAX_DELAY_S)
    # one file per period of event time; the stall's files become one
    # file due when the stall ends, and later files come stall_s earlier
    end = (np.floor(offs / PERIOD_S) + 1) * PERIOD_S
    burst = (offs >= burst_at) & (offs < burst_at + stall_s)
    due = np.where(end <= burst_at, end, np.where(burst, burst_at, end - stall_s))

    order = np.lexsort((offs, burst, due))
    offs, user, kind, due, burst = offs[order], user[order], kind[order], due[order], burst[order]
    event_id = np.arange(len(offs), dtype=np.int64)
    files = []
    keys = np.stack([due, burst])
    bounds = np.flatnonzero(np.any(keys[:, 1:] != keys[:, :-1], axis=0)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(offs)]):
        files.append((float(due[lo]), {
            "event_id": event_id[lo:hi],
            "ts_offset": offs[lo:hi],
            "user_id": user[lo:hi],
            "event_type": kind[lo:hi],
            "burst": bool(burst[lo]),
        }))
    return files


#: event ids of the priming file start here, far above the schedule's
PRIME_ID_BASE = 10**12


def prime_table(seed: int, t_end: float, n_events: int) -> pa.Table:
    """Traffic created in the second before ``t_end``: the file the
    benchmark places before the query starts, so the cold first batch
    runs before the scheduled traffic begins."""
    rng = np.random.default_rng([seed, 12])
    offs, user, kind = _traffic(rng, n_events, -1.0, -0.05, 0.85)
    order = np.argsort(offs, kind="stable")
    cols = {
        "event_id": PRIME_ID_BASE + np.arange(len(offs), dtype=np.int64),
        "ts_offset": offs[order],
        "user_id": user[order],
        "event_type": kind[order],
    }
    return _table(cols, t_end)


def _table(cols: dict, t0: float) -> pa.Table:
    us = np.round((t0 + cols["ts_offset"]) * 1e6).astype("int64")
    n = len(us)
    return pa.table({
        "event_id": cols["event_id"],
        "ts": pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us")),
        "user_id": cols["user_id"],
        "event_type": cols["event_type"],
        "value": np.round((cols["event_id"] % 50_000) * 0.01, 2),
        "props": pa.array([None] * n, type=pa.string()),
    })


def main() -> None:
    ap = argparse.ArgumentParser()
    for name in ("--watch", "--stage", "--log"):
        ap.add_argument(name, required=True)
    ap.add_argument("--seed", type=int, required=True)
    for name in ("--rate", "--warmup-s", "--steady-s", "--tail-s"):
        ap.add_argument(name, type=float, required=True)
    ap.add_argument("--burst-events", type=int, required=True)
    a = ap.parse_args()

    t0 = time.time() + LEAD_S
    files = schedule(a.seed, a.rate, a.warmup_s, a.steady_s, a.tail_s, a.burst_events)
    staged = []
    for k, (due, cols) in enumerate(files):
        name = f"part-{k:05d}.parquet"
        pq.write_table(_table(cols, t0), os.path.join(a.stage, name))
        staged.append((due, name, cols))
    # the due clock: renames are never late because staging ran long
    start = max(t0, time.time())
    print(f"t0 {start!r}", flush=True)

    log = []
    for due, name, cols in staged:
        due += start
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(os.path.join(a.stage, name), os.path.join(a.watch, name))
        log.append({
            "file": name,
            "due": due,
            "written": time.time(),
            "first_event_id": int(cols["event_id"][0]),
            "n": len(cols["event_id"]),
            "burst": cols["burst"],
        })
    with open(a.log, "w") as f:
        json.dump({"t0": start, "files": log}, f)


if __name__ == "__main__":
    sys.exit(main())
