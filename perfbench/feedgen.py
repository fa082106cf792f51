"""Open-loop AIS feed generator, run as its own single-threaded process.

    python3 perfbench/feedgen.py --seed 1 --vessels 3000 --seconds 25 \\
        --out DIR --manifest FILE

Builds the fleet and every message from the seed first. The messages of
event second ``s`` fall due evenly over wall time ``[T0 + s, T0 + s + 1)``;
every ``FILE_INTERVAL_S`` the generator releases the messages that have
fallen due as one JSON-lines file, whatever the engine is doing: the
schedule never waits. Each file is written under a temporary name outside
``--out`` and renamed into place. When the feed ends it writes the manifest: one row per message,
keyed by ``(mmsi, event second)``, with the wall time it was due, the time
its file was scheduled and the time it landed, and whether the pipeline
keeps it.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

import aisgen

LEAD_S = 0.5  # from the end of set-up to the first due time
# A file every quarter second: micro-batches, which take over a second, never
# see exactly one file each, so their length does not lock to the file rate.
FILE_INTERVAL_S = 0.25


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--vessels", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest", required=True)
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    fleet = aisgen.make_fleet(rng, args.vessels)
    start = aisgen.REPLAY_EPOCH_S
    vessel, event_s = aisgen.schedule(fleet, start, start + args.seconds)
    msgs = aisgen.render(fleet, rng, vessel, event_s)
    # messages of event second s fall due evenly over [T0 + s, T0 + s + 1)
    first = np.searchsorted(event_s, event_s, side="left")
    count = np.searchsorted(event_s, event_s, side="right") - first
    offset = (event_s - start) + (np.arange(vessel.size) - first) / count
    staging = args.out.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    released = np.zeros(vessel.size)  # scheduled time of the file
    landed = np.zeros(vessel.size)  # when the file was in place

    t0 = time.time() + LEAD_S
    lo = 0
    for k in range(1, int(args.seconds / FILE_INTERVAL_S) + 1):
        tick = t0 + k * FILE_INTERVAL_S
        delay = tick - time.time()
        if delay > 0:
            time.sleep(delay)
        hi = int(np.searchsorted(offset, k * FILE_INTERVAL_S, side="right"))
        if hi == lo:
            continue
        name = f"f{k:06d}.json"
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as fh:
            fh.write("\n".join(msgs.value[lo:hi]) + "\n")
        os.rename(tmp, os.path.join(args.out, name))
        landed[lo:hi] = time.time()
        released[lo:hi] = tick
        lo = hi

    due = t0 + offset
    with open(args.manifest + ".tmp", "w") as fh:
        fh.write("mmsi,event_s,due,released,landed,kept\n")
        for i in range(vessel.size):
            fh.write(
                f"{msgs.mmsi[i]},{event_s[i]},{due[i]:.6f},{released[i]:.6f},"
                f"{landed[i]:.6f},{int(msgs.kept[i])}\n"
            )
    os.rename(args.manifest + ".tmp", args.manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
