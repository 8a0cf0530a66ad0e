"""Seeded open-loop load generator in the reference's wire format.

Follows the reference loggen distribution (``message_generator.py:58-88``):
uids from a 1,000-id window whose base drifts every 600 s,
``experiment_id`` 1-100, ``variant`` in {default, 1, 2, 3}, and an ISO-8601
second timestamp equal to the event's scheduled creation time. About 1% of
lines are malformed and are counted, so the benchmark can check the parser
dropped exactly those.

Event content is a pure function of ``(seed, file index)``, so the
benchmark recomputes the expected results itself while the program under
test receives only the files. Timestamps run on a virtual clock that starts
at ``BASE_EPOCH`` plus a seed-dependent number of days; the wall-clock
schedule only decides *when* each file is written.

As a process (``python3 loadgen.py --dir ... --seconds ...``) it writes one
file every ``--interval`` seconds, each renamed atomically into the watched
directory, and appends to ``--log`` one JSON line per file with the
monotonic time the file was due and the time it was written. It runs
single-threaded on its own schedule and never waits for the consumer.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from datetime import datetime, timezone

import numpy as np

VARIANTS = ("default", "1", "2", "3")
UID_WINDOW = 1000
DRIFT_SECONDS = 600
MALFORMED_SHARE = 0.01
BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z


def base_epoch(seed: int) -> int:
    return BASE_EPOCH + (seed % 365) * 86_400


def file_events(seed: int, index: int, n: int, interval: float):
    """Events of file ``index``: ``n`` events scheduled evenly over
    ``[index*interval, (index+1)*interval)`` virtual seconds.

    Returns ``(lines, valid)``: the wire lines, and one
    ``(uid, experiment_id, variant, epoch_second, position)`` tuple per
    well-formed line, ``position`` being its index in the file."""
    rng = np.random.default_rng([seed, index])
    t = base_epoch(seed) + index * interval + np.arange(n) * (interval / n)
    sec = t.astype(np.int64)
    uid = (sec // DRIFT_SECONDS) * (UID_WINDOW // 2) + rng.integers(0, UID_WINDOW, n)
    exp = rng.integers(1, 101, n)
    var = rng.integers(0, len(VARIANTS), n)
    bad = rng.random(n) < MALFORMED_SHARE
    lines, valid = [], []
    stamps: dict[int, str] = {}
    rows = zip(uid.tolist(), exp.tolist(), var.tolist(), sec.tolist(), bad.tolist())
    for i, (u, e, v, s, b) in enumerate(rows):
        ts = stamps.get(s)
        if ts is None:
            ts = stamps[s] = datetime.fromtimestamp(s, timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
        if b:
            # two malformed shapes: truncated JSON, and a missing required field
            lines.append(f'{{"uid": {u}, "experiment_id": {e}, "var' if u % 2 else f'{{"uid": {u}, "variant": "{VARIANTS[v]}"}}')
            continue
        lines.append(f'{{"uid": {u}, "experiment_id": {e}, "variant": "{VARIANTS[v]}", "timestamp": "{ts}"}}')
        valid.append((str(u), str(e), VARIANTS[v], s, i))
    return lines, valid


def write_file(path: str, stage: str, lines: list[str]) -> None:
    """Write ``lines`` under ``stage`` and rename into place, so the
    watcher never sees a partial file."""
    tmp = os.path.join(stage, os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.replace(tmp, path)


def run(args) -> None:
    per_file = round(args.rate * args.interval)
    n_files = round(args.seconds / args.interval)
    with open(args.log, "a") as log:
        for j in range(n_files):
            lines, valid = file_events(args.seed, j, per_file, args.interval)
            due = args.t0 + (j + 1) * args.interval
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            write_file(os.path.join(args.dir, f"part-{j:06d}.json"), args.stage, lines)
            written = time.monotonic()
            log.write(json.dumps({
                "file": f"part-{j:06d}.json", "due": due, "written": written,
                "lines": len(lines), "malformed": len(lines) - len(valid),
            }) + "\n")
            log.flush()


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--dir", required=True, help="watched directory")
    p.add_argument("--stage", required=True, help="staging directory on the same filesystem")
    p.add_argument("--log", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--rate", type=float, required=True, help="events per second")
    p.add_argument("--interval", type=float, required=True, help="seconds between files")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--t0", type=float, required=True, help="time.monotonic() of the schedule start")
    run(p.parse_args())


if __name__ == "__main__":
    main()
