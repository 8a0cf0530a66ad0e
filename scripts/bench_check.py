#!/usr/bin/env python3
"""Per-query bench regression gate: compare two bench records.

A plan regression (an AQE flip, a lost broadcast, a new shuffle) shows up
as one query's time jumping while the rest hold. This script catches that
before the round's bench: it compares two records query by query and
alarms on any query slower than ``THRESHOLD``x its old time (default 1.3,
above the n=3 harness's noise band — observed round-over-round noise is
~±10%).

With no files it reads ``bench_history.jsonl`` (one line per ``bench.py``
run) and compares the two newest records with the same ``cpus`` and
``sf``: a record is only ever paired with one from the same core count and
scale factor, since timings across them are not comparable.

Usage:
    python scripts/bench_check.py                    # newest like-for-like pair in the history
    python scripts/bench_check.py --history H.jsonl  # same, over another history file
    python scripts/bench_check.py OLD.json NEW.json  # explicit pair
    python scripts/bench_check.py --threshold 1.5 OLD.json NEW.json

Exit code 1 if any shared query regressed past the threshold (CI-style),
2 if there is nothing to compare. New queries (no old number) and removed
queries are reported, never fatal.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

THRESHOLD = 1.3


def _load(path: Path) -> dict[str, float]:
    rec = json.loads(path.read_text())
    # driver artifacts wrap the bench line in {"parsed": {...}}; bench.py
    # itself emits the flat {"queries": {...}} line
    # `or rec` also covers {"parsed": null} (the truncated-r4 artifact)
    parsed = rec.get("parsed") or rec
    if "queries" not in parsed:
        raise SystemExit(f"{path}: no usable bench record (parsed=null and no flat line)")
    return parsed["queries"]


def history_pair(path: Path) -> tuple[dict, dict] | None:
    """The newest record of ``path`` that has an earlier record with the
    same ``cpus`` and ``sf``, and the newest such earlier record."""
    recs = [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
    recs = [r for r in recs if r.get("queries")]
    for i in range(len(recs) - 1, 0, -1):
        new = recs[i]
        for old in reversed(recs[:i]):
            if (old.get("cpus"), old.get("sf")) == (new.get("cpus"), new.get("sf")):
                return old, new
    return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("files", nargs="*", help="OLD.json NEW.json (default: the history)")
    ap.add_argument("--threshold", type=float, default=THRESHOLD)
    ap.add_argument(
        "--history",
        type=Path,
        default=Path(__file__).resolve().parent.parent / "bench_history.jsonl",
    )
    args = ap.parse_args(argv)

    if len(args.files) == 2:
        old_p, new_p = Path(args.files[0]), Path(args.files[1])
        old, new = _load(old_p), _load(new_p)
        label = f"{old_p.name} -> {new_p.name}"
    elif not args.files:
        pair = history_pair(args.history) if args.history.exists() else None
        if pair is None:
            print(f"{args.history}: no two records with the same cpus and sf", file=sys.stderr)
            return 2
        old_r, new_r = pair
        old, new = old_r["queries"], new_r["queries"]
        label = (
            f"{args.history.name}: cpus={new_r.get('cpus')} sf={new_r.get('sf')}, "
            f"ts {old_r.get('ts')} -> {new_r.get('ts')}"
        )
    else:
        ap.error("pass exactly two files or none")

    shared = sorted(set(old) & set(new))
    regressed = []
    print(f"{label}  (threshold {args.threshold}x)")
    for k in shared:
        ratio = new[k] / old[k] if old[k] else float("inf")
        flag = " <-- REGRESSED" if ratio > args.threshold else ""
        if flag:
            regressed.append(k)
        print(f"  {k:45s} {old[k]:7.3f}s -> {new[k]:7.3f}s  {ratio:5.2f}x{flag}")
    for k in sorted(set(new) - set(old)):
        print(f"  {k:45s}    (new) -> {new[k]:7.3f}s")
    for k in sorted(set(old) - set(new)):
        print(f"  {k:45s} {old[k]:7.3f}s -> (removed)")

    tot_old = sum(old[k] for k in shared)
    tot_new = sum(new[k] for k in shared)
    print(f"  shared total: {tot_old:.2f}s -> {tot_new:.2f}s ({tot_new / tot_old:.2f}x)")
    if regressed:
        print(f"REGRESSIONS ({len(regressed)}): {regressed}", file=sys.stderr)
        return 1
    print("OK: no query regressed past threshold")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
