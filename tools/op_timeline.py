#!/usr/bin/env python3
"""Job timeline of one op of a traced perfbench run.

Reads the `*.spans.jsonl` a traced run writes (`perfbench/run.py ...
--trace 1`) and, for the first op of a kind (default `night`), prints:

  * each Spark job of the op: start and end offset from the op's start,
    duration, and the job's first `graft.*` frame;
  * the gaps inside the op in which no job ran (driver-only time:
    metadata calls, parsing, planning);
  * per frame, the wall-clock union of its jobs' time, and its share:
    each instant split evenly among the frames whose jobs run then.
    The shares and the gaps add up to the op's wall time, so concurrent
    branches are not counted twice.

Standard library only. Usage:

    python3 tools/op_timeline.py perfbench/.out/reports/etl_nightly-seed7-trace1.spans.jsonl
    python3 tools/op_timeline.py <spans.jsonl> --op mart_by_passport --min-gap-ms 5
"""
import argparse
import json
import sys


def load(path):
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def frame_of(job):
    # a job span is named "job <id> <first graft.* frame>" (frame may be absent)
    parts = job["name"].split(" ", 2)
    return parts[2] if len(parts) > 2 and parts[2] else "(no graft frame)"


def union_ms(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def gaps(intervals, lo, hi):
    out, cur = [], lo
    for s, e in sorted(intervals):
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if hi > cur:
        out.append((cur, hi))
    return out


def shares(jobs):
    """Each instant split evenly among the frames running then."""
    points = sorted({t for j in jobs for t in (j["start"], j["end"])})
    share = {}
    for a, b in zip(points, points[1:]):
        running = {j["frame"] for j in jobs if j["start"] <= a and j["end"] >= b}
        for f in running:
            share[f] = share.get(f, 0.0) + (b - a) / len(running)
    return share


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", help="a traced run's *.spans.jsonl")
    ap.add_argument("--op", default="night", help="op name (default: night)")
    ap.add_argument("--min-gap-ms", type=int, default=1,
                    help="hide job-free gaps shorter than this (default 1)")
    args = ap.parse_args(argv)

    spans = load(args.spans)
    ops = sorted((s for s in spans if s["kind"] == "op" and s["name"] == args.op),
                 key=lambda s: s["start"])
    if not ops:
        sys.exit(f"no op named {args.op!r} in {args.spans}")
    op = ops[0]
    t0, t1 = op["start"], op["end"]
    jobs = sorted(({"id": s["name"].split(" ")[1], "frame": frame_of(s),
                    "start": max(s["start"], t0), "end": min(s["end"], t1)}
                   for s in spans if s["kind"] == "job" and s["parent"] == op["id"]),
                  key=lambda j: (j["start"], j["end"]))

    print(f"op {args.op}: {(t1 - t0) / 1000:.3f} s, {len(jobs)} jobs")
    print(f"{'start_s':>8} {'end_s':>8} {'dur_ms':>7}  job  frame")
    for j in jobs:
        print(f"{(j['start'] - t0) / 1000:8.3f} {(j['end'] - t0) / 1000:8.3f} "
              f"{j['end'] - j['start']:7d}  {j['id']:>4} {j['frame']}")

    spans_ms = [(j["start"], j["end"]) for j in jobs]
    idle = gaps(spans_ms, t0, t1)
    shown = [(a, b) for a, b in idle if b - a >= args.min_gap_ms]
    print(f"\njob-free gaps (>= {args.min_gap_ms} ms): {len(shown)} of {len(idle)}, "
          f"{sum(b - a for a, b in idle) / 1000:.3f} s in all")
    for a, b in shown:
        print(f"{(a - t0) / 1000:8.3f} {(b - t0) / 1000:8.3f} {b - a:7d}")

    share = shares(jobs)
    by_frame = {}
    for j in jobs:
        by_frame.setdefault(j["frame"], []).append((j["start"], j["end"]))
    rows = sorted(by_frame.items(), key=lambda kv: -share.get(kv[0], 0.0))
    print(f"\n{'jobs':>5} {'union_s':>8} {'share_s':>8}  frame")
    for f, iv in rows:
        print(f"{len(iv):5d} {union_ms(iv) / 1000:8.3f} {share.get(f, 0.0) / 1000:8.3f}  {f}")
    idle_ms = sum(b - a for a, b in idle)
    print(f"{'':5} {'':8} {idle_ms / 1000:8.3f}  (no job running)")
    print(f"{len(jobs):5d} {union_ms(spans_ms) / 1000:8.3f} "
          f"{(sum(share.values()) + idle_ms) / 1000:8.3f}  total (shares + gaps = op wall)")


if __name__ == "__main__":
    main()
