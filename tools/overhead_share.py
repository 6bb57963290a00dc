#!/usr/bin/env python3
"""Fixed-overhead share of a Bench board: the part of each metric's core
budget (wall time x cores) in which no task was running,

    share = 1 - task_ms / (wall_ms * cpus)

printed per metric, plus the wall-weighted share of the whole board
(1 - sum(task_ms) / (sum(wall_ms) * cpus)). A share near 1 means the
metric's time goes to fixed per-query work outside tasks (planning,
scheduling, eager construction jobs); near 0 means every core was busy. Reads the "queries" (seconds), "task_ms" and "cpus" fields Bench
writes to BENCH_FULL.json; metrics with no successful pass (null) are
skipped. When the file carries Bench's "construct_ms" map, it also prints
the board's construct share, sum(construct_ms) / sum(wall_ms) over the
metrics that have one: the part of the wall spent in fn(spark, sfDir),
eager cut jobs included.

Usage: python3 tools/overhead_share.py BENCH_FULL.json
Exit code: 0 = printed, 2 = usage/load error.
"""
import json
import sys


def main():
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        with open(sys.argv[1]) as f:
            d = json.load(f)
        walls, task_ms, cpus = d["queries"], d["task_ms"], int(d["cpus"])
    except (OSError, ValueError, KeyError, TypeError) as e:
        print(f"error: {sys.argv[1]}: {e!r} (needs queries, task_ms, cpus)", file=sys.stderr)
        return 2

    rows = [
        (k, w * 1000.0, task_ms[k])
        for k, w in walls.items()
        if w is not None and task_ms.get(k) is not None
    ]
    print(f"{'metric':<34} {'wall_ms':>10} {'task_ms':>10} {'overhead':>8}")
    for k, wall_ms, t in rows:
        share = f"{1.0 - t / (wall_ms * cpus):8.3f}" if wall_ms > 0 else f"{'n/a':>8}"
        print(f"{k:<34} {wall_ms:10.0f} {t:10d} {share}")
    wall_total = sum(w for _, w, _ in rows)
    task_total = sum(t for _, _, t in rows)
    if wall_total <= 0:
        print("error: no metric with a positive wall time", file=sys.stderr)
        return 2
    board = 1.0 - task_total / (wall_total * cpus)
    print(f"board (wall-weighted, {len(rows)} metrics, {cpus} cpus): {board:.3f}")
    construct = d.get("construct_ms")
    if isinstance(construct, dict):
        split = [(construct[k], w) for k, w, _ in rows if construct.get(k) is not None]
        split_wall = sum(w for _, w in split)
        if split_wall > 0:
            share = sum(c for c, _ in split) / split_wall
            print(f"construct share ({len(split)} metrics): {share:.3f} "
                  f"(sum construct_ms {sum(c for c, _ in split):.0f} of {split_wall:.0f} ms)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
