#!/usr/bin/env python3
"""Round-over-round bench gate: diff two BENCH_FULL-style JSONs
(per-query second timings under "queries") and emit every row whose
ratio exceeds the threshold, each with its quiet-leg counterpoint so
interleaved-pass host noise is adjudicated mechanically instead of by
hand.

Usage:
  python3 tools/diff_bench.py NEW.json OLD.json \
      [--quiet BENCH_SCALING_sf01.json] [--threshold 1.5]
  python3 tools/diff_bench.py --parent A1.json A2.json A3.json \
      --change B1.json B2.json B3.json

The multi-process mode (--parent/--change, one board per process of
each tree) prints, per key both sides ran, each side's best (min) and
median wall and the parent's own process-to-process spread (max - min).
A best-to-best delta inside that spread is `unresolved`; outside it the
key is `faster` or `slower`. Exit code 1 if any key is `slower`.

  # typical round close-out (old = prior round's committed board):
  git show HEAD~1:BENCH_FULL.json > /tmp/bench_prev.json
  python3 tools/diff_bench.py BENCH_FULL.json /tmp/bench_prev.json \
      --quiet BENCH_SCALING_sf01.json

A row is tagged NOISE when the quiet best-of-3 leg sits within the
threshold of the OLD value (the interleaved regression is contradicted
by the controlled measurement — the repo's documented ±30% host-noise
band); REAL otherwise (investigate before shipping). New/removed keys
are listed separately. Exit code: 0 = no REAL regressions, 1 = at
least one, 2 = usage/load error.
"""
import argparse
import json
import statistics
import sys


def load_queries(path):
    with open(path) as f:
        d = json.load(f)
    q = d.get("queries")
    if not isinstance(q, dict) or not q:
        raise SystemExit(f"{path}: no 'queries' map (is this a BENCH_FULL-style file?)")
    # null = the metric had no successful pass (Bench's explicit failure
    # marker); treat it as absent so it surfaces in the new/removed lists
    # instead of crashing float() or polluting ratios
    return {k: float(v) for k, v in q.items() if v is not None}


def compare_processes(parent_files, change_files):
    parent = [load_queries(f) for f in parent_files]
    change = [load_queries(f) for f in change_files]
    keys = sorted(set.intersection(*(set(q) for q in parent + change)))
    print(
        f"{'query':34s} {'par_best':>8s} {'par_med':>8s} {'spread':>7s} "
        f"{'chg_best':>8s} {'chg_med':>8s} {'delta':>7s}  verdict"
    )
    slower = 0
    for k in keys:
        a = [q[k] for q in parent]
        b = [q[k] for q in change]
        spread = max(a) - min(a)
        delta = min(b) - min(a)
        verdict = "unresolved" if abs(delta) <= spread else "slower" if delta > 0 else "faster"
        slower += verdict == "slower"
        print(
            f"{k:34s} {min(a):8.3f} {statistics.median(a):8.3f} {spread:7.3f} "
            f"{min(b):8.3f} {statistics.median(b):8.3f} {delta:+7.3f}  {verdict}"
        )
    return 1 if slower else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("new_file", nargs="?")
    ap.add_argument("old_file", nargs="?")
    ap.add_argument("--quiet", help="quiet best-of-3 leg (BENCH_SCALING_sf01.json)")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--parent", nargs="+", help="one board per parent-tree process")
    ap.add_argument("--change", nargs="+", help="one board per change-tree process")
    args = ap.parse_args()
    if args.parent or args.change:
        if not (args.parent and args.change):
            ap.error("--parent and --change go together")
        return compare_processes(args.parent, args.change)
    if not (args.new_file and args.old_file):
        ap.error("NEW.json and OLD.json are required without --parent/--change")

    try:
        new = load_queries(args.new_file)
        old = load_queries(args.old_file)
        quiet = load_queries(args.quiet) if args.quiet else {}
    except (OSError, ValueError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    shared = sorted(set(new) & set(old))
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))

    total_new = sum(new[k] for k in shared)
    total_old = sum(old[k] for k in shared)
    print(
        f"common set: {len(shared)} metrics, total {total_old:.1f}s -> "
        f"{total_new:.1f}s ({total_new / total_old:.2f}x)"
    )
    if added:
        print(f"new keys ({len(added)}): " + ", ".join(added))
    if removed:
        print(f"removed keys ({len(removed)}): " + ", ".join(removed))

    real = 0
    flagged = [
        (new[k] / old[k], k)
        for k in shared
        if old[k] > 0 and new[k] / old[k] > args.threshold
    ]
    if not flagged:
        print(f"no rows over {args.threshold}x — gate clean")
        return 0
    print(
        f"\n{'query':34s} {'old_s':>8s} {'new_s':>8s} {'ratio':>6s} "
        f"{'quiet_s':>8s}  verdict"
    )
    for ratio, k in sorted(flagged, reverse=True):
        qv = quiet.get(k)
        if qv is not None and old[k] > 0 and qv / old[k] <= args.threshold:
            verdict = "NOISE (quiet leg contradicts)"
        elif qv is None:
            verdict = "REAL? (no quiet leg — measure one)"
            real += 1
        else:
            verdict = "REAL (quiet leg agrees — investigate)"
            real += 1
        print(
            f"{k:34s} {old[k]:8.3f} {new[k]:8.3f} {ratio:5.2f}x "
            f"{qv if qv is not None else float('nan'):8.3f}  {verdict}"
        )
    return 1 if real else 0


if __name__ == "__main__":
    sys.exit(main())
