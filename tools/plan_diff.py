#!/usr/bin/env python3
"""Compare two DumpPlans outputs key by key.

Expression ids (`#123`), `plan_id=123` and scan paths under /tmp (the
stored-index keys build their index under a fresh temp root per
process) are masked before comparing, so two runs of one tree compare
equal. Prints every key whose plan differs (and keys present on one side
only), then exits 1 if any of them is not named in --allow.

Usage: plan_diff.py <parent_plans.txt> <change_plans.txt> [--allow KEY ...] [--show]
"""
import argparse
import difflib
import re
import sys

from merge_plans import parse_dump

MASK = [
    (re.compile(r"#\d+"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"file:/tmp/\S+"), "file:/tmp/..."),
]


def masked(plan):
    for pat, sub in MASK:
        plan = pat.sub(sub, plan)
    return plan


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--allow", nargs="*", default=[], help="keys allowed to differ")
    ap.add_argument("--show", action="store_true", help="print a unified diff per differing key")
    args = ap.parse_args()
    a, b = parse_dump(args.parent), parse_dump(args.change)
    differ = sorted(k for k in set(a) | set(b) if masked(a.get(k, "")) != masked(b.get(k, "")))
    for k in differ:
        side = " (parent only)" if k not in b else " (change only)" if k not in a else ""
        tag = "allowed" if k in args.allow else "DIFFERS"
        print(f"{tag}: {k}{side}")
        if args.show and not side:
            sys.stdout.writelines(difflib.unified_diff(
                masked(a[k]).splitlines(True), masked(b[k]).splitlines(True),
                f"parent/{k}", f"change/{k}"))
            print()
    same = len(set(a) & set(b)) - len([k for k in differ if k in a and k in b])
    print(f"{same} keys identical, {len(differ)} differ")
    sys.exit(1 if any(k not in args.allow for k in differ) else 0)


if __name__ == "__main__":
    main()
