#!/usr/bin/env python3
"""Regenerates graftbench/expected/query_mix.txt, the expected
(rows, fingerprint) of every `query_mix` query, and admits a query only
after its result agrees with the query's DuckDB oracle
(`SparkEntry.oracleSql`, diffed the way tools/check_oracle.py does).

    python3 graftbench/oracle_check.py [sf_dir]

Writes to .bench_build/expected/ and replaces the expected file only if
every query passed the oracle.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

sys.path.insert(0, os.path.join(build.ROOT, "tools"))
import check_oracle  # noqa: E402


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else run.sf_dir()
    cp = build.build()
    out = os.path.join(build.OUT, "expected")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    cmd = [build.java(), "-Xmx4g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(out, "tmp")]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    subprocess.run(cmd + ["-cp", cp, "graftbench.EmitExpected", sf, out], check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    lines = open(os.path.join(out, "expected.txt")).read().split("\n")
    keys = [l.split()[0] for l in lines if l.strip()]
    failures = check_oracle.main(sf, out)
    missing = [k for k in keys if k not in json.load(open(os.path.join(out, "oracle_sql.json")))]
    if failures or missing:
        print(f"oracle disagreed on {failures} queries; no oracle for {missing}; expected file unchanged")
        return 1
    dst = os.path.join(build.HERE, "expected", "query_mix.txt")
    with open(dst, "w") as fh:
        fh.write(f"# key rows fingerprint, from {os.path.basename(sf)}; every row agreed with its DuckDB oracle\n")
        fh.write("\n".join(l for l in lines if l.strip()) + "\n")
    print(f"wrote {os.path.relpath(dst, build.ROOT)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
