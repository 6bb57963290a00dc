#!/usr/bin/env python3
"""graft benchmark runner.

    python3 graftbench/run.py --workload {ingest_tail,log_bulk,query_mix}
                              --seed N --seconds S --trace {0,1}

Builds the library and the benchmark (see build.py), runs one workload
in one JVM on local[nproc], prints the workload's report (every metric
by name with its unit) and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics; `--trace 1` the per-layer metrics, the span file
path and the tracing overhead against the last untraced run of the same
workload. Everything a run writes stays under `.bench_build/`.

`query_mix` reads the sf0.1 tables named in TESTDATA.md (override with
SPARK_GRAFT_SF_DIR).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_tail", "log_bulk", "query_mix")
JVM_TIMEOUT_S = 170
E2E = ("setup_s", "work_s", "latency_ms", "cpu_s")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sf_dir():
    """The sf0.1 tables: SPARK_GRAFT_SF_DIR, else the 0.1 row of TESTDATA.md."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    doc = os.path.join(build.ROOT, "TESTDATA.md")
    if os.path.exists(doc):
        m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", open(doc).read(), re.M)
        if m:
            return m.group(1).rstrip("/")
    return ""


def run_jvm(cp, args, log_path):
    cmd = [build.java(), "-Xms4g", "-Xmx4g", "-Xss4m", "-XX:-UsePerfData",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(args["work"], "tmp"),
           "-Dgraftbench.expected=" + os.path.join(build.HERE, "expected", "query_mix.txt")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", args["workload"], str(args["seed"]), str(args["seconds"]),
            str(args["trace"]), args["work"], args["sf"], args["result"]]
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def fmt(v):
    return f"{v:.6g}" if isinstance(v, (int, float)) else str(v)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 1
    sf = sf_dir()
    if a.workload == "query_mix" and not os.path.isdir(sf):
        print(f"[bench] query_mix needs the sf0.1 tables; not found at '{sf}'", file=sys.stderr)
        return 1

    out = build.OUT
    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    for d in ("logs", "results", "trace"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    log_path = os.path.join(out, "logs", f"{a.workload}-trace{a.trace}.log")
    t0 = time.time()
    try:
        rc = run_jvm(cp, {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                          "trace": a.trace, "work": work, "sf": sf or "", "result": result}, log_path)
        if rc != 0 or not os.path.exists(result):
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"[bench] {a.workload}: JVM {why}; see {os.path.relpath(log_path)}", file=sys.stderr)
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-30:]))
            return 1
        r = json.load(open(result))
        spans = os.path.join(work, "spans.json")
        span_file = os.path.join(out, "trace", f"{a.workload}-seed{a.seed}.spans.json")
        if a.trace and os.path.exists(spans):
            shutil.move(spans, span_file)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wall = time.time() - t0
    attempted, failed = int(r["attempted"]), int(r["failed"])
    print(f"# graft benchmark: workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cores={os.cpu_count()} run_wall_s={wall:.1f}")
    for f in r["failures"]:
        print(f"# FAILED: {f}")
    print(f"failed_frac {failed / max(1, attempted):.6g} ratio  ({failed} of {attempted} checked operations)")
    for k, m in r["named"].items():
        print(f"{k} {fmt(m['value'])} {m['unit']}")
    for k, m in r["e2e"].items():
        print(f"{k} {fmt(m['value'])} {m['unit']}")

    last = os.path.join(out, "results", f"{a.workload}.json")
    if a.trace:
        metrics = r["layer"]
        if os.path.exists(last):
            base = json.load(open(last))
            for k, m in r["e2e"].items():
                if k in base and base[k]["value"]:
                    print(f"tracing_overhead.{k} {m['value'] / base[k]['value'] - 1:+.4f} ratio")
            if base.get("work_s", {}).get("value"):
                metrics["trace.overhead_frac"] = {
                    "value": r["e2e"]["work_s"]["value"] / base["work_s"]["value"] - 1, "unit": "ratio"}
        else:
            print("# tracing overhead: no untraced run of this workload to compare with")
        for k, m in metrics.items():
            print(f"{k} {fmt(m['value'])} {m['unit']}")
        print(f"# spans: {os.path.relpath(span_file, build.ROOT)}")
    else:
        metrics = {k: r["e2e"][k] for k in E2E}
        with open(last, "w") as fh:
            json.dump(r["e2e"], fh)

    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
