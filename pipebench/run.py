#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one run, one JSON line on stdout.

    python3 pipebench/run.py --workload etl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds the project and the driver
(`build.py`, cached), generates the seeded inputs (`gen.py`, cached per
seed), starts one driver JVM with `local[N]` (N = usable cores) and a single
client thread that submits pipeline configs in a closed loop, verifies every
measured request, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are its per-layer metrics, from a run whose requests
alternate traced / untraced. See README.md for the protocol and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import verify  # noqa: E402

STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
# tables each workload reads, and its input size: star-schema scale
# (lineitem ~ 6M rows x scale) or number of documents
WORKLOADS = {
    "etl_mix": {"tables": STAR, "scale": {"full": 0.02, "small": 0.002}, "docs": {}},
    "graph_fixpoint": {"tables": ["lineitem", "orders"],
                       "scale": {"full": 0.001, "small": 0.001}, "docs": {}},
    "curate_dedup": {"tables": ["documents"], "scale": {},
                     "docs": {"full": 20000, "small": 1500}},
}
JVM_TIMEOUT_S = 150
# the JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, workload, data, work, seed, seconds, trace, corrupt):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           # fixed young generation and C1-only JIT: see README.md, Protocol
           ["-Xmx2g", "-XX:+UseSerialGC", "-Xmn512m", "-XX:TieredStopAtLevel=1",
            "-Dfile.encoding=UTF-8", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", classpath, "pipebench.Main",
            "--workload", workload, "--data", data, "--work", work,
            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores()), "--repo", ROOT, "--corrupt", str(corrupt),
            "--result", result])
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"driver JVM exceeded {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"driver JVM exited with {code}")
    with open(result) as f:
        return launched, json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def cpu_per_request(reqs, cycle):
    """Median over the measured cycles of the mix of CPU seconds / request.

    The measured phase is whole cycles, so every cycle holds the same mix
    of request kinds; a median over cycles is not moved by one request that
    met a garbage collection or a compilation burst.
    """
    cycles = [reqs[i:i + cycle] for i in range(0, len(reqs), cycle)]
    return median([sum(q["cpu_seconds"] for q in c) / len(c) for c in cycles])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "small"], default="full")
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0,
                    help="damage one measured output; verification must fail")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = WORKLOADS[a.workload]

    classpath = build.build()
    data = gen.generate(os.path.join(ROOT, ".pipebench", "data"), a.workload, wl["tables"],
                        a.seed, wl["scale"].get(a.size, 0), wl["docs"].get(a.size, 0))
    work = os.path.join(ROOT, ".pipebench", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    launched, r = run_jvm(classpath, a.workload, data, work, a.seed, a.seconds, a.trace,
                          a.corrupt)

    reqs = r["requests"]
    failed = 0
    for q in reqs:
        err = q["error"] or q["verify_error"]
        if not err and q["replay"]:
            try:
                err = verify.check_replay(q["replay"], q["columns"], q["rows"])
            except Exception as e:  # a replay DuckDB cannot run is a failed check
                err = f"DuckDB replay failed: {str(e)[:300]}"
        if err:
            failed += 1
            log(f"request {q['index']} ({q['kind']}) failed: {err}")
    primary = [q["seconds"] for q in reqs if q["kind"] == r["primary_kind"]]
    writes = [q["seconds"] for q in reqs if q["kind"] == r["write_kind"]]
    log(f"{a.workload}: {len(reqs)} measured requests ({len(primary)} {r['primary_kind']}, "
        f"{len(writes)} {r['write_kind']}); warm-up "
        f"{[round(w['seconds'], 2) for w in r['warmup']]}")

    if a.trace:
        values = {k: v[0] for k, v in r["per_layer"].items()}
        log(f"tracing overhead on {r['primary_kind']} p50: "
            f"{values['trace.overhead_pct']:+.1f}%")
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": r["setup_done_ms"] / 1000.0 - launched,
            "request_p50_s": median(primary),
            "refresh_s": median(writes),
            "cpu_s_per_request": cpu_per_request(reqs, r["cycle"]),
            "peak_rss_mb": r["peak_rss_mb"],
        }
        wanted = spec["end_to_end"]
    with open(os.path.join(work, "metrics.json"), "w") as f:
        json.dump(values, f, indent=1, sort_keys=True)
    out = {"correct": failed == 0, "attempted": len(reqs), "failed": failed,
           "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in wanted}}
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
