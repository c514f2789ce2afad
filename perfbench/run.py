#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded workloads, one JVM.

    python3 perfbench/run.py --workload <extract_mixed|commit_long|operator_suite>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (perfbench/build.sbt) into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run starts
one JVM at local[nproc], which generates its inputs from --seed under
.bench_build/, sets up, measures for --seconds and checks its outputs. For
operator_suite this script then compares every query result with its DuckDB
oracle twin (tools/check_oracle.py), untimed.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics -- the end_to_end metrics of BENCHMARK.json with --trace 0, its
per_layer metrics with --trace 1. The line before it ("perfbench record: ")
holds every measured value and the run's notes. Traced runs also leave
their spans in .bench_build/trace/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("the program's sources (src/main/scala) are missing; run from a full checkout")
    h = hashlib.sha256()
    for p in sorted(source_files()):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = (f"-Dsbt.offline=true -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData -Xmx2g")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def oracle_check(work, record):
    """DuckDB oracle twin of every query result the warmup wrote."""
    verify, sf = os.path.join(work, "verify"), os.path.join(work, "sf")
    if not os.path.exists(os.path.join(verify, "oracle_sql.json")):
        return 0, 0, ["no oracle_sql.json written"]
    import duckdb
    # check_oracle.py registers all ten sf tables; the queries read only
    # documents, embeddings and events, so the others are empty stand-ins
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        duckdb.sql(f"COPY (SELECT 1 AS unused WHERE false) TO '{sf}/{t}.parquet' (FORMAT parquet)")
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), sf, verify],
                       capture_output=True, text=True, timeout=120)
    results = [l for l in p.stdout.splitlines() if l.startswith(("PASS ", "FAIL "))]
    fails = [l for l in results if l.startswith("FAIL ")]
    # the timed sink must have produced exactly the rows the oracle checked
    for q, info in record.get("notes", {}).get("queries", {}).items():
        n = duckdb.sql(f"SELECT count(*) FROM read_parquet('{verify}/{q}/*.parquet')").fetchone()[0]
        if n != info["rows"]:
            fails.append(f"FAIL {q}: sink saw {info['rows']} rows, written result has {n}")
    if not results:
        fails.append("oracle check produced no results: " + (p.stdout + p.stderr)[-300:])
    return len(results), len(fails), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["extract_mixed", "commit_long", "operator_suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    classpath = build()

    work = os.path.join(BUILD, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out])
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    if p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(p.stderr[-6000:])
        shutil.rmtree(work, ignore_errors=True)
        die(f"benchmark JVM exited with {p.returncode}")
    with open(out) as f:
        record = json.load(f)
    record["wall_s"] = time.time() - t0

    attempted, failed = record["attempted"], record["failed"]
    if a.workload == "operator_suite" and not a.trace:
        t1 = time.time()
        n, bad, lines = oracle_check(work, record)
        attempted += n
        failed += bad
        record["notes"]["oracle"] = {"checked": n, "failed": bad, "failures": lines[:20],
                                     "seconds": time.time() - t1}
    if a.trace:
        trace = os.path.join(BUILD, "trace")
        os.makedirs(trace, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(trace, f"{a.workload}-seed{a.seed}.spans.json"))
        with open(os.path.join(trace, f"{a.workload}-seed{a.seed}.record.json"), "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    m = record["metrics"]
    missing = [w["name"] for w in wanted
               if not isinstance(m.get(w["name"], {}).get("value"), (int, float))]
    if missing:
        die(f"metrics not measured (every pass threw?): {', '.join(missing)}; "
            f"failures: {record['notes'].get('failures')}")
    line = {
        "correct": bool(record["correct"]) and failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {w["name"]: {"value": m[w["name"]]["value"], "unit": w["unit"]} for w in wanted},
    }
    print("perfbench record: " + json.dumps(record, sort_keys=True))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
