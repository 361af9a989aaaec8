#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the repository's program and the benchmark from source with sbt (only
when a source file changed since the last build in this checkout), runs the
workload in one JVM and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the `end_to_end` metrics of
BENCHMARK.json with `--trace 0`, its `per_layer` metrics with `--trace 1`.

A traced run also writes one line per operation (jobs, stages, tasks, time
inside and outside stages) to `.bench_build/perfbench/trace_rows_NAME.tsv`.

    python3 perfbench/run.py --workload registry_queries --record

runs the query rows once and rewrites `perfbench/expected/registry_queries.tsv`;
it also leaves each result as parquet plus `oracle_sql.json` under
`.bench_build/perfbench/record/dump`, the layout `tools/compare.py` checks
against the DuckDB oracles.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "stamp")
DEADLINE_S = 175

QUERIES = "registry_queries"
WORKLOADS = ("etl_nightly", QUERIES)
# Fixture tables of the query workload, kept in the benchmark so that it reads
# nothing outside the checkout.
QUERY_DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", QUERIES + ".tsv")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            for f in fs if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(deadline):
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM="4g")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchSpec"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=max(1, deadline - time.time()))
    if r.returncode != 0:
        fail(f"build failed with code {r.returncode}")
    shutil.copy(os.path.join(BENCH, "target", "launch.txt"), LAUNCH)
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(jvm_args, work, deadline):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp, jvm_opts = lines[0], lines[1:]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_opts +
           ["-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            "-cp", cp, "perfbench.Main", "--work", work] + jvm_args)
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("the workload ran past its time limit")
    if p.returncode != 0:
        fail(f"the workload exited with code {p.returncode}")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("the workload printed no result")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    start = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need}); run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # the first run in a checkout builds and may take longer
    build(start + 840)
    deadline = time.time() + DEADLINE_S

    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == QUERIES:
        args += ["--data", QUERY_DATA, "--expected", EXPECTED]
    if a.trace:
        args += ["--rows", os.path.join(BUILD, f"trace_rows_{a.workload}.tsv")]
    try:
        if a.record:
            if a.workload != QUERIES:
                fail(f"--record applies to {QUERIES}")
            rec = os.path.join(BUILD, "record")
            shutil.rmtree(rec, ignore_errors=True)
            os.makedirs(rec)
            run_jvm(args + ["--record", rec], work, deadline + 600)
            shutil.copy(os.path.join(rec, "expected.tsv"), EXPECTED)
            return
        result = run_jvm(args, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # The workload prints the values it measured by name; BENCHMARK.json is
    # the one list of metrics and their units. Every end-to-end metric must be
    # measured; a per-layer metric the workload does not exercise reads 0.
    want = spec["per_layer" if a.trace else "end_to_end"]
    got = result["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in want})
    if unknown:
        fail(f"measured metrics missing from BENCHMARK.json: {unknown}")
    missing = [m["name"] for m in want if m["name"] not in got]
    if missing and not a.trace:
        fail(f"end-to-end metrics not measured: {missing}")
    result["metrics"] = {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                         for m in want}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
