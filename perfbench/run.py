#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, three workloads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 8 --trace 0

It builds the program from source (once per checkout and source state),
generates the workload's inputs from the seed, runs the workload in one
JVM for about --seconds of timed operations, checks the outputs, and
prints as its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones. An earlier line names every metric the workload
reports, with units. The exit code is non-zero when any op failed or any
output check failed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("daily_etl", "index_churn", "query_catalog")
CORES = len(os.sched_getaffinity(0))  # local[nproc], as graft.Bench runs
JVM_TIMEOUT_S = 170

# workload sizes (see README.md for why)
ETL_CITIES = 3
ETL_HISTORY = 8      # run dates staged in set-up
ETL_DAYS = ETL_HISTORY + 8  # + at most 8 timed days
CHURN_DOCS = 600
CHURN_VECS = 240
CATALOG_SF = 0.001


def spec():
    """End-to-end and per-layer metric lists, from BENCHMARK.json at the root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build(build_dir):
    """Compile the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("perfbench: the program's sources (build.sbt, src/main/scala) are not "
                 "next to perfbench/; run from the root of a full checkout")
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, f"classpath-{source_hash()}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True, timeout=850)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and os.pathsep in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: build failed (exit {proc.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(cp, work, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main"] + args


def generate(workload, seed, input_dir):
    import checks
    import gen
    if workload == "daily_etl":
        gen.weather_docs(os.path.join(input_dir, "weather"), seed, ETL_CITIES, ETL_DAYS)
        checks.etl_expected(input_dir, seed, ETL_CITIES, ETL_HISTORY, ETL_DAYS)
    elif workload == "index_churn":
        gen.corpus(os.path.join(input_dir, "corpus"), seed, CHURN_DOCS, CHURN_VECS)
    else:
        gen.tables(os.path.join(input_dir, "tables"), seed, CATALOG_SF)


def workload_metrics(workload, res, attempted, failed, setup_s):
    """Every end-to-end metric of the workload, by its own name, with unit."""
    s = res["samples"]
    med = lambda k: statistics.median(s[k]) if s.get(k) else 0.0
    mean = lambda k: statistics.mean(s[k]) if s.get(k) else 0.0
    m = {"setup_s": (setup_s, "s"),
         "fail_ratio": (failed / max(1, attempted), "ratio"),
         "peak_rss_mb": (res["env"]["peak_rss_mb"], "MB")}
    if workload == "daily_etl":
        m["etl_day_p50_s"] = (med("day_s"), "s")
        m["etl_readings_per_s"] = (res["values"].get("readings_per_s", 0.0), "1/s")
        op, cycle = mean("day_s"), med("day_s")  # one cycle of the loop is one day
    elif workload == "index_churn":
        m["ingest_p50_s"] = (med("ingest_s"), "s")
        m["lookup_p50_s"] = (med("lookup_s"), "s")
        m["compact_p50_s"] = (med("compact_s"), "s")
        op, cycle = mean("step_s"), med("cycle_s")
    else:
        q = sorted(s.get("query_s", []))
        m["catalog_s"] = (med("catalog_s"), "s")
        m["query_p50_s"] = (med("query_s"), "s")
        m["query_p95_s"] = (q[math.ceil(0.95 * len(q)) - 1] if q else 0.0, "s")  # nearest rank
        op, cycle = mean("query_s"), med("catalog_s")
    m["op_mean_s"] = (op, "s")
    m["cycle_s"] = (cycle, "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    cp = build(build_dir)

    t_start = time.time()
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    generate(a.workload, a.seed, input_dir)
    generate_s = time.time() - t_start

    out_file = os.path.join(run_dir, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--input", input_dir, "--work", work,
            "--out", out_file, "--cores", str(CORES)]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(java_cmd(cp, work, args), cwd=work, stdout=log, stderr=log)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0 or not os.path.isfile(out_file):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
            tail = [l.rstrip() for l in f if "ERROR" in l or "Exception" in l or "Error:" in l][-20:]
        print("\n".join(tail), file=sys.stderr)
        sys.exit(f"perfbench: the benchmark JVM ended with {code}; see {run_dir}/jvm.log")
    with open(out_file) as f:
        res = json.load(f)

    import checks
    post = []  # failed post-run output checks
    if a.workload == "daily_etl" and "last_day" in res["values"]:
        post = checks.etl_outputs(input_dir, os.path.join(work, "etl"), int(res["values"]["last_day"]))
    elif a.workload == "query_catalog" and os.path.isdir(os.path.join(work, "catalog")):
        post = checks.catalog_outputs(os.path.join(input_dir, "tables"), os.path.join(work, "catalog"))
    errors = res["errors"] + post
    # a query whose result fails its oracle check is a failed op; the
    # daily_etl checks of the tables on disk are ops of their own
    extra_ops = 0 if a.workload == "query_catalog" else len(post)
    attempted, failed = res["attempted"] + extra_ops, res["failed"] + len(post)
    correct = not errors and failed == 0

    # no timed op ran (the workload aborted in set-up): no set-up time either
    setup_s = res["first_op_at_ms"] / 1000.0 - t_start if res["first_op_at_ms"] else 0.0
    m = workload_metrics(a.workload, res, attempted, failed, setup_s)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()},
              "values": {"setup.generate_s": generate_s, **res["values"]},
              "layers": res["layers"], "env": res["env"], "nproc": os.cpu_count(),
              "commit": commit(), "source_hash": source_hash(), "errors": errors}
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in errors:
        print(f"perfbench: FAILED: {e}", file=sys.stderr)
    print(json.dumps({"workload": a.workload, "env": res["env"], "nproc": os.cpu_count(),
                      "commit": record["commit"], "report": record["metrics"]}))

    e2e, per_layer = spec()
    last_untraced = os.path.join(build_dir, f"last-untraced-{a.workload}.json")
    if a.trace:
        metrics = {k: {"value": res["layers"].get(k) or 0.0, "unit": u} for k, u in per_layer.items()}
        if os.path.isfile(last_untraced):
            with open(last_untraced) as f:
                base = json.load(f)
            print(json.dumps({"tracing_overhead": {
                k: {"value": m[k][0] - base[k]["value"], "unit": m[k][1]}
                for k in e2e if k in base}}))
    else:
        metrics = {k: {"value": m[k][0], "unit": u} for k, u in e2e.items()}
        with open(last_untraced, "w") as f:
            json.dump(metrics, f)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def commit():
    """The checked-out commit, when the checkout is a git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
