#!/usr/bin/env python3
"""Benchmark runner for the event-log-to-SQL path and the batch suite.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]

Workloads: catchup_dashboard, live_usage, batch_suite (see BENCHMARK.json
and perfbench/NOTES.md). The first run in a checkout builds the program
and the benchmark with sbt (perfbench/build.sbt depends on the repository
root as a source project); later runs reuse the build while the sources
are unchanged. Everything the run writes goes under .bench_build/.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. The exit code is 0 only when every
correctness check held.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

START = time.monotonic()
ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data")
CHECK = os.path.join(ROOT, "tools", "check.py")
RUN_LIMIT_S = 175      # a run that does not build
BUILD_RUN_LIMIT_S = 880  # the run that builds
ORACLE_RESERVE_S = 15

JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench [{time.monotonic() - START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = ["build.sbt", "project/*.sbt", "project/*.scala", "project/build.properties",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout_s, env=None, stdout=None):
    """Run cmd in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=max(timeout_s, 1))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def ensure_build():
    """Compile with sbt when the sources changed; return (classpath, built)."""
    stamp = os.path.join(BUILD, "build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st.get("hash") == digest and all(os.path.exists(p) for p in st["classpath"].split(os.pathsep)[:2]):
            return st["classpath"], False
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export perfbench/Runtime/fullClasspath"]
    code, out = run_group(cmd, BENCH, BUILD_RUN_LIMIT_S - 120, env=env, stdout=subprocess.PIPE)
    if code != 0 or not out:
        fail("sbt build failed" if code is not None else "sbt build timed out", 3)
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("sbt printed no classpath", 3)
    classpath = lines[-1]
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    log("build done")
    return classpath, True


def java_cmd(classpath, out_dir, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JAVA_OPENS]
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return [java, *opts, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={out_dir}", "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main", *args]


def oracle_check(results_dir, timeout_s):
    """The repository's DuckDB-oracle comparison (tools/check.py) over a
    results directory. Its exit code: 0 when every query matches, 1 when
    one does not, None when it timed out."""
    code, out = run_group([sys.executable, CHECK, DATA, results_dir], ROOT, timeout_s,
                          stdout=subprocess.PIPE)
    for line in (out or "").splitlines():
        if line.strip() and not line.strip().endswith("rows)"):
            log(f"oracle: {line.strip()}")
    return code


def oracle_checks(results_dir, deadline):
    """The oracle over every suite result, then a negative control: one
    query's result with one row dropped must fail the same comparison."""
    matches = oracle_check(results_dir, deadline - time.monotonic()) == 0
    import pandas as pd
    with open(os.path.join(results_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    control = os.path.join(os.path.dirname(results_dir), "control")
    detected = False
    for name in sorted(oracle):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        df = pd.concat([pd.read_parquet(f) for f in files]) if files else None
        if df is None or len(df) < 2:
            continue
        os.makedirs(os.path.join(control, name))
        df.iloc[1:].to_parquet(os.path.join(control, name, "part-0.parquet"), index=False)
        with open(os.path.join(control, "oracle_sql.json"), "w") as fh:
            json.dump({name: oracle[name]}, fh)
        log(f"negative control: {name} with one row dropped")
        detected = oracle_check(control, deadline - time.monotonic()) == 1
        break
    return {"oracle_matches": matches, "oracle_negative_control_detected": detected}


def main():
    # a stop request reaches the child JVM's process group through run_group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala", "tools/check.py", "perfbench/build.sbt",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the repository root: {need} is missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    os.makedirs(BUILD, exist_ok=True)
    classpath, built = ensure_build()
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S

    out_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(a.cores),
            "--out", out_dir, "--data", DATA]
    log(f"running {a.workload} seed={a.seed} trace={a.trace} cores={a.cores}")
    budget = limit - (time.monotonic() - START) - ORACLE_RESERVE_S
    code, _ = run_group(java_cmd(classpath, out_dir, args), out_dir, budget,
                        stdout=subprocess.DEVNULL)
    result_file = os.path.join(out_dir, "result.json")
    if code is None:
        fail("benchmark JVM timed out", 4)
    if code != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM failed with exit code {code}", 4)
    with open(result_file) as fh:
        res = json.load(fh)

    checks = dict(res["checks"])
    if a.workload == "batch_suite":
        checks.update(oracle_checks(os.path.join(out_dir, "results"),
                                    START + limit - 5))
    correct = bool(res["correct"]) and all(checks.values())
    for k, v in sorted(checks.items()):
        if not v:
            log(f"check failed: {k}")

    got = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if got.get(m["name"]) is None]
    if missing:
        fail(f"metrics not measured: {missing}", 4)
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}

    res["checks"] = checks
    res["correct"] = correct
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    keep = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}-cores{a.cores}.json")
    with open(keep, "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)

    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
