#!/usr/bin/env python3
"""Benchmark entry point for the graft dedup engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch|ingest --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Builds the harness (perfbench/build.sbt, which compiles the engine from
src/main/scala unchanged) when its sources changed since the last build,
then runs one workload in a fresh driver JVM. The JVM prints a report line
and, last, the result object this script passes on as its own last line.
See perfbench/BENCHMARK.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_DIR = os.path.join(ROOT, ".bench_work")
OUT_DIR = os.path.join(ROOT, ".bench_out")

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
CORES = min(4, os.cpu_count() or 1)
DRIVER_HEAP = "4g"

# JDK 17 module opens Spark needs outside spark-submit (the repository's
# build.sbt passes the same list to its forked runs).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_sha():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def classpath(sha):
    """The harness classpath, building first if the sources changed."""
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh, open(cp_file) as fc:
            if fh.read().strip() == sha:
                return fc.read().strip()
    log("building the harness and the engine (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    if code != 0:
        sys.stderr.write((out or "")[-6000:])
        log("build failed" if code is not None else "build timed out")
        sys.exit(5)
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    cps = [ln.strip() for ln in out.splitlines() if ln.strip().startswith(classes)]
    if not cps:
        sys.stderr.write(out[-6000:])
        log("build printed no classpath")
        sys.exit(5)
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp, "w") as fh:
        fh.write(sha)
    return cps[-1]


def fixture(sha, cp, tmp):
    """The bootstrapped root `ingest` runs start from, one per build."""
    path = os.path.join(BUILD_DIR, f"ingest-root-{sha}")
    if os.path.isdir(path):
        return path
    for name in os.listdir(BUILD_DIR):  # roots of earlier builds
        if name.startswith("ingest-root-"):
            shutil.rmtree(os.path.join(BUILD_DIR, name), ignore_errors=True)
    log("bootstrapping the ingest root")
    staging = path + ".partial"
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    code, _ = run_group(java_cmd(cp, tmp) + [
        "prepare", "--root", staging, "--run-dir", run_dir, "--cores", str(CORES)],
        BUILD_TIMEOUT_S, cwd=ROOT, env=jvm_env(run_dir))
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        shutil.rmtree(staging, ignore_errors=True)
        log("bootstrapping the ingest root failed")
        sys.exit(5)
    os.rename(staging, path)
    return path


def java_cmd(cp, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return [java, *opens, f"-Xmx{DRIVER_HEAP}", "-XX:ReservedCodeCacheSize=2g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main"]


def jvm_env(run_dir):
    # engine knobs come from GRAFT_* / SPARK_GRAFT_* variables; the
    # benchmark measures the defaults, so none of them is passed on
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("GRAFT_") and not k.startswith("SPARK_GRAFT_")}
    # Spark prefers this variable over spark.local.dir: keep scratch owned
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    return env


def result(report, trace):
    """The result object: the metrics BENCHMARK.json names, with its units.
    A per-layer metric the workload does not produce reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if trace:
        figures = report.get("per_layer", {})
        metrics = {m["name"]: {"value": figures.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in report["end_to_end"]]
        if missing:
            log(f"the JVM reported no {', '.join(missing)}")
            sys.exit(7)
        metrics = {m["name"]: {"value": report["end_to_end"][m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    return {**report["result"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["batch", "ingest"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from a full checkout of the repository")
        sys.exit(2)
    if shutil.which("sbt") is None:
        log("sbt is not on PATH")
        sys.exit(2)

    sha = source_sha()
    cp = classpath(sha)
    tmp = os.path.join(WORK_DIR, f"tmp-{os.getpid()}")
    run_dir = os.path.join(WORK_DIR, f"run-{os.getpid()}")
    if os.path.isdir(WORK_DIR):  # scratch a crashed run left behind
        for name in os.listdir(WORK_DIR):
            if name.startswith("tmp-"):
                shutil.rmtree(os.path.join(WORK_DIR, name), ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    try:
        if args.selftest:
            code, out = run_group(java_cmd(cp, tmp) + ["selftest"], RUN_TIMEOUT_S,
                                  stdout=subprocess.PIPE, text=True)
            sys.stdout.write(out or "")
            sys.exit(1 if code is None else code)
        root = fixture(sha, cp, tmp)
        cmd = java_cmd(cp, tmp) + [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(CORES), "--run-dir", run_dir, "--out-dir", OUT_DIR,
            "--fixture", root, "--commit", commit(), "--source", sha]
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=jvm_env(run_dir),
                              stdout=subprocess.PIPE, text=True)
        if code is None:
            log(f"run exceeded {RUN_TIMEOUT_S} s and was killed")
            sys.exit(6)
        if code != 0:
            log(f"run failed with exit code {code}")
            sys.exit(code)
        reports = [ln for ln in out.splitlines() if ln.startswith("report ")]
        if not reports:
            log("the JVM printed no report")
            sys.exit(7)
        print(reports[-1])
        print(json.dumps(result(json.loads(reports[-1][len("report "):]), args.trace)))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(WORK_DIR)
        except OSError:
            pass


if __name__ == "__main__":
    main()
