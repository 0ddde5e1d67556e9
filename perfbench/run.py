#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload cot_batch --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --record-digests

Run from the repository root. The first run builds the library and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build until a source file changes. Each run gets a fresh JVM and its own
scratch directory under perfbench/.work, removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("cot_batch", "cot_stream", "iterative_ops", "relational_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 needs these when started outside spark-submit
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [REPO / "src" / "main", HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for root in roots:
        files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(REPO)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    return env


def build():
    """Compile with sbt once per source state; returns the runtime classpath."""
    stamp_file, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    WORK.mkdir(exist_ok=True)
    log = WORK / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed (see {log})")
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def java(classpath, run_dir, args, timeout):
    """Runs the harness JVM; returns its stdout. Kills it on timeout."""
    cmd = ["java", *ADD_OPENS, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Dspark.ui.enabled=false",
           "-cp", classpath, "graft.perfbench.Main", *args]
    # the session is local[nproc] with every Spark dir under run_dir: drop
    # the environment overrides that would change either
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS")}
    with open(run_dir / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"run exceeded {timeout} s")
    log = (run_dir / "jvm.log").read_text(errors="replace")
    if proc.returncode != 0:
        sys.stderr.write(log[-6000:])
        die(f"JVM exited with {proc.returncode}")
    sys.stderr.writelines(l + "\n" for l in log.splitlines() if l.startswith("[perfbench]"))
    return out


def new_run_dir(tag):
    run_dir = WORK / f"run-{tag}-{os.getpid()}-{time.time_ns()}"
    for sub in ("tmp", "spark-local", "checkpoints", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    return run_dir


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="rewrite perfbench/expected_digests.json from this build")
    a = ap.parse_args()
    if not a.record_digests and not a.workload:
        ap.error("--workload is required")
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala").is_dir():
        die(f"{REPO} is not a checkout of the library (no build.sbt or src/main/scala)")

    classpath = build()
    run_dir = new_run_dir("digests" if a.record_digests else a.workload)
    try:
        if a.record_digests:
            java(classpath, run_dir, ["record-digests", str(REPO), str(run_dir)], 1800)
            return
        out = java(classpath, run_dir,
                   [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(REPO), str(run_dir)],
                   RUN_TIMEOUT_S)
        spans = run_dir / "spans.jsonl"
        if spans.is_file():
            (WORK / "traces").mkdir(exist_ok=True)
            shutil.copy(spans, WORK / "traces" / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        die("the run printed no result")
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    metrics = res["metrics"]
    error_rate = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    for p in res["problems"]:
        print(f"  FAILED {p}")
    print(f"{a.workload} seed={a.seed} trace={a.trace}: error_rate {error_rate:.6g} fraction "
          f"({res['failed']} of {res['attempted']})")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']!s:>24} {m['unit']}")

    declared = json.loads((REPO / "BENCHMARK.json").read_text())
    wanted = [m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in wanted if n not in metrics or metrics[n]["value"] is None]
    if missing:
        die(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: metrics[n] for n in wanted},
    }))


if __name__ == "__main__":
    main()
