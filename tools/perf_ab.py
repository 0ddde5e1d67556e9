#!/usr/bin/env python3
"""A/B one perfbench workload: alternating parent/change pairs of runs.

    python3 tools/perf_ab.py --workload cot_batch --pairs 10 --seed 101
    python3 tools/perf_ab.py --workload cot_batch --pairs 10 --claim records_per_s

Run from the repository root. The change is the working tree (or
--change DIR); the parent is --parent REV (default HEAD), extracted with
`git archive` into --workdir (default: perf_ab under the system temp
directory) and reused by later invocations. Pair i runs both sides with
seed --seed + i, parent first on even pairs and change first on odd
ones, each as `python3 perfbench/run.py` in its own checkout (which
builds that checkout from source on its first run).

For every metric it prints each side's median and quartiles and the
fraction of pairs the change won (ties count for neither side), and each
run's wall-clock seconds (build included) with each side's total. An
end-to-end metric is flagged REGRESSION when the change's median is worse
than the parent's by more than its BENCHMARK.json bound, and UNRESOLVED
when the parent's own quartile spread is wider than the bound (unless
every change run beat every parent run). --claim M checks the gain rule:
the change wins at least 9/10 of the pairs on M and the medians differ by
more than the parent's interquartile range.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def git(*args):
    return subprocess.run(["git", *args], cwd=REPO, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def parent_checkout(rev, workdir):
    sha = git("rev-parse", "--verify", f"{rev}^{{commit}}")
    dest = workdir / f"parent-{sha[:12]}"
    if not (dest / "perfbench" / "run.py").is_file():
        dest.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"perf_ab: git archive {sha} failed")
    return sha, dest


def run_once(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its result JSON (the last stdout line) and
    the run's wall-clock seconds."""
    start = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, text=True, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-3000:] + proc.stderr[-3000:])
        sys.exit(f"perf_ab: run failed in {checkout} (seed {seed})")
    return json.loads(lines[-1]), time.monotonic() - start


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def report(runs, declared, claim):
    """Prints the table; returns False when a regression or a failed claim shows."""
    better = {m["name"]: m["better"] for m in declared["end_to_end"] + declared["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in declared["end_to_end"]}
    share = {}
    for side in ("parent", "change"):
        failed = sum(r["failed"] for r in runs[side])
        attempted = sum(r["attempted"] for r in runs[side])
        share[side] = failed / attempted if attempted else 1.0
        print(f"{side}: failed/attempted {failed}/{attempted}")
    ok = share["change"] <= share["parent"]
    print(f"{'metric':36s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
          f"{'delta':>8s} {'wins':>6s}")
    for name in runs["parent"][0]["metrics"]:
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        if name not in better or None in p or None in c:
            continue
        sign = 1 if better[name] == "higher" else -1
        wins = sum(1 for a, b in zip(p, c) if sign * (b - a) > 0)
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(p), quartiles(c)
        delta = (cm - pm) / pm if pm else 0.0
        flag = ""
        if name in bounds:
            if sign * delta < -bounds[name]:
                flag, ok = "REGRESSION", False
            elif pm and (pq3 - pq1) / pm > bounds[name] and \
                    not all(sign * (b - a) > 0 for a in p for b in c):
                flag = "UNRESOLVED"
        if name == claim:
            won = wins >= 0.9 * len(p) and abs(cm - pm) > (pq3 - pq1) and sign * (cm - pm) > 0
            flag = (flag + " CLAIM " + ("MET" if won else "NOT MET")).strip()
            ok &= won
        fmt = lambda a, b, d: f"{a:.4g}/{b:.4g}/{d:.4g}"
        print(f"{name:36s} {fmt(pq1, pm, pq3):>32s} {fmt(cq1, cm, cq3):>32s} "
              f"{delta:+8.1%} {wins:>3d}/{len(p):<2d} {flag}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0; pair i uses seed + i")
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parent", default="HEAD")
    ap.add_argument("--change", default=str(REPO))
    ap.add_argument("--workdir", default=str(Path(tempfile.gettempdir()) / "perf_ab"))
    ap.add_argument("--claim", help="end-to-end metric the change claims to improve")
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    declared = json.loads((REPO / "BENCHMARK.json").read_text())
    seconds = a.seconds if a.seconds is not None else declared["run_seconds"]
    sha, parent = parent_checkout(a.parent, Path(a.workdir))
    sides = {"parent": parent, "change": Path(a.change).resolve()}
    runs = {"parent": [], "change": []}
    wall = {"parent": 0.0, "change": 0.0}
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res, secs = run_once(sides[side], a.workload, a.seed + i, seconds, a.trace)
            runs[side].append(res)
            wall[side] += secs
            m = res["metrics"]
            headline = "pass_s" if "pass_s" in m else next(iter(m))
            print(f"pair {i} seed {a.seed + i} {side}: {headline} {m[headline]['value']:.4g} "
                  f"failed {res['failed']}/{res['attempted']} wall {secs:.1f} s", flush=True)
    print(f"\n{a.workload}: {a.pairs} pairs at {seconds} s, parent {sha[:12]} vs {sides['change']}")
    print(f"wall clock: parent {wall['parent']:.0f} s, change {wall['change']:.0f} s, "
          f"total {wall['parent'] + wall['change']:.0f} s")
    ok = report(runs, declared, a.claim)
    if a.out:
        Path(a.out).write_text(json.dumps({"workload": a.workload, "parent": sha, "seconds": seconds,
                                           "seed": a.seed, "runs": runs}, indent=1))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
