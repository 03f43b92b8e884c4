#!/usr/bin/env python3
"""Runs alternating parent/change pairs of perfbench/run.py and compares them.

    python3 scripts/perfpairs.py --workload kmeans_ref --pairs 10 \\
        --parent HEAD~1 --change HEAD --seed0 101 [--trace 0] [--json out.json]

Run from the repository root. Each side is the committed tree of its
revision, exported with `git archive` into a fresh directory under
--dir, with its own .bench_build. A copy of a checkout together with its
.bench_build must not be built in: the copied zinc analysis holds
absolute paths, and compiling in the copy deletes the original's classes.
To measure uncommitted work, stage it and pass `--change $(git stash create)`.

Both sides are built before the first timed run. Pair i runs both sides
on seed --seed0 + i, the parent first in even pairs and the change first
in odd ones. Each run's steal time is read from /proc/stat around it.
The script prints every run, then per metric each side's median and
quartiles, the change in the median and the number of pairs the change
won (lower is better for every metric; ties count for neither side).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", *args], cwd=ROOT, check=True,
                          capture_output=True, text=True).stdout.strip()


def export(rev, dest):
    """A fresh tree of `rev`'s committed files at `dest`."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", rev], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"perfpairs: git archive {rev} failed")


def cpu_times():
    """(steal, total) jiffies of all CPUs, from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # guest times are already counted in user and nice
    return vals[7], sum(vals[:8])


def build(side):
    code = "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"
    if subprocess.run([sys.executable, "-c", code], cwd=side).returncode != 0:
        sys.exit(f"perfpairs: build failed in {side}")


def run_once(side, workload, seed, seconds, trace):
    s0, t0 = cpu_times()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=side, capture_output=True, text=True)
    s1, t1 = cpu_times()
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        sys.exit(f"perfpairs: run failed in {side} (exit {p.returncode})")
    res = json.loads(lines[-1])
    res["steal_pct"] = 100.0 * (s1 - s0) / max(1, t1 - t0)
    res["seed"] = seed
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summary(runs, pairs):
    names = list(runs["parent"][0]["metrics"])
    out = {}
    for name in names:
        side = {s: [r["metrics"][name]["value"] for r in runs[s]] for s in runs}
        if not any(v for vals in side.values() for v in vals):
            continue  # a counter of the other workload
        med = {s: statistics.median(v) for s, v in side.items()}
        out[name] = {
            "parent_median": med["parent"], "parent_q": quartiles(side["parent"]),
            "change_median": med["change"], "change_q": quartiles(side["change"]),
            "change_pct": 100.0 * (med["change"] - med["parent"]) / med["parent"]
            if med["parent"] else 0.0,
            "wins": sum(c < p for p, c in zip(side["parent"], side["change"])),
            "pairs": pairs,
        }
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", default="HEAD~1")
    ap.add_argument("--change", default="HEAD")
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dir", default=os.path.join(ROOT, ".perfpairs"),
                    help="where the two exported trees go")
    ap.add_argument("--json", help="also write every run and the summary here")
    a = ap.parse_args()

    sides = {}
    for s in ("parent", "change"):
        rev = git("rev-parse", "--verify", getattr(a, s) + "^{commit}")
        sides[s] = os.path.join(a.dir, s)
        export(rev, sides[s])
        print(f"{s}: {rev[:12]} -> {sides[s]}", file=sys.stderr)
        build(sides[s])

    runs = {"parent": [], "change": []}
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for s in order:
            r = run_once(sides[s], a.workload, seed, a.seconds, a.trace)
            r["order"] = order.index(s)
            runs[s].append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"pair {i} seed {seed} {s:6} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} steal={r['steal_pct']:.1f}% "
                  f"{vals}", flush=True)

    summ = summary(runs, a.pairs)
    print(f"\n{a.workload}: {a.pairs} pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}, "
          f"steal {min(r['steal_pct'] for v in runs.values() for r in v):.1f}-"
          f"{max(r['steal_pct'] for v in runs.values() for r in v):.1f} %")
    def cell(med, q):
        return f"{med:.4g} [{q[0]:.4g}, {q[1]:.4g}]"
    print(f"{'metric':28} {'parent median [Q1, Q3]':30} {'change median [Q1, Q3]':30} "
          f"{'change':>8} {'wins':>6}")
    for name, m in summ.items():
        print(f"{name:28} {cell(m['parent_median'], m['parent_q']):30} "
              f"{cell(m['change_median'], m['change_q']):30} "
              f"{m['change_pct']:+7.1f}% {m['wins']:>3}/{m['pairs']}")
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"workload": a.workload, "runs": runs, "summary": summ}, f, indent=1)


if __name__ == "__main__":
    start = time.time()
    main()
    print(f"perfpairs: {time.time() - start:.0f} s", file=sys.stderr)
