#!/usr/bin/env python3
"""Benchmark entry point: one workload per invocation.

    python3 perfbench/run.py --workload kmeans_ref --seed 1 --seconds 20 --trace 0

Run from the repository root. The first call compiles the harness and the
engine with sbt into .bench_build/; later calls reuse that build while the
sources are unchanged. Each call makes its inputs from --seed, runs the
workload in one JVM (one untimed warm-up repetition, then timed
repetitions for about --seconds, at least MIN_REPS of them), checks the
outputs against computations made here without the engine, and prints one
JSON object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

# set-up is timed from here, before the numpy/duckdb imports below
PROCESS_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import inputs  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170          # a run must end within 180 s
# no timed repetition may end later than this after set-up starts: the
# checks and the JVM's shutdown need the rest of DEADLINE_S
REPS_DEADLINE_S = 140
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Xmx4g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Workload sizes; README.md explains each choice.
KMEANS_REF = dict(n=100_000, k=15, iters=10)
# the repository's seed-42 sf0.001 lineitem table, copied unchanged
GRAPH_TABLES = os.path.join(HERE, "data", "sf0.001")
WORKLOADS = ["kmeans_ref", "graph_loops"]
# timed repetitions at least, whatever --seconds says: the first ones still
# run 5-20 % slower while the JIT settles, and the median of three or more
# is not one sample
MIN_REPS = 3
GRAPH_KEYS = ["mst", "kcore", "betweenness"]
PHASES = ["ingest", "init", "fit", "cost", "write"]
COUNTERS = ["jobs", "stages", "tasks", "driver_s", "planning_s", "exec_cpu_s",
            "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
            "storage_peak_mb"]
END_TO_END = {"setup_s": "s", "wall_s": "s", "exec_cpu_s": "s",
              "peak_storage_mb": "MB"}


def unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def per_layer_names():
    """Every per-layer metric, in BENCHMARK.json order."""
    names = []
    for p in PHASES:
        names += [f"{p}.wall_s"] + [f"{p}.{c}" for c in COUNTERS]
    names.append("write.output_bytes")
    for k in GRAPH_KEYS:
        names += [f"{k}.build_s", f"{k}.action_s"]
        names += [f"{k}.{c}" for c in COUNTERS]
        names += [f"{k}.plan_nodes", f"{k}.exchanges"]
    return names


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, log, timeout, **kw):
    """Runs cmd in its own process group, output to `log`; on timeout or
    interruption the whole group is killed and waited for."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1, timeout))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    """Compiles the harness with the engine; returns the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved["digest"] == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=os.environ.get("SBT_OPTS", SBT_OPTS))
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    f"-Dperfbench.sparkJars={os.path.join(spark_home, 'jars')}",
                    "compile", "export Runtime/fullClasspath"],
                   log, 800, cwd=HERE, env=env)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l.strip() for l in lines
           if ".jar" in l and all(os.path.exists(e) for e in l.strip().split(os.pathsep))]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def make_inputs(workload, seed, work):
    """Writes the workload's inputs under `work`; returns what the checks
    need to know about them. graph_loops reads its fixed table in place."""
    if workload == "kmeans_ref":
        pts = inputs.birch_points(KMEANS_REF["n"], seed)
        inputs.write_points(os.path.join(work, "points.txt"), pts)
        return dict(KMEANS_REF, pts=pts)
    return dict(tables=GRAPH_TABLES, keys=GRAPH_KEYS)


def harness_args(workload, inp):
    if workload == "kmeans_ref":
        return ["--n", str(inp["n"]), "--k", str(inp["k"]),
                "--iters", str(inp["iters"])]
    return ["--keys", ",".join(inp["keys"]), "--tables", inp["tables"]]


def layer_metrics(trace):
    """Per-layer medians over the timed repetitions; 0 for layers this
    workload does not call."""
    by_rep = {}
    for s in trace:
        if s["rep"] >= 1:
            by_rep.setdefault(s["rep"], {})[s["name"]] = s
    samples = {}
    for spans in by_rep.values():
        vals = {}
        for name, s in spans.items():
            layer, _, part = name.rpartition(".")
            wall = (s["endNs"] - s["startNs"]) / 1e9
            c = s["counters"]
            if not layer:                       # a K-means phase
                vals[f"{name}.wall_s"] = wall
                vals[f"{name}.driver_s"] = wall - c["busy_s"]
                for key in COUNTERS:
                    if key != "driver_s":
                        vals[f"{name}.{key}"] = c[key]
                if name == "write":
                    vals["write.output_bytes"] = c["output_bytes"]
                continue
            # a graph key: its build and action spans add up
            vals[f"{layer}.{part}_s"] = wall
            for key in COUNTERS:
                v = wall - c["busy_s"] if key == "driver_s" else c[key]
                if key == "storage_peak_mb":
                    vals[f"{layer}.{key}"] = max(vals.get(f"{layer}.{key}", 0.0), v)
                else:
                    vals[f"{layer}.{key}"] = vals.get(f"{layer}.{key}", 0.0) + v
            for key, v in s["attrs"].items():
                vals[f"{layer}.{key}"] = v
        for k, v in vals.items():
            samples.setdefault(k, []).append(v)
    return {name: {"value": float(statistics.median(samples[name]))
                   if name in samples else 0.0, "unit": unit(name)}
            for name in per_layer_names()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its children (run_child's handler)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    build_start = time.time()
    classpath = build()
    # set-up runs from the process's start, less a compile this run did
    t0 = PROCESS_START + (time.time() - build_start)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inp = make_inputs(a.workload, a.seed, work)
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp",
              "-cp", classpath, "graftbench.Harness",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--min-reps", str(MIN_REPS),
              "--stop-by", str(int((t0 + REPS_DEADLINE_S) * 1000))]
           + harness_args(a.workload, inp))
    log = os.path.join(work, "jvm.log")
    rc = run_child(cmd, log, DEADLINE_S - (time.time() - t0), cwd=work)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited {rc}")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    try:
        problems = checks.check(a.workload, a.seed, inp, res["outputs"])
    except Exception as e:  # unreadable or malformed outputs
        problems = [f"check raised {e!r}"]
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for e in res["errors"]:
        print(f"operation failed: {e}", file=sys.stderr)
    reps = res["reps"]
    if a.trace:
        with open(os.path.join(work, "trace.json")) as f:
            metrics = layer_metrics(json.load(f))
    else:
        metrics = {
            "setup_s": res["setup_end_ms"] / 1e3 - t0,
            "wall_s": statistics.median(r["wall_s"] for r in reps),
            "exec_cpu_s": statistics.median(r["exec_cpu_s"] for r in reps),
            "peak_storage_mb": statistics.median(r["peak_storage_mb"] for r in reps),
        }
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
    print(f"perfbench: {a.workload} seed={a.seed} reps={len(reps)} "
          f"walls={[round(r['wall_s'], 3) for r in reps]}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
