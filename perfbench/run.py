#!/usr/bin/env python3
"""Benchmark entry point: builds the program from this checkout, makes the
workload's inputs from the seed, runs one workload in one Spark JVM and
prints one JSON result as the last line of stdout.

    python3 perfbench/run.py --workload dag_incremental --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md): dag_incremental, query_mix.
Everything it writes stays under perfbench/target, perfbench/project and
perfbench/.work: the jar, one class-data-sharing archive per source digest,
and the span files of traced runs (.work/traces).
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen  # noqa: E402

WORKLOADS = ("dag_incremental", "query_mix")
# Stress scale of the generated DeepBook history (see README.md for why), and
# the tiny one of the smoke run. The number of delta hours follows --seconds.
DAG_SIZE = dict(pools=8, days=10, events_per_pool_day=150, versions_per_pool_day=12)
SMOKE_DAG_SIZE = dict(pools=3, days=3, events_per_pool_day=30, versions_per_pool_day=3)
# Hours the DAG set-up appends before timing starts (Bench.WarmupOps), and the
# fewest ops a run times (two untraced and two traced with --trace 1).
DAG_WARMUP_HOURS = 2
MIN_OPS = 4
# The query tables are fixed: the same for every seed, so results can be pinned.
# The customer table, the d14 family's only input, is larger than the rest so
# that d14b's neighbourhood join, not per-job overhead, is most of its time.
TABLES_SEED = 42
TABLES_SIZE = dict(scale=0.01, customer_scale=0.1)
JVM_HEAP = "3g"
# The JVM gets --seconds plus this much for set-up, the last op and the checks.
JVM_MARGIN_S = 150
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark distribution found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(env):
    """Packages the program and the benchmark's Scala code into one jar (sbt),
    unless the sources are unchanged since the last build in this checkout.
    Returns the jar and the digest of the sources it was built from."""
    jar = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
    stamp = os.path.join(HERE, "target", "perfbench-sources.sha256")
    digest = source_digest()
    if os.path.exists(jar) and os.path.exists(stamp) and open(stamp).read() == digest:
        return jar, digest
    sbt = shutil.which("sbt") or die("sbt not found")
    proc = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "package"], cwd=HERE,
                          env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if proc.returncode != 0 or not os.path.exists(jar):
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return jar, digest


def inputs(workload, seed, seconds, out, tiny=False):
    """Generates a run's inputs into `out`. Every run makes its own (well
    under a second), so each starts from the same state and its set-up time
    includes generation. The DAG gets a delta hour for each warm-up run, one
    for each second of --seconds (at least MIN_OPS) and two spare: an
    incremental run takes seconds (fixed per-model store work), so the timed
    ops do not use them up. `tiny` shrinks the DAG's history to the smoke size."""
    if workload == "query_mix":
        gen.generate("tables", out, TABLES_SEED, **TABLES_SIZE)
    else:
        hours = DAG_WARMUP_HOURS + max(MIN_OPS, math.ceil(seconds)) + 2
        gen.generate("deepbook", out, seed, hours=hours, **(SMOKE_DAG_SIZE if tiny else DAG_SIZE))
    return out


def fresh_dir(name):
    d = os.path.join(WORK, f"{name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def bench_jvm(jar, env, cds, run_dir, timeout, stdout, **args):
    """Runs perfbench.Bench with `args` as its --options; on timeout the JVM
    is killed and waited for before this raises."""
    cmd = ["java", cds, "-Xlog:disable", "-Xlog:all=warning:stderr", *ADD_OPENS,
           f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", f"{jar}:{env['SPARK_HOME']}/jars/*", "perfbench.Bench", "--work", run_dir,
           "--cores", str(cores())]
    for k, v in args.items():
        cmd += ["--" + k.replace("_", "-"), str(int(v) if isinstance(v, bool) else v)]
    return subprocess.run(cmd, cwd=run_dir, env=env, stdout=stdout, text=True, timeout=timeout)


def class_archive(jar, digest, env):
    """The class-data-sharing archive for these sources: the JVM classes an
    untraced dag_incremental run on tiny inputs loaded, recorded untimed once
    per source digest. Every timed run of either workload maps it, which cuts
    JVM and Spark start-up from ~8 s to ~3 s, and none depends on what ran
    before it in the checkout. One archive serves both workloads: most of
    what they load is Spark's core, and a second archive run per build would
    cost another minute."""
    jsa = os.path.join(WORK, f"classes-{digest[:16]}.jsa")
    if os.path.exists(jsa):
        return jsa
    run_dir = fresh_dir("archive")
    partial = jsa + ".partial"
    try:
        data = inputs("dag_incremental", 1, 0, os.path.join(run_dir, "inputs"), tiny=True)
        proc = bench_jvm(jar, env, f"-XX:ArchiveClassesAtExit={partial}", run_dir, 600,
                         subprocess.DEVNULL, workload="dag_incremental", seed=1, seconds=0,
                         trace=False, inputs=data, trace_file="", pins="", write_pins=False,
                         equivalence=False)
    except subprocess.TimeoutExpired:
        die("the class-archive run did not finish")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(partial):
        die(f"the class-archive run failed (exit {proc.returncode})")
    os.replace(partial, jsa)
    return jsa


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true",
                    help="query_mix: record the current results as the pinned ones")
    ap.add_argument("--smoke", action="store_true",
                    help="dag_incremental: tiny input, and check incremental runs against a full refresh")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no program sources under {ROOT}: run from a checkout of the repository")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.pop("GRAFT_RUNNER_THREADS", None)  # the Runner keeps its default width
    jar, digest = build(env)
    jsa = class_archive(jar, digest, env)

    timeout = JVM_MARGIN_S + a.seconds
    trace_file = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl") if a.trace else ""
    run_dir = fresh_dir("run")
    try:
        t0 = time.perf_counter()
        data = inputs(a.workload, a.seed, a.seconds, os.path.join(run_dir, "inputs"), tiny=a.smoke)
        inputs_s = time.perf_counter() - t0
        spawned = time.time()
        proc = bench_jvm(jar, env, f"-XX:SharedArchiveFile={jsa}", run_dir, timeout, subprocess.PIPE,
                         workload=a.workload, seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                         inputs=data, trace_file=trace_file, pins=os.path.join(HERE, "pins.json"),
                         write_pins=a.write_pins, equivalence=a.smoke)
    except subprocess.TimeoutExpired:
        die(f"benchmark JVM did not finish within {timeout:.0f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    out = proc.stdout.splitlines()
    ready = [float(x.split()[1]) / 1e3 for x in out if x.startswith("PERFBENCH_SETUP_DONE ")]
    lines = [x for x in out if x.startswith('{"correct"')]
    if not ready or not lines:
        die(f"benchmark JVM failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    result["correct"] = result["correct"] and proc.returncode == 0
    op_s = result["metrics"].pop("op_s")
    if not a.trace:  # a traced run reports the per-layer metrics alone
        result["metrics"] = {"op_s": op_s,
                             "setup_s": {"value": inputs_s + (ready[0] - spawned), "unit": "s"}}
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
