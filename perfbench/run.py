#!/usr/bin/env python3
"""Benchmark for the Spark engine: the dbt DAG refresh and cold artifact
builds, timed end to end and, in a traced run, per layer.

    python3 perfbench/run.py --workload dag_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine plus the
harness with sbt into `.bench_build/`; later runs reuse that build while
the sources are unchanged. Each run generates its corpus and its seeded
plan, starts one JVM (`local[nproc]`), checks every output, and prints as
its last stdout line one JSON object: `correct`, `attempted`, `failed`
and `metrics` (end-to-end with `--trace 0`, per-layer with `--trace 1`).
The line before it records the workload's named metrics, the seed and
the derived inputs, and the run environment.
"""

import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("dag_refresh", "build_cold")
# Corpus scale. The DAG reads raw tables of nation x month grain, the same
# shape at any scale; build_cold's round loops are job-bound. sf 0.01
# keeps each run within the time one run may take.
CORPUS_SF = 0.01
# dag_refresh: revised GDP rows, the years they fall in, and the most
# months the cutoff holds back.
N_REVISIONS = 5
REVISION_YEARS = range(1995, 2001)
MAX_HOLDBACK = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def engine_build_sbt():
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return f.read()


def jdk_opens():
    """The `--add-opens` packages the engine's build.sbt lists for Spark on
    JDK 17+ (`jdk17AddOpens`)."""
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", engine_build_sbt(), re.S)
    if not m:
        fail("build.sbt defines no jdk17AddOpens")
    return re.findall(r'"([^"]+)"', m.group(1))


def source_digest():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        files += [p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                  if os.path.isfile(p)]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars_dir():
    """The Spark jars the engine compiles against: the `unmanagedBase` its
    own build.sbt names, else `$SPARK_HOME/jars`."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', engine_build_sbt())
    if m:
        return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def build():
    """Compiles engine plus harness once per source digest; returns the
    runtime classpath and the digest."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("digest") == digest:
            return got["classpath"], digest
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_JARS_DIR=spark_jars_dir())
    # sbt's own state (global base, temp files, no server) stays in the checkout.
    tmp = os.path.join(BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for the JVMs sbt's script starts
    env["TMPDIR"] = tmp
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        with open(log, "a") as out:
            out.write(proc.stdout)
        fail(f"build failed; see {log}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath, digest


def heap_flags():
    """-Xms/-Xmx from the box: a third of MemTotal, 2-8 GiB, fixed (Xms =
    Xmx) so the collector does not resize the heap mid-run. The engine's
    SPARK_DRIVER_MEM / SPARK_DRIVER_MIN_MEM overrides win when set."""
    gib = 6
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = max(2, min(8, int(line.split()[1]) // (3 * 1024 * 1024)))
    except OSError:
        pass
    xmx = os.environ.get("SPARK_DRIVER_MEM", f"{gib}g")
    xms = os.environ.get("SPARK_DRIVER_MIN_MEM", xmx)
    return [f"-Xms{xms}", f"-Xmx{xmx}"]


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_times():
    """The aggregate `cpu` line of /proc/stat, in jiffies, or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def steal_pct(start, end):
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_times()` readings: noise from outside the box."""
    if not start or not end or len(start) < 8:
        return None
    d = [b - a for a, b in zip(start, end)]
    return round(100.0 * d[7] / max(sum(d), 1), 2)


def git_commit():
    try:
        # The ceiling stops git from reporting an enclosing repository.
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10, env=env)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def load_expected():
    """Pinned per-query results on the corpus."""
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def make_plan(seed):
    """The seeded inputs of this run, and the JVM plan dict."""
    p = gen.run_plan(seed, N_REVISIONS, REVISION_YEARS, MAX_HOLDBACK)
    pinned = load_expected()
    return p, {
        "build": ",".join(p["build"]),
        "holdback": str(p["holdback_months"]),
        "revisions": ",".join(f"{r['geo_code']}:{r['time_code']}:{r['factor']}"
                              for r in p["revisions"]),
        "expected": ",".join(f"{n}:{pinned[n]['count']}" for n in p["build"]),
    }


def run_jvm(classpath, flags, args, work, log, timeout=JVM_TIMEOUT_S):
    """Runs `perfbench.Main args`; every file it writes stays under `work`.
    Returns the exit code, or None on timeout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-XX:-UsePerfData"] + flags
           + [f"--add-opens={m}=ALL-UNNAMED" for m in jdk_opens()]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.callstack.depth=200", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
              "-cp", classpath, "perfbench.Main"] + args)
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def metrics_from(workload, res, setup_s, trace):
    """The result line's metrics, plus the workload's named metrics."""
    s = res["samples"]
    calls = s.get("call_ms", [])
    named = {"setup_s": (setup_s, "s", 1),
             "call_p50_ms": (stats.median(calls), "ms", len(calls)),
             "heap_retained_mb": (res["heap_retained_mb"], "MB", 1),
             "ops_failed": (res["failed"] / max(res["attempted"], 1), "ratio", res["attempted"])}
    # The highest percentile with ten calls beyond it, when there is one.
    tail = stats.tail_percentile(len(calls))
    if tail is not None:
        named[f"call_p{tail:g}_ms"] = (stats.percentile(calls, tail), "ms", len(calls))
    if workload == "dag_refresh":
        for k in ("dag_full_refresh_s", "dag_incremental_s", "dag_test_s"):
            named[k] = (stats.median(s.get(k, [])), "s", len(s.get(k, [])))
    else:
        for k in ("build_cold_s", "build_warm_s"):
            named[k] = (stats.median(s.get(k, [])), "s", len(s.get(k, [])))
    spec = bench_spec()
    if trace:
        # Counters come per traced cycle; timed layers as medians of their
        # samples. A layer the workload does not load did no work in it: 0.
        layers = dict(res["layers"], heap_retained_mb=res["heap_retained_mb"])
        for k, v in s.items():
            if k == "tables.resolve_ms" or k.startswith("build."):
                layers[k] = stats.median(v)
        untraced, traced = stats.median(s.get("cycle_s", [])), stats.median(s.get("traced_cycle_s", []))
        if untraced > 0 and traced > 0:
            layers["trace.overhead_pct"] = (traced - untraced) / untraced * 100
        values = {m["name"]: layers.get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s, "cycle_s": stats.median(s.get("cycle_s", [])),
                  "cycle_cpu_s": stats.median(s.get("cycle_cpu_s", []))}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the `finally` blocks that stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath, digest = build()
    t_setup = time.time()
    nproc = len(os.sched_getaffinity(0))
    load_start = loadavg()
    cpu_start = cpu_times()
    if load_start > nproc:
        print(f"perfbench: warning: load {load_start} exceeds nproc {nproc} at start",
              file=sys.stderr)
    plan, jvm_plan = make_plan(args.seed)
    work = os.path.join(BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        corpus = os.path.join(work, "corpus")
        gen.write_corpus(corpus, CORPUS_SF)
        flags = heap_flags()
        jvm_plan.update({"workload": args.workload, "seconds": str(args.seconds),
                         "trace": str(args.trace), "cpus": str(nproc), "corpus": corpus,
                         "work": os.path.join(work, "dag"), "out": os.path.join(work, "out.json")})
        plan_file = os.path.join(work, "plan.txt")
        with open(plan_file, "w") as f:
            f.writelines(f"{k}={v}\n" for k, v in jvm_plan.items())
        log = os.path.join(BUILD_DIR, f"jvm-{args.workload}.log")
        code = run_jvm(classpath, flags, [plan_file], work, log)
        if code != 0 or not os.path.isfile(jvm_plan["out"]):
            fail(f"engine run failed (exit {code}); see {os.path.relpath(log, ROOT)}")
        with open(jvm_plan["out"]) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = res["first_op_epoch_ms"] / 1000.0 - t_setup
    metrics, named = metrics_from(args.workload, res, setup_s, args.trace == 1)
    env = {"nproc": nproc, "heap_flags": flags, "spark_version": res["spark_version"],
           "git_commit": git_commit(), "source_digest": digest[:16],
           "loadavg_start": load_start, "loadavg_end": loadavg(),
           "steal_pct": steal_pct(cpu_start, cpu_times()),
           "corpus_sf": CORPUS_SF, "master": f"local[{nproc}]", "clients": 1}
    detail = {"workload": args.workload, "seed": args.seed, "inputs": plan,
              "named_metrics": {k: {"value": v, "unit": u, "samples": n}
                                for k, (v, u, n) in named.items()},
              "setup_steps_s": {k: round(v / 1000.0 - t_setup, 3) for k, v in res["marks"].items()},
              "cycles_s": res["samples"].get("cycle_s", []),
              "traced_cycles_s": res["samples"].get("traced_cycle_s", []),
              "query_median_ms": {k[len("query_ms."):]: round(stats.median(v), 1)
                                  for k, v in res["samples"].items() if k.startswith("query_ms.")},
              "failures": res["failures"], "env": env}
    print(json.dumps(detail))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
