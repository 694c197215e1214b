#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first call builds the library and the
benchmark from source into perfbench/target (sbt, offline); later calls
reuse that build until a source file changes. The run itself is one JVM
(graft.perfbench.Main) with a local Spark session sized like the tier-1
tests: SPARK_GRAFT_CPUS cores (default: the CPUs this process may use) and
SPARK_DRIVER_MEM heap (default: half of RAM, clamped to 2g..8g). All
scratch data lives under perfbench/work and is removed when the run ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics; with --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The exit code is 0 only if the run finished and every check
passed.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(TARGET, "perfbench-stamp.txt")
# JDK class-data-sharing archive per workload, written by the build (one
# priming JVM that starts the session and sets up once) and mapped by
# every run: it cuts the JVM's and Spark's class-loading time, which every
# run pays once.
def cds_file(workload):
    return os.path.join(TARGET, f"perfbench-classes-{workload}.jsa")
RUN_BUDGET_S = 175
BUILD_BUDGET_S = 800

# JDK 17 module opens Spark needs outside spark-submit (same list as the
# root build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("cannot find the Spark jars: set SPARK_HOME")
    return jars


def build(workloads):
    stamp = source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                return
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx4g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dperfbench.sparkJars={spark_jars()}", "export Runtime/fullClasspathAsJars"]
    print("perfbench: building (sbt) ...", file=sys.stderr)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_BUDGET_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(l[:300] for l in lines[-40:]) + "\n")
        fail("build failed", 1)
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    for f in glob.glob(cds_file("*")):
        os.remove(f)
    for w in workloads:
        work = os.path.join(HERE, "work", f"prime-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        try:
            code = run_jvm(w, 0, 1, 0, work, time.time() + BUILD_BUDGET_S,
                           [f"-XX:ArchiveClassesAtExit={cds_file(w)}"], ["--prime", "1"])[0]
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            fail(f"priming run for {w} failed", 1)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)


def driver_mem():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    if os.environ.get("SPARK_GRAFT_CPUS"):
        return os.environ["SPARK_GRAFT_CPUS"]
    try:
        return str(len(os.sched_getaffinity(0)))
    except AttributeError:
        return str(os.cpu_count() or 1)


def run_jvm(workload, seed, seconds, trace, work, deadline, jvm_opts=(), args=()):
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    cds = cds_file(workload)
    jvm = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{driver_mem()}",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        f"-Dspark.hadoop.hadoop.tmp.dir={work}/hadoop",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC"] + (
        list(jvm_opts) or ([f"-XX:SharedArchiveFile={cds}"] if os.path.exists(cds) else [])) + [
        "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", work, "--out", out] + list(args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus())
    with open(log, "w") as lf:
        p = subprocess.Popen(jvm, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    result = None
    if os.path.exists(out):
        with open(out) as f:
            result = json.load(f)
    if code != 0 or (result is None and not args):
        with open(log) as f:
            tail = f.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from a checkout of the repository: its sources are missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    expected = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]

    build([w["name"] for w in spec["workloads"]])
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        code, result = run_jvm(args.workload, args.seed, args.seconds, args.trace, work,
                               time.time() + RUN_BUDGET_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None or "metrics" not in result:
        fail(f"run did not finish (exit {code})"
             + (f": {result.get('error')}" if result else ""), 1)

    metrics = result["metrics"]
    if sorted(metrics) != sorted(expected):
        fail("metric set differs from BENCHMARK.json: missing "
             f"{sorted(set(expected) - set(metrics))}, extra {sorted(set(metrics) - set(expected))}", 1)
    info = result["info"]
    print(f"# {info['workload']} seed={info['seed']} seconds={info['seconds']} "
          f"trace={info['trace']} cpus={info['cpus']} inputs_sha256={info['input_sha256']}")
    print(f"# session_s={info['session_s']:.3f} setup_reps_s={info['setup_reps_s']} "
          f"heap_samples_mb={[round(x, 1) for x in info['heap_samples_mb']]}")
    print(f"# samples={json.dumps(info['samples'])} ops={json.dumps(info['ops_by_kind'])}")
    print("# op_ms " + " ".join(f"{k}:{ms:.0f}{'' if measured else '(w)'}"
                                for k, ms, measured, _ in info["op_ms"]))
    for name, m in list(info["end_to_end"].items()) + list(info["named"].items()):
        print(f"# {name:<28} {m['value']:>14.4f} {m['unit']}")
    if args.trace:
        for name in expected:
            print(f"# {name:<52} {metrics[name]['value']:>16.4f} {metrics[name]['unit']}")
        print(f"# trace.coverage (self + Spark time / op wall): {info.get('coverage')}")
    for line in info["failures"]:
        print(f"# FAILED {line}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": {k: metrics[k] for k in expected}}))
    sys.exit(0 if code == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
