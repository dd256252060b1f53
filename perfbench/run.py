#!/usr/bin/env python3
"""graft's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload er_self_staged --seed 1 --seconds 20 --trace 0

Builds the harness (perfbench/build.sbt, which compiles the repo's own
sources) on first use, runs a host CPU control, then one JVM at local[N]
(N = min(nproc, 4)) that sets up, times the workload's public entry point
(after an untimed warm-up call on a smaller input, at least twice and then
while calls fit in the --seconds window), and checks its outputs.
Prints every metric as `name value unit`, then, as the last line, one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
EXPECTED = os.path.join(HERE, "expected.tsv")
DEADLINE_S = 170  # the whole run, build excluded
BUILD_TIMEOUT_S = 850

# JDK 17 module opens Spark needs outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for dirpath, _, names in os.walk(p):
            for n in names:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, n)))
    return newest


def build():
    """Compiles the program and the harness unless the classpath is fresh."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
               os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt")]
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_mtime(sources):
        return
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"]
    # resolve from the local caches only: the build has no network
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"),
               SBT_OPTS=os.environ.get("SBT_OPTS", "-Dsbt.offline=true"))
    try:
        r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S, text=True, env=env)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")


def cpu_control(procs):
    """Fixed CPU work on `procs` processes; wall seconds (a slow host shows here)."""
    work = "i=0\nwhile i<6000000: i+=1"
    t0 = time.perf_counter()
    ps = [subprocess.Popen([sys.executable, "-c", work]) for _ in range(procs)]
    for p in ps:
        p.wait()
    return time.perf_counter() - t0


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int, help="input size override (smoke runs)")
    ap.add_argument("--record", action="store_true",
                    help="append this run's reproducible counts to expected.tsv")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not here", 2)
    build()
    started = time.monotonic()

    cores = max(1, min(os.cpu_count() or 1, 4))
    ctl = cpu_control(cores)
    work = os.path.join(ROOT, ".bench_run", "%s-seed%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + ["--add-opens=%s=ALL-UNNAMED" % m for m in ADD_OPENS] + [
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", work, "--cores", str(cores),
        "--expected", EXPECTED]
    if a.pages:
        cmd += ["--pages", str(a.pages)]
    if a.record:
        cmd += ["--record", EXPECTED]
    log_path = os.path.join(work, "jvm.log")
    cmd += ["--launched-at-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        jvm = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = jvm.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            fail("the run did not finish within %d s" % DEADLINE_S)
    with open(log_path) as f:
        problems = [l for l in f if l.startswith("perfbench:")]
    sys.stderr.writelines(problems)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if jvm.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("the JVM exited with %d and no result" % jvm.returncode)
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    measured = res["metrics"]
    measured["host.cpu_ctl_s"] = {"value": ctl, "unit": "s"}
    if a.trace:
        traces = os.path.join(ROOT, ".bench_run", "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"),
                    os.path.join(traces, "%s-seed%d.json" % (a.workload, a.seed)))
    shutil.rmtree(work, ignore_errors=True)

    for name, m in measured.items():
        print("%-48s %16.6f %s" % (name, m["value"], m["unit"]))
    print("info " + json.dumps(res["info"]))
    metrics = {}
    for d in declared_metrics(a.trace):
        m = measured.get(d["name"])
        if m is None or m["unit"] != d["unit"]:
            fail("metric %s missing or with another unit than %s" % (d["name"], d["unit"]))
        metrics[d["name"]] = {"value": m["value"], "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
