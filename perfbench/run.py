#!/usr/bin/env python3
"""Benchmark runner for bloopspark.

    python3 perfbench/run.py --workload build|query|pipeline|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program from
source (sbt, in perfbench/) into .bench_build/ and caches the classpath
keyed by a hash of the sources; every run then starts one JVM
(graft.perfbench.Main) at local[min(4, nproc)]. The last stdout line is the
JSON result. `--workload all` runs every workload in turn and prints each
one's metrics with their units; its JSON names each metric <workload>.<name>.
`--record-digests` (pipeline) rewrites perfbench/pipeline-digests.txt from
the current program's outputs; use it only when a change is meant to alter
pipeline results.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.relpath(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = ".bench_build"
WORKLOADS = ["build", "query", "pipeline"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

JAVA_OPTS = [
    "-Xmx" + HEAP, "-XX:+UseParallelGC",
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [opt for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for opt in ("--add-opens", pkg + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join("src", "main", "scala"),
             os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(BENCH_DIR, "build.sbt")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".properties"))]
    return sorted(files)


def stamp():
    h = hashlib.sha1()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None


def build():
    """Compiles program + benchmark once per source hash; returns classpath."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("no program sources (src/main/scala) in " + os.getcwd())
    cp_file = os.path.join(BUILD_DIR, "sbt-target", "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as cf:
                    return cf.read().strip()
    for f in os.listdir(BUILD_DIR) if os.path.isdir(BUILD_DIR) else []:
        if f.endswith(".jsa"):  # an archive is valid for one classpath only
            os.remove(os.path.join(BUILD_DIR, f))
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH_DIR, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if code != 0 or not os.path.exists(cp_file):
        sys.stderr.write(out or "")
        fail("build failed" if code is not None else "build timed out")
    with open(stamp_file, "w") as fh:
        fh.write(want)
    with open(cp_file) as cf:
        return cf.read().strip()


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return min(4, n)


def declared_metrics(trace):
    path = "BENCHMARK.json"
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_one(classpath, workload, seed, seconds, trace, record=False):
    work = os.path.abspath(os.path.join(BUILD_DIR, "work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath,
           "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work,
           "--bench-dir", BENCH_DIR, "--cpus", str(cpus()),
           "--record-digests", "1" if record else "0"])
    # class-data-sharing archive of the loaded classes: written by the first
    # run of each workload in a checkout, mapped by its later runs (faster
    # JVM start-up); one per workload, so what an archive holds, and the
    # memory it maps, does not depend on which workload ran first
    jsa = os.path.abspath(os.path.join(BUILD_DIR, workload + ".jsa"))
    cds = ("-XX:SharedArchiveFile=" if os.path.exists(jsa)
           else "-XX:ArchiveClassesAtExit=") + jsa
    cmd.insert(1, cds)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, env=env)
    if code is None:
        fail("%s run exceeded %ds" % (workload, RUN_TIMEOUT_S))
    lines = out.rstrip("\n").split("\n")
    if code != 0 or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail("%s run failed (exit %s)" % (workload, code))
    result = json.loads(lines[-1])
    want = declared_metrics(trace)
    if want is not None and set(result["metrics"]) != want:
        fail("metrics %s differ from BENCHMARK.json" %
             sorted(set(result["metrics"]) ^ want))
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(BENCH_DIR, "build.sbt")):
        fail("run from the checkout root")
    t0 = time.time()
    classpath = build()
    print("perfbench: build ready in %.1fs" % (time.time() - t0),
          file=sys.stderr)
    if a.workload != "all":
        text, result = run_one(classpath, a.workload, a.seed, a.seconds,
                               a.trace, a.record_digests)
        print("\n".join(text))
        print(json.dumps(result))
        return
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        text, result = run_one(classpath, w, a.seed, a.seconds, a.trace)
        print("\n".join(line for line in text if not line.startswith("{")))
        merged["correct"] &= result["correct"]
        merged["attempted"] += result["attempted"]
        merged["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            merged["metrics"]["%s.%s" % (w, k)] = v
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
