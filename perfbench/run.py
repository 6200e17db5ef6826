#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload vcf-annotate --seed 1 --seconds 8 --trace 0

Run from the root of a graft checkout. The first run compiles graft's sources
together with the benchmark driver (perfbench/build.sbt, via sbt); later runs
reuse the build while the sources are unchanged. Inputs are generated from
--seed (perfbench/gen.py) and cached by (workload, seed). The run starts one
JVM sized to this host, measures --seconds of closed-loop operations, checks
every output against the generator's expected results and prints, as its
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything it writes stays under perfbench/target/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "target")
CLASSES = os.path.join(OUT, "scala-2.13", "classes")
STAMP = os.path.join(OUT, "build.stamp")
WORKLOADS = ["vcf-annotate", "interval-join", "corpus-dedup"]
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
RUN_LIMIT_S = 165  # a run must end within 180 s


def wait_or_kill(p, timeout):
    """Waits for `p`; kills it if the wait ends any other way."""
    try:
        return p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def fail(msg, code):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build compiles."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH", 3)
    log = os.path.join(OUT, "build.log")
    os.makedirs(OUT, exist_ok=True)
    # resolve only from local caches: a build must never reach the network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    with open(log, "w") as f:
        p = subprocess.Popen(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "Compile/copyResources"], cwd=HERE, env=env, stdout=f,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            code = wait_or_kill(p, 600)
        except subprocess.TimeoutExpired:
            fail("build timed out; see " + log, 3)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed; see " + log, 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a sixth of the host's memory, between 1 and 8 GiB
    heap_mb = max(1024, min(8192, mem_kb // 1024 // 6))
    return cores, mem_kb, heap_mb


def steal_ticks():
    """Host steal of all CPUs so far, in /proc/stat ticks (1/100 s)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def run_jvm(args, data, work, cores, heap_mb, deadline):
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4 install", 3)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java] + [x for p in JDK_OPENS
                    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # a fixed heap keeps the collector's sizing the same from run to run;
    # no perf-data file, so nothing is written outside the checkout
    cmd += ["-Xms%dm" % heap_mb, "-Xmx%dm" % heap_mb, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home, "jars", "*")]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        launch = time.time()
        p = subprocess.Popen(
            cmd + ["-Dgraftbench.launch=%.6f" % launch,
                   "-Dgraftbench.launchSteal=%d" % steal_ticks(), "graftbench.Main",
                   "--workload", args.workload, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace),
                   "--cores", str(cores), "--data", data, "--work", work,
                   "--out", out],
            cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
        try:
            code = wait_or_kill(p, max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("run exceeded its time limit; see " + log, 4)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log).read()[-4000:])
        fail("benchmark JVM failed (exit %d); see %s" % (code, log), 4)
    return json.load(open(out))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops the build or JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under %s/src/main/scala/graft" % ROOT, 2)

    build()
    deadline = time.time() + RUN_LIMIT_S

    sys.path.insert(0, HERE)
    sys.dont_write_bytecode = True
    import gen
    # a changed generator never reuses inputs cached by an older one
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(OUT, "bench", "data", "%s-%d-%s" % (
        args.workload, args.seed, gen_id))
    gen.generate(args.workload, args.seed, data)
    work = os.path.join(OUT, "bench", "work", "%s-%d-t%d" % (
        args.workload, args.seed, args.trace))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    cores, mem_kb, heap_mb = host()
    res = run_jvm(args, data, work, cores, heap_mb, deadline)

    rec = res["receipts"]
    print("workload=%s seed=%d trace=%d nproc=%d MemTotal=%dkB heap=%dm" % (
        args.workload, args.seed, args.trace, cores, mem_kb, heap_mb))
    print("jvm flags: " + rec.pop("jvm_flags"))
    for k, v in rec.items():
        print("receipt %s: %s" % (k, json.dumps(v)))
    for k, v in res["metrics"].items():
        print("%-34s %14.6g %s" % (k, v["value"], v["unit"]))
    attempted, failed = res["attempted"], res["failed"]
    print("fail_ratio %.6g (%d of %d operations)" % (
        failed / max(attempted, 1), failed, attempted))
    for n in res["notes"]:
        print("check failed: " + n)
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
