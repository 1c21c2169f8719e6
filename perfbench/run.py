#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload extract-uniform --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

It compiles the program (src/main/scala) together with the benchmark's own
Scala sources with the Scala compiler shipped in the Spark jar directory the
build names, then runs perfbench.Main on local[nproc] with a heap sized from
MemTotal. Everything it writes stays under the build directory
($CARGO_TARGET_DIR, default .bench_build). It prints each metric by name and
unit, writes a full record (host, versions, seed, failures, spans) under
<build>/records/, and prints the result as the last stdout line. Exit code 0
means every operation's output checked correct.
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

WORKLOADS = ("extract-uniform", "curate")
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# a copy of the project's sf0.001 test tables (TESTDATA.md), which the
# traced run's query suite reads
QUERY_TABLES = os.path.join(BENCH_DIR, "data", "sf0.001")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory build.sbt mounts as unmanagedBase, else $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in ([m.group(1)] if m else []) + [os.path.join(os.environ.get("SPARK_HOME", ""), "jars")]:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    die("no Spark jar directory with a Scala compiler found")


def sources(root):
    files = glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
    files += glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"), recursive=True)
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, log, timeout):
    """Run cmd in its own process group; kill the whole group on timeout or
    interrupt, and always wait for it."""
    # SPARK_LOCAL_DIRS would override spark.local.dir and move Spark's
    # scratch files out of the build directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
                         env=env)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return f"timed out after {timeout} s"
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(root, build_dir, jars):
    files = sources(root)
    digest = source_digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(build_dir, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        rc = run_group(["java", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp] + files, log, BUILD_TIMEOUT_S)
    if rc != 0:
        die(f"compile failed: {rc} (see {build_dir}/build.log)")
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: compiled {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, digest


def host():
    with open("/proc/meminfo") as f:
        mem_kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    nproc = len(os.sched_getaffinity(0))
    # a quarter of RAM, within [2, 6] GiB: one JVM at a time on a shared host
    heap_mb = max(2048, min(6144, mem_kb // 4096))
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024, "heap_mb": heap_mb}


def git_commit(root):
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def jvm(classes, jars, h, work, main, args, log, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{h['heap_mb']}m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), main] + args
    return run_group(cmd, log, timeout)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src/main/scala")):
        die("run from the root of a graft checkout (build.sbt and src/main/scala not found)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes, digest = build(root, build_dir, jars)
    h = host()

    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(build_dir, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(build_dir, f"{name}.log")
    try:
        with open(log_path, "w") as log:
            if a.selftest:
                rc = jvm(classes, jars, h, work, "perfbench.SelfTest", [work], log, RUN_TIMEOUT_S)
                print(open(log_path).read() if rc else "perfbench: self-test passed")
                sys.exit(rc)
            out = os.path.join(work, "result.json")
            rc = jvm(classes, jars, h, work, "perfbench.Main",
                     [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, out,
                      str(h["nproc"]), QUERY_TABLES], log, RUN_TIMEOUT_S)
            if rc != 0 or not os.path.exists(out):
                die(f"benchmark JVM exited with {rc} (see {log_path})")
            with open(out) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record = dict(workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                  host=h, java=res.pop("java"), spark=res.pop("spark"),
                  git_commit=git_commit(root), source_sha256=digest, **res)
    os.makedirs(os.path.join(build_dir, "records"), exist_ok=True)
    with open(os.path.join(build_dir, "records", f"{name}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(f"host nproc={h['nproc']} mem_total_mb={h['mem_total_mb']} heap_mb={h['heap_mb']} "
          f"java={record['java']} spark={record['spark']} commit={record['git_commit']} "
          f"workload={a.workload} seed={a.seed} trace={a.trace}")
    for fl in res["failures"]:
        print(f"FAILED {fl['op']}: {fl['reason']}")
    for k, v in res["metrics"].items():
        value = "null" if v["value"] is None else f"{v['value']:.6g}"
        print(f"{k:40s} {value:>16s} {v['unit']}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
