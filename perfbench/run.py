#!/usr/bin/env python3
"""Runs one workload of the engine's benchmark and prints its metrics.

    python3 perfbench/run.py --workload crawl-rollup --seed 0 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the engine's sources
together with the benchmark's (sbt, offline) into .bench_build/; later runs
reuse that build while no source changed. Each run starts one JVM with at
most `nproc` Spark task threads, writes everything it makes under
.bench_build/work/, and prints, as its last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. See perfbench/README.md.
"""
import argparse
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
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(BUILD, "work")
WORKLOADS = ("crawl-rollup", "driver-queries")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (the engine's build.sbt
# passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala)")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest.hexdigest():
            return saved["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    t0 = time.time()
    proc = subprocess.run([sbt, "-batch", "compile", "export Runtime/fullClasspath"], cwd=HERE,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=BUILD_LIMIT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if not cp:
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest.hexdigest(), "classpath": cp[-1]}, fh)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def other_jvms():
    """Java processes already running (a stray forked JVM steals cores)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and os.path.basename(argv[0].decode(errors="replace")) == "java":
            found.append(int(pid))
    return found


def fs_type(path):
    """Filesystem type of the mount holding `path`."""
    best, kind = "", "unknown"
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                if len(parts) >= 3 and path.startswith(parts[1]) and len(parts[1]) > len(best):
                    best, kind = parts[1], parts[2]
    except OSError:
        pass
    return kind


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--urls", type=int, help="crawl window size in urls (default: the workload's)")
    ap.add_argument("--record", action="store_true",
                    help="print the outputs to record in expected.tsv instead of checking them")
    args = ap.parse_args()
    # a terminated run still stops its build or JVM (see the except clauses)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else shutil.which("java")
    if not java:
        fail("java not found")

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    info = {
        "nproc": os.cpu_count(),
        "loadavg_1m": os.getloadavg()[0],
        "other_jvms": len(other_jvms()),
        "work_fs": fs_type(work),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }
    print("perfbench-run " + json.dumps(info), flush=True)

    cmd = [java, *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work,
           "--expected", os.path.join(HERE, "expected.tsv")]
    if args.urls:
        cmd += ["--urls", str(args.urls)]
    if args.record:
        cmd += ["--record", "1"]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S if not args.record else None)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s", 3)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not re.match(r'^\{"correct"', lines[-1]):
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}", 4)
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
