#!/usr/bin/env python3
"""Runs the graft engine's benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload school_scale --seed 1 --seconds 10 --trace 0

Builds the program from `src/main/scala` and the benchmark from
`perfbench/scala` with the Scala compiler that ships in the Spark jars
($SPARK_HOME/jars, else the `unmanagedBase` that build.sbt names; no sbt), then runs one workload in a fresh JVM under `local[nproc]` and
prints its result as the last line of standard output. `--trace 1` runs
the traced variant and prints the per-layer metrics instead.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")
WORKLOADS = ("school_scale", "crawl_index")
# a run must end within 180 s
TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions).
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
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            jars = ""
    if not os.path.isdir(jars):
        fail("Spark jars not found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(name, srcs, classpath, stamp):
    """Compiles `srcs` into .build/<name> unless its stamp is current."""
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", out, "-classpath", classpath, "-nowarn",
                           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))]
                          + srcs) + "\n")
    t0 = time.time()
    jars = spark_jars()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compiling %s failed" % name, 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("perfbench: compiled %s (%d files) in %.1f s" % (name, len(srcs), time.time() - t0),
          file=sys.stderr)
    return out


def build():
    if not os.path.isdir(MAIN_SRC):
        fail("no program sources at src/main/scala; run from the root of a checkout")
    jars = os.path.join(spark_jars(), "*")
    main_srcs = sources(MAIN_SRC)
    main_stamp = digest(main_srcs)
    main_out = compile_scala("main", main_srcs, jars, main_stamp)
    bench_srcs = sources(BENCH_SRC)
    bench_out = compile_scala("bench", bench_srcs, main_out + os.pathsep + jars,
                              digest(bench_srcs, main_stamp))
    return [bench_out, main_out, jars]


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            return next(int(l.split()[1]) // 1024 for l in f if l.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return -1


def heap():
    """MemTotal/2 clamped to 2..8 GiB (the repository's Tier-1 rule)."""
    return "%dg" % max(2, min(8, mem_total_mb() // 2048))


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return ticks[7], sum(ticks)
    except (OSError, ValueError, IndexError):
        return 0, 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath = build()
    load_start = loadavg()
    ticks_start = cpu_ticks()
    run_id = "%s-%d-%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(WORK, run_id)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the young generation is pinned so the peak RSS does not depend on how
    # far G1's adaptive sizing happens to grow it in a given JVM
    flags = ["-Xmx" + heap(), "-Xms" + heap(), "-Xmn1g", "-Xss8m",
             "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
             "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
             "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse")]
    flags += [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java"] + flags + ["-cp", os.pathsep.join(classpath), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--spans", os.path.join(WORK, "spans", run_id + ".jsonl"),
            "--launch-ms", str(int(time.time() * 1000))])
    # Spark's scratch space stays inside the checkout
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8",
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    log_path = os.path.join(WORK, run_id + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = None
    shutil.rmtree(work, ignore_errors=True)
    lines = (out or "").strip().splitlines()
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("run failed (exit %s); log: %s" % (proc.returncode, log_path), 1)
    for line in lines[:-1]:
        print(line)
    # the share of CPU time the hypervisor gave to other guests during the run
    steal = [b - a for a, b in zip(ticks_start, cpu_ticks())]
    print(json.dumps({"box": {
        "nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_total_mb(), "heap": heap(),
        "jvm_flags": flags[:4], "loadavg_start": load_start, "loadavg_end": loadavg(),
        "cpu_steal_share": round(steal[0] / steal[1], 4) if steal[1] else None}}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
