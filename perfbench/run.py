#!/usr/bin/env python3
"""CDC path benchmark launcher.

Builds the engine (src/main/scala) and the benchmark harness (perfbench/src)
from source with the Scala compiler that ships in the Spark distribution,
then runs one workload in a fresh JVM and prints its result object as the
last line of stdout:

    python3 perfbench/run.py --workload snapshot_bulk --seed 1 --seconds 10 --trace 0

Build outputs, a class-data-sharing archive and run scratch space live under
.bench_build/perfbench in the checkout. Each result is stamped (cpus, heap,
commit, JVM, seed, load average before and after) on the line before it and
in .bench_build/perfbench/runs.jsonl; a run that started or ended on a busy
machine is flagged "contended" there.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return os.path.join(home, "jars") if home else None


SPARK_JARS = spark_jars()
WORKLOADS = ("snapshot_bulk", "binlog_tail", "replica_apply")
HEAP = "2g"
RUN_TIMEOUT_S = 170
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


def sources():
    if not SPARK_JARS or not os.path.isdir(SPARK_JARS):
        fail("no Spark distribution found: set SPARK_HOME")
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the root of a checkout")
    bench = sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src", "main", "resources", "**"),
                                            recursive=True) if os.path.isfile(p))
    return main + bench, resources


def jvm_opts():
    opts = [f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}"]
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def build():
    """Compiles once per source tree; returns (jar, class-data archive or None)."""
    srcs, resources = sources()
    compiler = [os.path.join(SPARK_JARS, f"scala-{m}-2.13.17.jar")
                for m in ("compiler", "library", "reflect")]
    for j in compiler:
        if not os.path.isfile(j):
            fail(f"Scala compiler jar not found: {j}")
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    tag = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"build-{tag}")
    jar = os.path.join(out, "perfbench.jar")
    jsa = os.path.join(out, "classes.jsa")
    if not os.path.isfile(os.path.join(out, "ok")):
        shutil.rmtree(BUILD, ignore_errors=True)
        classes = os.path.join(out, "classes")
        os.makedirs(classes)
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
        t0 = time.time()
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                            "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                            "-classpath", os.path.join(SPARK_JARS, "*"), "@" + argfile])
        if r.returncode != 0:
            fail("compilation failed", 3)
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
            for base in (classes, os.path.join(ROOT, "src", "main", "resources")):
                for d, _, files in os.walk(base):
                    for name in files:
                        p = os.path.join(d, name)
                        z.write(p, os.path.relpath(p, base))
        shutil.rmtree(classes)
        print(f"perfbench: compiled in {time.time() - t0:.0f} s; recording class archive",
              file=sys.stderr)
        # one short run whose loaded classes seed the archive every later
        # JVM maps at start-up (class loading is most of a cold start)
        r = subprocess.run(["java"] + jvm_opts() + [f"-XX:ArchiveClassesAtExit={jsa}",
                            "-cp", classpath(jar), "graft.perfbench.Main",
                            "--workload", "snapshot_bulk", "--seed", "0", "--seconds", "1",
                            "--trace", "0", "--work", os.path.join(BUILD, "train")],
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           timeout=600)
        shutil.rmtree(os.path.join(BUILD, "train"), ignore_errors=True)
        if r.returncode != 0 and os.path.exists(jsa):
            os.remove(jsa)
        with open(os.path.join(out, "ok"), "w") as f:
            f.write(tag + "\n")
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    return jar, (jsa if os.path.isfile(jsa) else None), tag


def classpath(jar):
    return os.pathsep.join([jar, os.path.join(SPARK_JARS, "*")])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times():
    """(steal, total) jiffies over all cpus: steal is time the host gave away."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def commit(tag):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "source-" + tag


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    jar, jsa, tag = build()
    cpus = os.cpu_count() or 1
    cmd = ["java"] + jvm_opts()
    if jsa:
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    cmd += ["-cp", classpath(jar), "graft.perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", os.path.join(BUILD, "work"), "--cpus", str(cpus)]
    load0 = loadavg()
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 5)
    load1 = loadavg()
    cpu1 = cpu_times()
    steal_pct = 100.0 * (cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        for l in lines:
            print(l)
        fail(f"benchmark exited with code {proc.returncode}", proc.returncode or 1)
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail("benchmark printed no result line", 1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result.get("metrics", {})) != sorted(want):
        fail("result metrics do not match BENCHMARK.json", 1)
    jvm = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    stamp = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
             "cpus": cpus, "heap": HEAP, "commit": commit(tag),
             "jvm": jvm.splitlines()[0] if jvm else "unknown",
             "loadavg_before": load0, "loadavg_after": load1,
             "steal_pct": round(steal_pct, 2),
             "contended": load0 > cpus or steal_pct > 5.0, "cds": bool(jsa),
             "correct": result.get("correct")}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as f:
        f.write(json.dumps(stamp) + "\n")
    for l in lines[:-1]:
        print(l)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
