#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload live_dashboard --seed 1 --seconds 10 --trace 0

Builds the program from src/main/scala (and the benchmark from
perfbench/src) with the Scala compiler that ships with Spark, caching the
classes under .bench_build/, then runs the workload in a fresh JVM inside
a scratch directory under .bench_build/runs/. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}. Exits non-zero,
without a result, when the program sources are missing or the run fails.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")

def spark_home():
    """$SPARK_HOME, else the first `spark-submit` on the PATH whose
    installation ships the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
WORKLOADS = ("live_dashboard", "analytics_read")
RUN_TIMEOUT_S = 170
# What spark-submit passes a JDK 17 driver (JavaModuleOptions).
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


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compiled(name, files, classpath):
    """Classes of `files`, compiled once per distinct source set."""
    out = os.path.join(BUILD, f"{name}-{digest(files, ':'.join(classpath))}")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(out):
            tmp = out + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            with open(os.path.join(BUILD, "build.log"), "w") as log:
                cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", SPARK_JARS + "/*",
                       "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                       "-classpath", ":".join(classpath + [SPARK_JARS + "/*"])] + files
                if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
                    die(f"compile failed, see {log.name}")
            os.rename(tmp, out)
    return out


def build():
    """Classpath entries of the program and the benchmark."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        die("no program sources under src/main/scala: nothing to benchmark")
    if not os.path.isdir(SPARK_JARS):
        die(f"no Spark jars at {SPARK_JARS}")
    os.makedirs(BUILD, exist_ok=True)
    prog = compiled("program", program, [])
    bench = compiled("bench", sorted(glob.glob(os.path.join(BENCH, "src/*.scala"))), [prog])
    return [bench, prog]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: steal is time the host gave away."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--pin", action="store_true",
                    help="rewrite perfbench/pins.tsv from the current program")
    a = ap.parse_args()
    if a.pin:
        a.workload = "pin"
    elif a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    classes = build()

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classes + [SPARK_JARS + "/*"]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--out", os.path.join(BENCH, "pins.tsv") if a.pin else result, "--bench", BENCH]
    load_before = os.getloadavg()[0]
    steal_before = cpu_ticks()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s, see {log_path}")
    load_after = os.getloadavg()[0]
    steal_after = cpu_ticks()
    steal_share = (steal_after[0] - steal_before[0]) / max(1, steal_after[1] - steal_before[1])
    if a.pin:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    if code != 0 or not os.path.exists(result):
        die(f"benchmark JVM exited {code}, see {log_path}")
    with open(result) as fh:
        res = json.load(fh)
    # the printed metrics are exactly the ones BENCHMARK.json declares
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
    printed = {n: m["unit"] for n, m in res["metrics"].items()}
    if printed != declared:
        die(f"metrics differ from BENCHMARK.json: {sorted(set(printed.items()) ^ set(declared.items()))}")
    if a.trace == "1" and os.path.exists(os.path.join(work, "spans.jsonl")):
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    # the 1-minute load average around the run, the share of CPU time
    # the host gave to others during it, and how long the JVM and Spark
    # took to start (the same work every run) show a contended run
    note = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "loadavg_before": load_before, "loadavg_after": load_after,
            "cpu_steal_share": round(steal_share, 4), "session_s": res.get("session_s"),
            "steal_share_timed": res.get("steal_share"),
            "end_to_end": res.get("end_to_end"), "failures": res.get("failures", [])}
    with open(os.path.join(BUILD, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(note) + "\n")
    print(json.dumps(note), file=sys.stderr)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
