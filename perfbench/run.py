#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Run from the repository root. The first run in a checkout compiles the
engine (src/main/scala) and the benchmark harness (perfbench/scala) with the
Scala compiler that ships in the Spark jars, into .bench_build/classes; later
runs reuse the classes while the sources are unchanged. Each run starts one
JVM on local[N] (N = cores), which writes only under .bench_build/work and
is removed when it ends.

The last line of standard output is one JSON object:
{"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}
with the end-to-end metrics of BENCHMARK.json for --trace 0 and the
per-layer metrics for --trace 1. The line before it holds the provenance of
the run. The full record (every pass, check and span) is kept in
.bench_build/results/. The exit code is 0 only when every result is correct.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")

WORKLOADS = ["medallion_daily", "lsh_dedup", "txlog_dml"]
USERS = {False: 3000, True: 2000}          # medallion_daily raw scale
DATA = {False: "bench", True: "smoke"}      # gate-query input tables
HEAP = "3g"
RUN_TIMEOUT_S = 165    # one run must end within 180 s, build excluded
BUILD_TIMEOUT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not java or not os.path.exists(java):
        raise BenchError("no java found (set JAVA_HOME or put java on PATH)")
    return java


def spark_jars():
    """$SPARK_HOME/jars, else the directory build.sbt names as unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BenchError("no SPARK_HOME and no unmanagedBase in build.sbt")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    harness = sorted(glob.glob(os.path.join(BENCH, "scala/**/*.scala"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                            recursive=True) if os.path.isfile(p))
    return engine + harness, resources


def source_key(files):
    h = hashlib.sha1()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha1(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness unless the classes match the sources."""
    scala, resources = sources()
    key = source_key(scala + resources)
    stamp = os.path.join(CLASSES, ".source-key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return key
    log(f"compiling {len(scala)} Scala files into {os.path.relpath(CLASSES, ROOT)}")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(scala) + "\n")
    jars = spark_jars()
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp"), "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    t0 = time.time()
    rc, out = run_child(cmd, BUILD, BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(out[-4000:])
        raise BenchError(f"compilation failed (exit {rc})")
    res_root = os.path.join(ROOT, "src/main/resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, ".source-key"), "w") as f:
        f.write(key)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    log(f"compiled in {time.time() - t0:.1f} s")
    return key


_child = None


def run_child(cmd, cwd, timeout, log_path=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    global _child
    out = open(log_path, "w+") if log_path else subprocess.PIPE
    proc = _child = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL, start_new_session=True, text=True)
    try:
        text, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    finally:
        _child = None
        if log_path:
            out.close()
    return proc.returncode, text or ""


def terminate(*_):
    """SIGTERM/SIGINT: kill the running child's group, wait for it, exit."""
    child = _child
    if child is not None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
            os.waitpid(child.pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    os._exit(143)


def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_one(workload, seed, seconds, trace, smoke, key):
    work = os.path.join(BUILD, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [java_bin(), *opens, "-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
           "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           # C1 only: a fresh JVM reaches a steady speed after one warm-up
           # pass; with C2 the compile threads compete with the tasks for
           # ~7 passes and every pass lands on a moving curve
           "-XX:TieredStopAtLevel=1",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-cp", os.pathsep.join([CLASSES, spark_jars()]), "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "1" if trace else "0", "--work", work, "--result", result_path,
           "--users", str(USERS[smoke]),
           "--data", os.path.join(BENCH, "data", DATA[smoke]),
           "--digests", os.path.join(BENCH, "digests", DATA[smoke] + ".tsv")]
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    try:
        rc, _ = run_child(cmd, work, RUN_TIMEOUT_S, log_path)
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            raise BenchError(f"{workload}: JVM exited with {rc} and no result")
        with open(result_path) as f:
            result = json.load(f)
    except subprocess.TimeoutExpired:
        raise BenchError(f"{workload}: run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    end_to_end, per_layer = declared_metrics()
    want = per_layer if trace else end_to_end
    got = result["metrics"]
    bad = sorted(n for n, u in want.items() if n not in got or got[n]["unit"] != u)
    if bad or set(got) - set(want):
        raise BenchError(f"{workload}: metrics differ from BENCHMARK.json: "
                         f"{bad or sorted(set(got) - set(want))}")
    result["provenance"].update({
        "git_commit": git_commit(), "source_key": key, "seed": seed, "smoke": smoke,
        "run_s": round(time.time() - t0, 3), "python": platform.python_version(),
        "platform": platform.platform(), "nproc_os": os.cpu_count(),
    })
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{workload}-seed{seed}-trace{int(trace)}{'-smoke' if smoke else ''}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump(result, f, indent=1)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (sf0.001 tables, 2000 users) for the harness test")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, terminate)
    signal.signal(signal.SIGINT, terminate)
    try:
        key = build()
        names = WORKLOADS if a.workload == "all" else [a.workload]
        results = [run_one(w, a.seed, a.seconds, a.trace == 1, a.smoke, key) for w in names]
    except BenchError as e:
        log(f"error: {e}")
        return 2
    for r in results:
        print(json.dumps({"workload": r["workload"], "provenance": r["provenance"],
                          "set_up": r["set_up"], "op_samples": r["op_samples"]}))
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in r["metrics"].items()}
    line = {"correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": metrics}
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
