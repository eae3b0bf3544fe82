#!/usr/bin/env python3
"""Benchmark of the graft logfile engine: one command, three workloads.

    python3 perfbench/run.py --workload ingest|queries|tables|all \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It compiles the program from
`src/main/scala` together with the harness in `perfbench/scala` (scalac
from the Spark distribution named by SPARK_HOME), caches the classes under
the build directory (CARGO_TARGET_DIR, default `.bench_build`), generates
the seeded inputs, runs the workload in its own JVM with local[N], N = the
usable cores, checks every output, and prints one JSON object as its last
line. See perfbench/README.md for the workloads and metrics.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("ingest", "queries", "tables")
RUN_TIMEOUT_S = 150         # wall limit for the workload JVM
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home, "jars") if home else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark distribution with a Scala compiler found (set SPARK_HOME)")
    return jars


def build(jars):
    """Compile program + harness once per source state; return the classes dir."""
    main = os.path.join(ROOT, "src", "main")
    srcs = sorted(glob.glob(os.path.join(main, "scala", "**", "*.scala"), recursive=True))
    if not srcs:
        raise BenchError("program sources not found under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    res_root = os.path.join(main, "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + stamp)
    if os.path.exists(os.path.join(out, ".complete")):
        return out, stamp
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(sorted(glob.glob(os.path.join(jars, "scala-*.jar"))))
    t0 = time.time()
    proc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-Djava.io.tmpdir=" + tmp,
         "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
         "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise BenchError("compilation failed")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    print(f"# build {time.time() - t0:.1f} s -> {os.path.relpath(out, ROOT)}", flush=True)
    return out, stamp


def run_jvm(classes, jars, run_root, args, timeout):
    """One harness JVM; returns its result JSON (dict)."""
    out = os.path.join(run_root, f"result-{time.time_ns()}.json")
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            "-Djava.io.tmpdir=" + os.path.join(run_root, "tmp"),
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main"] +
           args + ["--out", out, "--launch-ns", str(time.time_ns())])
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout, cwd=run_root)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(proc.stderr[-6000:])
        raise BenchError(f"harness JVM exited with {proc.returncode}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    return res


def count_files(path):
    return sum(len(fs) for _, _, fs in os.walk(path))


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_workload(workload, seed, seconds, trace, classes, jars, stamp, spec):
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    run_root = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    for d in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_root, d))
    trace_dir = os.path.join(BUILD, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    trace_out = os.path.join(trace_dir, f"{workload}-seed{seed}.json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(cores), "--bench", HERE,
            "--data", os.path.join(HERE, "data", "sf0.1"),
            "--corpus", os.path.join(BUILD, "corpus"),
            "--work", os.path.join(run_root, "work"),
            "--spark-local", os.path.join(run_root, "spark-local"),
            "--trace-out", trace_out]
    t0 = time.time()
    try:
        res = run_jvm(classes, jars, run_root, args, RUN_TIMEOUT_S)
        leftover = count_files(run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    if os.path.exists(run_root):
        raise BenchError(f"could not delete the scratch root {run_root}")
    failures = list(res["failures"])
    if leftover:
        res["failed"] += 1
        failures.append(f"{leftover} file(s) left in the scratch root after the run")
    e2e = res["e2e"]
    attempted, failed = res["attempted"], res["failed"]
    e2e["failed_ops_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    host = {"nproc": os.cpu_count(), "cores_used": cores,
            "load_1m_start": load_start, "load_1m_end": os.getloadavg()[0],
            "jdk": res["info"].get("java_version"), "spark": res["info"].get("spark_version"),
            "git_commit": git_commit(), "source_stamp": stamp}

    print(f"== {workload} seed={seed} seconds={seconds} trace={trace} "
          f"wall={time.time() - t0:.1f}s")
    info = res["info"]
    print("# host " + json.dumps(host))
    print("# info " + json.dumps(info))
    for name, m in e2e.items():
        extra = ""
        if name == "failed_ops_frac":
            extra = f" (attempted {attempted}, failed {failed})"
        elif name.endswith("_p90_s"):
            n = info.get(name.replace("_p90_s", "_samples"))
            extra = f" ({n} samples)" if n else ""
        print(f"{workload}.{name} = {m['value']:.6g} {m['unit']}{extra}")
    for f in failures:
        print(f"FAILED: {f}")
    if trace:
        print(f"# span file: {os.path.relpath(trace_out, ROOT)}")
        with open(trace_out) as f:
            tr = json.load(f)
        print("# layer self time (s):")
        for row in tr["layers_self_time"]:
            print(f"#   {row['layer']:<10} spans={row['spans']:<6} total={row['total_s']:.3f} "
                  f"self={row['self_s']:.3f}")
        for name, m in res["layers"].items():
            print(f"{workload}.{name} = {m['value']:.6g} {m['unit']}")
        if "trace.overhead_frac" in res["layers"]:
            print(f"# tracing overhead vs the untraced rounds: "
                  f"{100 * res['layers']['trace.overhead_frac']['value']:+.1f}%")
        old = sorted(glob.glob(os.path.join(trace_dir, "*.json")), key=os.path.getmtime)
        for p in old[:-12]:
            os.remove(p)

    declared = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    source = res["layers"] if trace else e2e
    missing = [n for n in declared if n not in source]
    if missing:
        failed += 1
        print(f"FAILED: metrics not measured: {', '.join(missing)}")
    metrics = {n: source[n] for n in declared if n in source}
    return {"correct": failed == 0 and not failures, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        jars = spark_jars()
        os.makedirs(BUILD, exist_ok=True)
        classes, stamp = build(jars)
        if a.workload != "all":
            result = run_workload(a.workload, a.seed, a.seconds, a.trace, classes, jars,
                                  stamp, spec)
        else:
            parts = {w: run_workload(w, a.seed, a.seconds, a.trace, classes, jars, stamp, spec)
                     for w in WORKLOADS}
            result = {"correct": all(p["correct"] for p in parts.values()),
                      "attempted": sum(p["attempted"] for p in parts.values()),
                      "failed": sum(p["failed"] for p in parts.values()),
                      "metrics": {f"{w}.{n}": m for w, p in parts.items()
                                  for n, m in p["metrics"].items()}}
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
