#!/usr/bin/env python3
"""Benchmark runner for the bio2belspark library.

    python3 perfbench/run.py --workload ingest|lookup|graph --seed N \
        --seconds S --trace 0|1 [--sf F] [--setups N]
    python3 perfbench/run.py --all [--seed N] [--seconds S]

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
runtime classpath; later runs start the JVM directly. Each run prints the
benchmark's own report lines, then, as the last line of standard output,
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end metrics; with
--trace 1 its per_layer metrics, and the run also writes its spans as
JSONL under .perfbench_work/ (kept only with --keep-work).

--all runs every workload untraced and traced and prints the end-to-end
figures by name with units, plus the tracing overhead.
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
WORKLOADS = ("ingest", "lookup", "graph")
RUN_LIMIT_S = 170
# Same module-opening flags as the library's build (Spark 4 on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath for this tree is cached."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building library and benchmark with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"], cwd=HERE, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        sys.exit(f"build failed (sbt exit {r.returncode})")
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_workload(cp, workload, seed, seconds, trace, sf=None, setups=None,
                 keep=False, echo=True):
    """Run one workload in its own JVM; returns the parsed RESULT object."""
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work]
    if sf is not None:
        cmd += ["--sf", str(sf)]
    if setups is not None:
        cmd += ["--setups", str(setups)]
    result = None
    # Spark's local directories stay inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, env=env,
                            text=True, start_new_session=True)
    deadline = time.time() + RUN_LIMIT_S
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            elif echo:
                print(line, end="", flush=True)
            if time.time() > deadline:
                raise TimeoutError
        proc.wait(timeout=max(1, deadline - time.time()))
    except (TimeoutError, subprocess.TimeoutExpired):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"{workload}: run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        sys.exit(f"{workload}: benchmark JVM failed (exit {proc.returncode})")
    return result


def contract_line(result, spec, workload, trace):
    """The last-line JSON: BENCHMARK.json's metrics, every one present for
    the workloads it lists (graph, unlisted, lacks the `core` layer)."""
    group, names = ("layers", spec["per_layer"]) if trace else \
        ("e2e", spec["end_to_end"])
    listed = {w["name"] for w in spec["workloads"]}
    metrics = {}
    for m in names:
        got = result[group].get(m["name"])
        if got is None:
            if workload in listed:
                sys.exit(f"metric {m['name']} missing from the run's figures")
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": bool(result["correct"]) and result["failed"] == 0,
            "attempted": int(result["attempted"]),
            "failed": int(result["failed"]), "metrics": metrics}


def run_all(cp, seed, seconds):
    """Every workload untraced and traced: end-to-end figures by name and
    unit, error rate, and the tracing overhead on op_p50_ms."""
    rows = []
    for w in WORKLOADS:
        plain = run_workload(cp, w, seed, seconds, False, echo=False)
        traced = run_workload(cp, w, seed, seconds, True, echo=False)
        figures = dict(plain["e2e"], **plain["own"])
        figures["error_rate"] = {
            "value": plain["failed"] / max(1, plain["attempted"]),
            "unit": "ratio"}
        a = plain["e2e"]["op_p50_ms"]["value"]
        b = traced["e2e"]["op_p50_ms"]["value"]
        figures["trace_overhead_frac"] = {"value": (b - a) / a, "unit": "ratio"}
        for name, v in figures.items():
            rows.append((w, name, v["value"], v["unit"]))
    for w, name, v, unit in rows:
        print(f"{w:8s} {name:34s} {v:14.4f} {unit}")
    bad = [r for r in rows if r[1] == "error_rate" and r[2] != 0]
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="input scale factor (default: per workload)")
    ap.add_argument("--setups", type=int, default=None,
                    help="set-ups per run (default 3)")
    ap.add_argument("--keep-work", action="store_true")
    ap.add_argument("--all", action="store_true")
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("library sources (src/main/scala/graft) not found: run from "
                 "a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    cp = build()
    if a.all:
        sys.exit(run_all(cp, a.seed, seconds))
    if not a.workload:
        ap.error("--workload is required without --all")
    result = run_workload(cp, a.workload, a.seed, seconds, a.trace == 1,
                          a.sf, a.setups, a.keep_work)
    print(json.dumps(contract_line(result, spec, a.workload, a.trace == 1)),
          flush=True)


if __name__ == "__main__":
    main()
