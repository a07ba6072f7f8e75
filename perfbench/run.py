#!/usr/bin/env python3
"""Benchmark runner for the lambda pipeline.

Run from the repository root:

    python3 perfbench/run.py --workload batch_cycle --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload speed_serve --seed 1 --seconds 8 --trace 1
    python3 perfbench/run.py --workload batch_cycle --seed 1 --seconds 8 --smoke
    python3 perfbench/run.py --selftest

It compiles the program (src/main/scala) and the benchmark's own classes
(perfbench/src) with the Scala compiler shipped in the Spark jar
directory named by build.sbt, caches the classes under perfbench/out,
launches one JVM with build.sbt's javaOptions and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
Each run's full record (metrics, validity facts, errors) is appended to
perfbench/out/results.jsonl; logs go to perfbench/out/logs.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
RESULTS = os.path.join(OUT, "results.jsonl")
RUN_LIMIT_S = 170  # every run ends within 180 s, the build excepted
WORKLOADS = ("batch_cycle", "speed_serve")


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_settings():
    """Spark jar directory and JVM options, as build.sbt ships them."""
    sbt_path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt_path) or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("run from the repository root: build.sbt and src/main/scala are required")
    sbt = open(sbt_path, encoding="utf-8").read()
    jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    jopts = sbt[sbt.find("javaOptions ++="):]
    if not jars or not opens or "javaOptions ++=" not in sbt:
        fail("cannot read the jar directory and javaOptions from build.sbt")
    args = []
    for pkg in re.findall(r'"([\w.]+/[\w.]+)"', opens.group(1)):
        args += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    args += re.findall(r'"(-D[^"$]+)"', jopts)
    return jars.group(1), args


def heap_flag():
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test formula)."""
    g = 2
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"-Xmx{min(max(g, 2), 8)}g"


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def build(jars):
    files = sources()
    h = hashlib.sha256()
    h.update(subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    root = os.path.join(OUT, "build")
    classes = os.path.join(root, stamp)
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, stamp
    os.makedirs(root, exist_ok=True)
    for old in glob.glob(os.path.join(root, "*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    log = open(os.path.join(OUT, "build.log"), "w")
    rc = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                         "-d", tmp, "-classpath", cp] + files,
                        stdout=log, stderr=subprocess.STDOUT, timeout=850).returncode
    if rc != 0:
        fail(f"compilation failed, see {log.name}", 3)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, classes)
    print(f"[perfbench] built {len(files)} sources in {time.time() - t0:.0f} s", file=sys.stderr)
    return classes, stamp


def launch(jars, jvm_args, classes, stamp, args, deadline, tag):
    """Run the benchmark JVM once; returns its result record or None."""
    run_dir = os.path.join(OUT, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    out_file = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cmd = (["java", heap_flag(), f"-Djava.io.tmpdir={run_dir}/tmp"] + jvm_args +
           ["-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.perfbench.Main",
            "--work", os.path.join(run_dir, "work"), "--out", out_file] + args)
    log_path = os.path.join(OUT, "logs", f"{tag}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            print(f"[perfbench] {tag}: timed out, see {log_path}", file=sys.stderr)
            rc = None
    try:
        with open(out_file) as fh:
            record = json.load(fh) if rc == 0 else None
    except (OSError, ValueError):
        record = None
    if record is None and rc is not None:
        print(f"[perfbench] {tag}: exit {rc} without a result, see {log_path}", file=sys.stderr)
    trace = os.path.join(run_dir, "work", "trace.jsonl")
    if record is not None and os.path.isfile(trace):
        shutil.copy(trace, os.path.join(OUT, "logs", f"{tag}.trace.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return record


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def save(record, opts, stamp):
    record = dict(record, seed=opts.seed, seconds=opts.seconds, trace=opts.trace,
                  smoke=opts.smoke, build=stamp, commit=commit(), nproc=os.cpu_count(),
                  heap=heap_flag(), time=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()))
    with open(RESULTS, "a") as fh:
        fh.write(json.dumps(record) + "\n")


# Per-layer metrics of a layer the workload never calls. They are reported
# as the 0 they are; any other metric missing from a traced run fails it.
UNTOUCHED = {
    "batch_cycle": ["broker.publish_us", "broker.lag_rows", "gen.late_ms",
                    "ingest.batch_p50_ms", "ingest.batch_p90_ms",
                    "analysis.batch_p50_ms", "analysis.batch_p90_ms",
                    "stream.batches", "stream.overrun_share", "stream.plan_ms",
                    "stream.exec_ms", "stream.commit_ms", "analysis.state_rows",
                    "analysis.state_mb", "snapshot.refreshes", "http.stress_p50_ms",
                    "http.stress_tail_ms", "http.stress_tail_pct", "http.stress_n",
                    "http.failed"],
    "speed_serve": ["sources.input_mb", "memo.build_s", "memo.entries", "memo.mb",
                    "operators.Relational.ms", "operators.Anomaly.ms", "operators.Dedup.ms",
                    "operators.Similarity.ms", "operators.TextAnalysis.ms", "query.plan_ms",
                    "query.exec_ms", "analysis.full_ms", "refit.ms", "refit.cpu_ms",
                    "refit.jobs", "refit.models"],
}


def per_layer_names():
    return [(m["name"], m["unit"]) for m in json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny sizes, for a quick end-to-end check")
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    opts = ap.parse_args()
    if not opts.selftest and not opts.workload:
        ap.error("--workload is required")
    jars, jvm_args = build_settings()
    os.makedirs(OUT, exist_ok=True)
    classes, stamp = build(jars)
    deadline = time.time() + RUN_LIMIT_S

    if opts.selftest:
        run_dir = os.path.join(OUT, "runs", f"selftest-{os.getpid()}")
        os.makedirs(run_dir, exist_ok=True)
        env = dict(os.environ, SPARK_LOCAL_DIRS=run_dir)
        cmd = (["java", heap_flag(), f"-Djava.io.tmpdir={run_dir}"] + jvm_args +
               ["-cp", f"{classes}:{os.path.join(jars, '*')}", "graft.perfbench.Main", "--selftest"])
        rc = subprocess.run(cmd, cwd=ROOT, env=env, stderr=subprocess.DEVNULL, timeout=RUN_LIMIT_S).returncode
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(rc)

    args = ["--workload", opts.workload, "--seed", str(opts.seed), "--seconds", str(opts.seconds)]
    if opts.smoke:
        args.append("--smoke")
    tag = f"{opts.workload}-s{opts.seed}-t{opts.trace}"
    record = launch(jars, jvm_args, classes, stamp, args + ["--trace", str(opts.trace)], deadline, tag)
    if record is None:
        sys.exit(1)
    save(record, opts, stamp)
    for e in record.get("errors", []):
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    validity = record.get("validity") or {}
    print("[perfbench] validity " + json.dumps(validity), file=sys.stderr)
    if opts.trace:
        metrics = dict(record.get("layers") or {})
        for k in ("host.steal_share", "gen.late_ms"):
            metrics[k] = {"value": validity[k], "unit": "share" if "share" in k else "ms"}
        names = per_layer_names()
        untouched = set(UNTOUCHED[opts.workload])
        missing = [n for n, _ in names if n not in metrics and n not in untouched]
        if missing:
            fail(f"traced run did not produce {missing}", 1)
        metrics = {n: metrics[n] if n in metrics else {"value": 0.0, "unit": u} for n, u in names}
    else:
        metrics = record["e2e"]
    print(json.dumps({"correct": bool(record["correct"]), "attempted": int(record["attempted"]),
                      "failed": int(record["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
